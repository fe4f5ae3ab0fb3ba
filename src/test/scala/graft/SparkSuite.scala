package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object SparkSuite {
  lazy val session: SparkSession = GraftSession.builder(4)
    .appName("graft-tests")
    .getOrCreate()
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSuite.session
    GraftFunctions.register(s)
    s
  }
}
