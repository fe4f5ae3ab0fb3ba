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

  /** Runs `f` with SQL confs set, restoring the previous values: the
    * session is shared, so a suite must never leave a key behind. */
  def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
