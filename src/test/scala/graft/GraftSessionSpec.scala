package graft

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import org.apache.logging.log4j.{Level, LogManager}
import scala.jdk.CollectionConverters._

/** The shared test session is built by [[GraftSession.builder]], so the
  * suite runs under the configuration every entry point requires. */
class GraftSessionSpec extends SparkSuite {

  test("the shared test session carries the GraftSession contract") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // Spark's default ANSI mode: graft sets no key for it
    assert(!GraftSession.defaults(4, new org.apache.spark.SparkConf())
      .exists(_._1 == "spark.sql.ansi.enabled"))
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(sc.uiWebUrl.isEmpty)
    assert(sc.getConf.get("spark.log.level") == "WARN")
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
    assert(sc.appName == "graft-tests")
  }

  test("launch-conf master and shuffle width beat the builder's defaults") {
    // spark-submit hands --master/--conf to the driver as spark.*
    // system properties; a builder option would override them
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(java, "-Xmx512m") ++ opens ++ Seq(
      "-Dspark.master=local[2]", "-Dspark.sql.shuffle.partitions=3",
      "-cp", sys.props("java.class.path"), "graft.GraftSessionLaunchProbe")
    val out = scala.sys.process.Process(cmd).!!
    assert(out.linesIterator.toSeq.contains("launch-conf local[2] 3 UTC"), out)
  }
}

/** Child-JVM half of the launch-conf test: the master, shuffle width
  * and time zone of a session built by [[GraftSession.builder]]. */
object GraftSessionLaunchProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    try println(Seq("launch-conf", spark.sparkContext.master,
      spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.get("spark.sql.session.timeZone")).mkString(" "))
    finally spark.stop()
  }
}
