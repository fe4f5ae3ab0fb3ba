package graft

import org.apache.logging.log4j.{Level, LogManager}

/** The shared test session is built by [[GraftSession.builder]], so the
  * suite runs under the configuration every entry point requires. */
class GraftSessionSpec extends SparkSuite {

  test("the shared test session carries the GraftSession contract") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(sc.uiWebUrl.isEmpty)
    assert(sc.getConf.get("spark.log.level") == "WARN")
    assert(LogManager.getRootLogger.getLevel == Level.WARN)
    assert(sc.appName == "graft-tests")
  }
}
