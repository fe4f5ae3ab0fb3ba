package graft

import graft.functions.{Dates, Geo}
import graft.llm.{Dedup, Gopher, GroupSimilarity, Similarity, Text}
import graft.pipeline.{EventJson, Runner}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.functions._
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

  test("Scala helpers reach their kernels on a session nobody registered") {
    // a new session shares the context but not the function registry
    val fresh = spark.newSession()
    def rows(s: SparkSession): Seq[Row] = {
      val docs = s.createDataFrame(Seq(
        ("g1", "MOD09_2020-03-14_tile.tif",
          "The cat sat on the mat and then the cat went to sleep."),
        ("g2", "S2_20190701.tif",
          "A quick brown fox jumps over the lazy dog near the river.")))
        .toDF("g", "f", "text")
      docs.select(
        Dates.extractDates(col("f"), Option.empty[String]),
        Geo.cmrGeometry(array(array(lit("1 2 3 4 5 6 1 2"))),
          lit(null).cast("array<string>"), lit(false)),
        Dedup.simhash(col("text")),
        Text.fingerprint(col("text")),
        Gopher.report(col("text")),
        Similarity.cosine(array(lit(1.0), lit(2.0)), array(lit(2.0), lit(1.0))))
        .orderBy("f").collect().toSeq ++
        GroupSimilarity.groupSignatures(docs, "g", "text", 16)
          .orderBy("group").collect().toSeq
    }
    assert(rows(fresh) == rows(spark))

    val csv = Files.createTempFile("fresh", ".csv")
    Files.writeString(csv, "s3_path\ns3://b/file_2020.tif\n")
    val ev = EventJson.parse(
      s"""{"collection": "c", "discovery": "inventory",
         | "inventory_url": "$csv"}""".stripMargin)
    assert(Runner.run(fresh, ev).items.count() == 1)

    // no helper registered the session on the way
    val err = intercept[AnalysisException](
      fresh.sql("SELECT extract_dates('file_2020.tif')").collect())
    assert(err.getMessage.contains("UNRESOLVED_ROUTINE"), err.getMessage)
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
