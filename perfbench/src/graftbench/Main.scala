package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** One benchmark run: generate the workload's inputs from the seed, set
  * up the engine, measure one untraced window, and with `--trace 1` a
  * second, traced window. Prints one `GRAFTBENCH {json}` line that
  * `perfbench/run.py` turns into the result object.
  *
  * `setup_s` runs from process start (`--t0-ms`, taken by the launcher
  * just before it starts the JVM) to the first timed request, minus the
  * time spent generating inputs. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path, t0Ms: Long,
                        rate: Option[Double])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
      need("--t0-ms").toLong, m.get("--rate").map(_.toDouble))
  }

  /** `graft.Main`'s session config, at most 4 task threads, with every
    * scratch directory inside the run's work directory. */
  def session(work: Path): SparkSession = {
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val genStart = System.nanoTime()
    val wl: Workload = a.workload match {
      case "stac_ingest" => new StacIngest(a.seed, a.work)
      case "cogify_rasters" => new CogifyRasters(a.seed, a.work)
      case "publish_stream" => new PublishStream(a.seed, a.work, a.rate)
      case "clean_corpus" => new CleanCorpus(a.seed, a.work)
      case other => sys.error(s"unknown workload $other")
    }
    val genS = (System.nanoTime() - genStart) / 1e9

    val spark = session(a.work)
    try {
      graft.GraftFunctions.register(spark)
      wl.warmUp(spark)
      val setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0 - genS

      val hostBefore = Host.sample(spark)
      val windowStart = System.nanoTime()
      val untraced = wl.window(spark, a.seconds, None)
      val windowS = (System.nanoTime() - windowStart) / 1e9
      val hostAfter = Host.sample(spark)
      val traced =
        if (a.trace) {
          val tracer = new Tracer(spark, a.work.getParent.getParent
            .resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl"))
          try Some(wl.window(spark, a.seconds, Some(tracer)) -> tracer)
          finally tracer.close()
        } else None

      val windows = untraced +: traced.map(_._1).toSeq
      val attempted = windows.map(_.attempted).sum
      val failed = windows.map(_.failed).sum
      val metrics: Map[String, Double] = traced match {
        case None => untraced.endToEnd ++ Map(
          "setup_s" -> setupS, "peak_rss_mb" -> Host.peakRssMb)
        case Some((tw, tracer)) => tracer.layerMetrics(tw) ++ Map(
          "trace.overhead_frac" -> (1.0 - tw.rowsPerS / untraced.rowsPerS),
          "trace.untraced_latency_ms" -> untraced.latencyP50,
          "trace.staged_ms" -> tracer.stagedMsP50)
      }
      val context = untraced.context ++ Map(
        "gen_s" -> genS, "setup_s" -> setupS, "window_wall_s" -> windowS,
        "host" -> Map("before" -> hostBefore, "after" -> hostAfter,
          "window_steal_frac" -> Host.stealFrac(hostBefore, hostAfter)),
        "trace_file" -> traced.map(_._2.spanFile.toString).orNull)
      println("GRAFTBENCH " + Json.render(Map(
        "correct" -> (failed == 0 && untraced.attempted > 0),
        "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics,
        "context" -> context)))
    } finally spark.stop()
  }
}
