package graftbench

import graft.functions.Dates
import graft.model.{PipelineEvent, Schemas}
import graft.streaming.Publication
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random

/** publish_stream — the standing publication stream under load that
  * arrives on its own schedule.
  *
  * Open loop at one fixed rate: a generator thread drops one JSON file
  * of 20 `file_obj` rows every 1/rate seconds into the stream's input
  * directory (written beside it, then moved in atomically), on a
  * schedule that does not wait for the system. `Publication.start` runs
  * with a 2 s trigger and `maxAttempts = 3`. The schedule starts 100 ms
  * after a trigger boundary, so drops meet the trigger clock at the same
  * phase in every run. One drop in five carries
  * two rows without a date: they are re-enqueued twice and then
  * quarantined.
  *
  * A drop's latency runs from its due time to the commit of the
  * micro-batch that published or quarantined its last row (the batch's
  * trigger start plus its `triggerExecution` time). Each window starts a
  * fresh query on fresh directories; its first drop, sent before the
  * window starts, warms the query and is not measured. */
final class PublishStream(seed: Long, work: Path, rateOpt: Option[Double])
  extends Workload {
  import PublishStream._

  private val rate = rateOpt.getOrElse(DefaultRate)
  private val ev = PipelineEvent(collection = "bench_s")
  private var windows = 0
  private var ready: Option[Stream] = None

  /** One generated row: its url and the dates it must be published
    * with, or None when it must end in quarantine. */
  final case class Row(url: String, dates: Option[Truth.Dates]) {
    def id: String = Truth.stem(url)
  }
  final case class Drop(k: Int, rows: Seq[Row])

  private def drops(w: Int, n: Int): Seq[Drop] = {
    val rnd = new Random(seed * 1000003L + w)
    (0 until n).map { k =>
      // every fifth drop carries two undateable rows: the median
      // drop then never waits for retries and the slow tail always does
      val badRows = if (k % 5 == 2) Truth.pick(rnd, RowsPerDrop - 1, 2.0 / (RowsPerDrop - 1))
        .map(_ + 1) else Set.empty[Int]
      Drop(k, (0 until RowsPerDrop).map { r =>
        val bad = badRows(r)
        val url = f"s3://bench-stream/w$w/d$k%05d/w${w}d$k%05dr$r%02d" +
          (if (bad) "" else Truth.dateToken(rnd, r)) + ".tif"
        Row(url, Truth.dates(url, None))
      })
    }
  }

  private def json(d: Drop): String = d.rows.map(r =>
    s"""{"collection":"bench_s","remote_fileurl":"${r.url}","upload":false,""" +
      s""""user_shared":false,"ingest":true,"cogify":false,"attempt":0}""")
    .mkString("", "\n", "\n")

  /** A running query with its directories and progress log. */
  final class Stream(val w: Int) {
    val dir: Path = work.resolve(s"stream$w")
    val inDir: Path = Files.createDirectories(dir.resolve("in"))
    val stage: Path = Files.createDirectories(dir.resolve("stage"))
    val catDir: Path = dir.resolve("catalog")
    val qDir: Path = dir.resolve("quarantine")
    val progress = new ConcurrentLinkedQueue[Progress]()
    private val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        progress.add(Progress(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
          p.numInputRows, d.getOrElse("latestOffset", 0L)))
      }
    }
    var query: StreamingQuery = _

    def start(spark: SparkSession): Unit = {
      spark.streams.addListener(listener)
      query = Publication.start(spark, ev, inDir.toString, catDir.toString,
        qDir.toString, dir.resolve("checkpoint").toString, MaxAttempts, Trigger)
    }

    def send(name: String, text: String): Long = {
      val tmp = Fs.write(stage.resolve(name), text)
      Files.move(tmp, inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }

    /** Rows the query has read so far (re-enqueued rows count again). */
    def rowsRead: Long = progress.asScala.map(_.rows).sum

    /** Wait until the query has read at least `n` rows and then stayed
      * idle, with no trigger running and no new input, for one whole
      * trigger interval (so a trigger has looked and found nothing):
      * re-enqueued rows arrive as new files after the batch that wrote
      * them, and the progress row counts alone can end the wait early. */
    def drain(n: Long, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var idleSince = Long.MaxValue
      while (System.currentTimeMillis() < deadline && query.exception.isEmpty &&
        System.currentTimeMillis() - idleSince < TriggerMs + 200) {
        val st = query.status
        val now = System.currentTimeMillis()
        if (rowsRead < n || st.isTriggerActive || st.isDataAvailable) idleSince = Long.MaxValue
        else if (idleSince == Long.MaxValue) idleSince = now
        Thread.sleep(20)
      }
      System.currentTimeMillis() - idleSince >= TriggerMs + 200
    }

    def stop(spark: SparkSession): Unit = {
      query.stop()
      spark.streams.removeListener(listener)
    }
  }

  private def rowsToRead(ds: Seq[Drop]): Long =
    ds.map(_.rows.map(r => if (r.dates.isEmpty) MaxAttempts else 1).sum.toLong).sum

  /** Start a query and push one warm-up drop through it. */
  private def startStream(spark: SparkSession): Stream = {
    val s = new Stream(windows)
    windows += 1
    s.start(spark)
    val warm = drops(-1 - s.w, 1).head
    s.send("warm.json", json(warm))
    require(s.drain(rowsToRead(Seq(warm)), 90000L), "warm-up drop not processed")
    s
  }

  def warmUp(spark: SparkSession): Unit = ready = Some(startStream(spark))

  def window(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Window = {
    val s = ready.getOrElse(startStream(spark))
    ready = None
    val ds = drops(s.w, math.max(1, math.round(rate * seconds).toInt))
    val texts = ds.map(json)
    val warmRows = s.rowsRead
    val warmBatches = s.progress.asScala.map(_.batchId).toSet
    val periodMs = 1000.0 / rate
    val sent = new Array[Long](ds.size)
    val cpu0 = Host.cpuNs
    val firstDue = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + 100
    val due = ds.indices.map(k => firstDue + math.round(k * periodMs))
    val generator = new Thread(() => ds.indices.foreach { k =>
      val wait = due(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      sent(k) = s.send(f"drop$k%05d.json", texts(k))
    }, "graftbench-generator")
    generator.start()
    generator.join()
    val genEnd = System.currentTimeMillis()
    val drained = s.drain(warmRows + rowsToRead(ds), 60000L)
    val end = System.currentTimeMillis()
    val cpuMs = (Host.cpuNs - cpu0) / 1e6
    s.stop(spark)
    if (!drained) System.err.println("[graftbench] stream did not drain in 60 s")

    val batches = s.progress.asScala.filterNot(p => warmBatches(p.batchId))
      .map(p => p.batchId -> p).toMap
    val published = spark.read.parquet(s.catDir.toString)
      .select(col("id"), col("batch").cast("long"), col("datetime"), col("start_datetime"),
        col("end_datetime")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), Truth.Dates(
        Option(r.getTimestamp(3)).map(_.getTime), Option(r.getTimestamp(4)).map(_.getTime),
        Option(r.getTimestamp(2)).map(_.getTime))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val quarantined =
      if (!Files.exists(s.qDir)) Map.empty[String, Seq[Long]]
      else spark.read.json(s.qDir.toString)
        .select(col("remote_fileurl"), col("batch").cast("long")).collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }

    def commitMs(b: Long): Option[Long] = batches.get(b).map(_.commitMs)
    val results = ds.map { d =>
      val landed = d.rows.map { r =>
        val pubs = published.getOrElse(r.id, Nil)
        val qs = quarantined.getOrElse(r.url, Nil)
        val once = r.dates match {
          case Some(dt) => pubs.map(_._2) == Seq(dt) && qs.isEmpty
          case None => pubs.isEmpty && qs.size == 1
        }
        (once, (pubs.map(_._1) ++ qs).headOption.flatMap(commitMs),
          if (r.dates.isDefined) pubs.headOption.map(_._1) else None)
      }
      val ok = landed.forall(l => l._1 && l._2.isDefined)
      if (!ok) System.err.println(s"[graftbench] drop ${d.k} not ok: " +
        d.rows.zip(landed).filterNot(x => x._2._1 && x._2._2.isDefined).take(2).map {
          case (r, l) => s"${r.url} want ${r.dates} published ${published.get(r.id)} " +
            s"quarantined ${quarantined.get(r.url)} commit ${l._2}"
        }.mkString("; "))
      val latency = (if (ok) landed.flatMap(_._2).max else end) - due(d.k)
      val pickedUp = landed.flatMap(_._3).flatMap(batches.get).map(_.startMs)
        .reduceOption(_ min _)
      (Req("drop", latency.toDouble, d.rows.size, ok), pickedUp)
    }
    val reqs = results.map(_._1)
    val lateMs = ds.indices.map(k => (sent(k) - due(k)).toDouble)
    val lastCommit = batches.values.map(_.commitMs).maxOption.getOrElse(end)
    val planted = ds.map(_.rows.count(_.dates.isEmpty)).sum
    val queueWait = ds.indices.flatMap(k => results(k)._2.map(t => (t - due(k)).toDouble))
    val backlog = ds.indices.count(k => due(k) <= genEnd &&
      results(k)._2.forall(_ > genEnd))

    tracer.foreach { t =>
      batches.values.foreach { p =>
        t.record("streaming.batch_ms_p50", (p.commitMs - p.startMs).toDouble)
        t.record("streaming.latest_offset_ms", p.latestOffsetMs.toDouble)
      }
      t.record("streaming.batches", batches.size.toDouble)
      t.record("streaming.queue_wait_ms_p50", Stats.median(queueWait))
      t.record("streaming.retry_rows", (planted * (MaxAttempts - 1)).toDouble)
      t.record("streaming.backlog_files_end", backlog.toDouble)
      t.record("operators.quarantine_ratio",
        quarantined.size.toDouble / math.max(1, planted))
      t.record("operators.files_written",
        (Fs.count(s.catDir, ".parquet") + Fs.count(s.qDir, ".json")).toDouble / batches.size)
      t.request(-1L, "probe") {
        t.span("expr.extract_dates", probe = true) {
          spark.read.schema(Schemas.fileObj).json(s.inDir.toString)
            .select(Dates.extractDates(col("remote_fileurl"), ev.datetimeRange))
            .write.format("noop").mode(SaveMode.Overwrite).save()
        }
      }
    }
    Window(reqs, (lastCommit - firstDue) / 1000.0, cpuMs, reqs.map(_.latencyMs),
      Map("rate_per_s" -> rate, "trigger" -> Trigger, "batches" -> batches.size,
        "generator_late_ms_p50" -> Stats.median(lateMs),
        "generator_late_ms_max" -> lateMs.max,
        "backlog_files_end" -> backlog, "planted_bad_rows" -> planted,
        "drained" -> drained))
  }
}

object PublishStream {
  val RowsPerDrop = 20
  val MaxAttempts = 3
  val TriggerMs = 2000L
  val Trigger = s"$TriggerMs milliseconds"
  /** Drops per second; see perfbench/README.md for how it was chosen. */
  val DefaultRate = 3.0

  final case class Progress(batchId: Long, startMs: Long, commitMs: Long,
                            rows: Long, latestOffsetMs: Long)
}
