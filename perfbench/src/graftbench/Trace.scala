package graftbench

import org.apache.spark.graftbench.Bridge

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's own calls into each layer, plus a
  * `SparkListener` that charges every Spark job to the span that ran it.
  *
  * A span is named `<module>.<step>` after the engine module the call
  * enters (`sources.discover`, `operators.publish`, `llm.near_dup`...).
  * Spans are children of one `request` span and share its id. Jobs
  * started by a streaming query carry no span; they are charged to the
  * `streaming` layer, one call per micro-batch. Spans stay in memory and
  * are written as JSON lines when the tracer closes. */
final class Tracer(spark: SparkSession, val spanFile: Path) {
  import Tracer._

  private val sc = spark.sparkContext
  private val slots = sc.defaultParallelism
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var currentReq: Option[Span] = None
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private val calls = new ConcurrentHashMap[String, CallStats]()
  private val stageCall = new ConcurrentHashMap[Int, String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val call = p.flatMap(x => Option(x.getProperty(CallKey)))
        .orElse(p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
          .map(_ => "streaming:" + p.flatMap(x =>
            Option(x.getProperty("streaming.sql.batchId"))).getOrElse("?")))
        .getOrElse("other")
      val st = calls.computeIfAbsent(call, _ => new CallStats)
      st.synchronized {
        st.jobs += 1
        st.firstMs = math.min(st.firstMs, e.time)
      }
      e.stageIds.foreach(s => stageCall.put(s, call))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val call = Option(stageCall.get(e.stageId)).getOrElse("other")
      val st = calls.computeIfAbsent(call, _ => new CallStats)
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      st.synchronized {
        st.tasks += 1
        if (info.failed || info.killed) st.failedTasks += 1
        st.durations += info.duration.toDouble
        st.lastMs = math.max(st.lastMs, info.finishTime)
        m.foreach { tm =>
          st.cpuMs += tm.executorCpuTime / 1e6
          st.shuffleBytes += tm.shuffleReadMetrics.totalBytesRead +
            tm.shuffleWriteMetrics.bytesWritten
          st.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
          st.gcMs += tm.jvmGCTime.toDouble
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** The top-level span of one request. */
  def request[T](req: Long, kind: String)(f: => T): T = {
    val s = open("request", kind, None, req)
    currentReq = Some(s)
    try f finally { close(s); currentReq = None }
  }

  /** A child span of the current request around one call into a layer.
    * A `probe` span measures something the product path does not do
    * (a count, a kernel projected alone); it is left out of the staged
    * sum that is compared with the untraced request latency. */
  def span[T](name: String, probe: Boolean = false)(f: => T): T = {
    val parent = currentReq
    val s = open(name, if (probe) "probe" else "", parent.map(_.id),
      parent.map(_.req).getOrElse(-1L))
    sc.setLocalProperty(CallKey, s"${s.id}")
    try f finally {
      sc.setLocalProperty(CallKey, null)
      close(s)
    }
  }

  /** A per-request sample of a named layer metric. */
  def record(metric: String, value: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += value

  private def open(name: String, tag: String, parent: Option[Long],
                   req: Long): Span = {
    nextId += 1
    val s = Span(nextId, name, tag, System.nanoTime(), 0L, parent.getOrElse(0L), req)
    spans += s
    s
  }

  private def close(s: Span): Unit = s.endNs = System.nanoTime()

  /** Per request: the summed duration of the staged (non-probe) layer
    * spans; its median sits beside the untraced request latency. 0 when
    * the workload stages nothing (the stream's layers are its batches). */
  def stagedMsP50: Double = {
    val staged = spans.filter(s => s.parent != 0 && s.tag != "probe")
    if (staged.isEmpty) 0.0
    else Stats.median(staged.groupBy(_.req).values.map(_.map(_.ms).sum).toSeq)
  }

  /** Per-layer metrics of a traced window. Span times are self times:
    * request spans have children, layer spans do not. */
  def layerMetrics(w: Window): Map[String, Double] = {
    Bridge.drainListenerBus(sc)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val layerSpans = spans.filter(_.parent != 0)
    layerSpans.groupBy(_.name).foreach { case (name, ss) =>
      out(name + "_ms") = Stats.median(ss.groupBy(_.req).values
        .map(_.map(_.ms).sum).toSeq)
    }
    samples.foreach { case (k, v) => out(k) = Stats.median(v.toSeq) }
    val n = math.max(1, w.attempted).toDouble
    val spanById = layerSpans.map(s => s.id.toString -> s).toMap
    calls.asScala.toSeq.groupBy { case (call, _) =>
      spanById.get(call).map(_.name.takeWhile(_ != '.'))
        .getOrElse(call.takeWhile(_ != ':'))
    }.foreach { case (layer, cs) =>
      val st = cs.map(_._2)
      out(s"$layer.jobs") = st.map(_.jobs).sum / n
      out(s"$layer.tasks") = st.map(_.tasks).sum / n
      out(s"$layer.failed_tasks") = st.map(_.failedTasks).sum / n
      out(s"$layer.task_cpu_ms") = st.map(_.cpuMs).sum / n
      out(s"$layer.shuffle_bytes") = st.map(_.shuffleBytes.toDouble).sum / n
      out(s"$layer.spill_bytes") = st.map(_.spillBytes.toDouble).sum / n
      out(s"$layer.gc_ms") = st.map(_.gcMs).sum / n
      val skews = cs.flatMap { case (_, c) => c.skew }
      out(s"$layer.task_skew") = if (skews.isEmpty) 1.0 else Stats.median(skews)
      val wallMs = cs.map { case (call, c) =>
        spanById.get(call).map(_.ms).getOrElse(c.envelopeMs) }.sum
      out(s"$layer.busy_frac") =
        if (wallMs <= 0) 0.0 else st.map(_.taskMs).sum / (wallMs * slots)
    }
    out.toMap
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    val lines = spans.map(s => Json.render(Map("id" -> s.id, "name" -> s.name,
      "tag" -> s.tag, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "parent" -> s.parent, "req" -> s.req)))
    Fs.write(spanFile, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  private val CallKey = "graftbench.call"

  final case class Span(id: Long, name: String, tag: String, startNs: Long,
                        var endNs: Long, parent: Long, req: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  final class CallStats {
    var jobs = 0
    var tasks = 0
    var failedTasks = 0
    var cpuMs = 0.0
    var shuffleBytes = 0L
    var spillBytes = 0L
    var gcMs = 0.0
    var firstMs: Long = Long.MaxValue
    var lastMs: Long = 0L
    val durations = mutable.ArrayBuffer.empty[Double]
    def taskMs: Double = durations.sum
    def envelopeMs: Double = if (lastMs >= firstMs) (lastMs - firstMs).toDouble else 0.0
    /** Slowest task over the median task of the call. */
    def skew: Option[Double] =
      if (durations.size < 2) None
      else Some(durations.max / math.max(1.0, Stats.median(durations.toSeq)))
  }
}
