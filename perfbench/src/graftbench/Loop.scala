package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** One timed request: its latency, the input rows it covered and whether
  * its output matched the generator's ground truth. */
final case class Req(kind: String, latencyMs: Double, rows: Long, ok: Boolean)

/** What a measuring window produced. `busyS` is the wall time spent
  * inside timed requests (closed loops) or from the first due drop to the
  * last commit (the open loop); `cpuMs` is process CPU over the same
  * intervals. */
final case class Window(reqs: Seq[Req], busyS: Double, cpuMs: Double,
                        latenciesMs: Seq[Double],
                        extra: Map[String, Any] = Map.empty) {
  def attempted: Int = reqs.size
  def failed: Int = reqs.count(!_.ok)
  def rows: Long = reqs.map(_.rows).sum
  def okRows: Long = reqs.filter(_.ok).map(_.rows).sum
  def rowsPerS: Double = okRows / busyS
  def latencyP50: Double = Stats.median(latenciesMs)

  def endToEnd: Map[String, Double] = Map(
    "rows_per_s" -> rowsPerS,
    "latency_ms_p50" -> latencyP50,
    "cpu_ms_per_row" -> cpuMs / rows,
    "ok_frac" -> (attempted - failed).toDouble / attempted)

  /** Printed beside the metrics, not gated. The p90 appears only when at
    * least 100 latencies were sampled, so that ten lie beyond it. */
  def context: Map[String, Any] = Map(
    "requests" -> attempted, "failed" -> failed, "rows" -> rows,
    "busy_s" -> busyS, "latency_samples" -> latenciesMs.size,
    "latencies_ms" -> latenciesMs.map(x => math.round(x)),
    "latency_ms_p90" ->
      (if (latenciesMs.size >= 100) Stats.quantile(latenciesMs, 0.9) else null),
    "latency_ms_by_kind" -> reqs.groupBy(_.kind).map { case (k, rs) =>
      k -> Stats.median(rs.map(_.latencyMs)) }) ++ extra
}

/** A workload: generated inputs plus the calls one request makes. */
trait Workload {
  def warmUp(spark: SparkSession): Unit
  def window(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Window
}

/** A closed loop with one client: the next request starts only after the
  * previous one and its check have finished. Requests rotate through
  * `cycle` kinds, and a window always ends on a whole cycle so every kind
  * is sampled equally often. Resets and checks run between requests,
  * outside the timed intervals. */
abstract class ClosedLoop extends Workload {
  def cycle: Int
  def kind(i: Int): String
  def rows(i: Int): Long
  /** Untimed: reset the request's output directories. */
  def prepare(spark: SparkSession, i: Int): Unit
  /** Timed: the request itself, including its writes. */
  def run(spark: SparkSession, i: Int, tracer: Option[Tracer]): Unit
  /** Untimed: compare the request's output with ground truth. */
  def check(spark: SparkSession, i: Int): Boolean
  /** Request indices run once, untimed, as part of set-up. */
  def warmUpRequests: Seq[Int] = 0 until cycle

  def warmUp(spark: SparkSession): Unit = warmUpRequests.foreach { i =>
    prepare(spark, i)
    run(spark, i, None)
    require(check(spark, i), s"warm-up request ${kind(i)} failed its check")
  }

  def window(spark: SparkSession, seconds: Double,
             tracer: Option[Tracer]): Window = {
    val reqs = Vector.newBuilder[Req]
    var busyNs = 0L
    var cpuNs = 0L
    val start = System.nanoTime()
    var i = 0
    while (i % cycle != 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      prepare(spark, i)
      val c0 = Host.cpuNs
      val t0 = System.nanoTime()
      val ran =
        try {
          tracer match {
            case Some(t) => t.request(i, kind(i))(run(spark, i, tracer))
            case None => run(spark, i, None)
          }
          true
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graftbench] request $i (${kind(i)}) threw: $e")
            false
        }
      val t1 = System.nanoTime()
      cpuNs += Host.cpuNs - c0
      busyNs += t1 - t0
      val ok = ran && (try check(spark, i) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graftbench] check $i (${kind(i)}) threw: $e")
          false
      })
      if (!ok) System.err.println(s"[graftbench] request $i (${kind(i)}) not ok")
      reqs += Req(kind(i), (t1 - t0) / 1e6, rows(i), ok)
      i += 1
    }
    val rs = reqs.result()
    Window(rs, busyNs / 1e9, cpuNs / 1e6, rs.map(_.latencyMs))
  }
}

object Stats {
  /** Median as Python's `statistics.median` gives it. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
}

/** Process and host readings from the OS. */
object Host {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this process, in ns. */
  def cpuNs: Long = os.getProcessCpuTime

  /** `VmHWM` of this process, in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray(Array.empty[String]).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Aggregate `cpu` jiffies of `/proc/stat`: (steal, total). */
  private def stat(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (f(7), f.sum)
  }

  /** A fixed CPU canary, as `graft.Bench` times one: its spread across
    * runs says how contended the host was, without rerunning. */
  private def canaryS(spark: SparkSession): Double = {
    val q = "sum(xxhash64(id * 2654435761))"
    spark.range(5000000L).selectExpr(q).collect() // codegen and JIT untimed
    val t0 = System.nanoTime()
    spark.range(5000000L).selectExpr(q).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def sample(spark: SparkSession): Map[String, Any] = {
    val (steal, total) = stat()
    Map("canary_s" -> canaryS(spark), "steal_jiffies" -> steal,
      "total_jiffies" -> total, "loadavg" ->
        Files.readString(Paths.get("/proc/loadavg")).trim)
  }

  def stealFrac(before: Map[String, Any], after: Map[String, Any]): Double = {
    def l(m: Map[String, Any], k: String) = m(k).asInstanceOf[Long]
    val dt = l(after, "total_jiffies") - l(before, "total_jiffies")
    if (dt <= 0) 0.0
    else (l(after, "steal_jiffies") - l(before, "steal_jiffies")).toDouble / dt
  }
}

/** File helpers shared by the workloads. */
object Fs {
  def reset(dir: Path): Path = { delete(dir); Files.createDirectories(dir) }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def write(p: Path, text: String): Path = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }

  def write(p: Path, bytes: Array[Byte]): Path = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** Files under `dir` whose name ends with `suffix`. */
  def count(dir: Path, suffix: String): Int =
    if (!Files.exists(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.filter(x => x.getFileName.toString.endsWith(suffix)).count().toInt
      finally s.close()
    }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
