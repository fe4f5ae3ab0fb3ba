package graft

import org.apache.spark.sql.DataFrame

/** The one materialization path for reuse points.
  *
  * A reuse point is an intermediate frame computed once and read by
  * two or more consumers (count tables, a fingerprint catalog,
  * exact-dedup survivors, an iteration's rank state). Every one in the
  * library is written `df.materialized("site", eager)`, where `site` is
  * a stable per-call-site name. Eager computes the frame in its own job
  * at the call; lazy leaves it to the first consumer's job, whose
  * blocks later consumers read (a concurrent job waits on the first
  * writer of a block in one JVM; on other executors it computes the
  * block again).
  *
  * The default [[LocalCheckpoint]] is `df.localCheckpoint(eager)`: it
  * keeps the frame's partition layout, but a lost block cannot be
  * rebuilt. A cluster deployment installs [[PersistedTable]] once at
  * startup, so every reuse point is a parquet table, computed exactly
  * once and readable after executor loss. The rows are the same, the
  * plans are not: a read-back table has no partition layout, so
  * consumers that relied on one (PageRank's `degEdges`, the IVF cell
  * assignment) shuffle again.
  *
  * A frame `persist`ed and `unpersist`ed inside one operator (Dedup's
  * shingle frame, the connected-components edges, a publication
  * batch) is not a reuse point: it keeps its lineage, so Spark
  * rebuilds a lost block itself.
  */
object Materializer {

  trait Strategy extends Serializable {
    /** Return a frame semantically identical to `df` that downstream
      * consumers can evaluate repeatedly without recomputing its
      * lineage; `eager` asks for the work now, not at first use. */
    def materialize(df: DataFrame, site: String, eager: Boolean): DataFrame
  }

  /** Default: a local checkpoint with the call's eagerness. */
  object LocalCheckpoint extends Strategy {
    override def materialize(df: DataFrame, site: String,
                             eager: Boolean): DataFrame =
      df.localCheckpoint(eager)
  }

  /** Cluster strategy: write the reuse point as a parquet table under
    * `dir/<site>` and read it back; the write is always eager, so
    * `eager` is ignored. `overwrite` semantics make the directory
    * job-scoped: concurrent jobs each get their own `dir`.
    *
    * Two invocations of the SAME site in one process (`unigramNll` of
    * two corpora unioned, or successive iterations' rank states) must
    * not share a table: the read-back is a LAZY parquet scan that lists
    * files at action time, so an overwrite would silently serve the
    * second invocation's rows to the first consumer. Each invocation
    * therefore gets its own table — `<site>`, `<site>_2`, … — via a
    * per-site counter. */
  final case class PersistedTable(dir: String) extends Strategy {
    @transient private lazy val invocations =
      new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    override def materialize(df: DataFrame, site: String,
                             eager: Boolean): DataFrame = {
      val n: Int = invocations.merge(site, Int.box(1),
        (a: Integer, b: Integer) => Int.box(a + b))
      val path = if (n == 1) s"$dir/$site" else s"$dir/${site}_$n"
      df.write.mode("overwrite").parquet(path)
      df.sparkSession.read.parquet(path)
    }
  }

  @volatile private var current: Strategy = LocalCheckpoint

  /** Install a strategy process-wide (a deployment does this once at
    * startup). Tests restore with [[reset]] in a finally. */
  def set(s: Strategy): Unit = { current = s }

  def reset(): Unit = { current = LocalCheckpoint }

  /** `df.groupBy(...).agg(...).materialized("site")`. */
  implicit final class MaterializeOps(private val df: DataFrame)
      extends AnyVal {
    def materialized(site: String, eager: Boolean = false): DataFrame =
      current.materialize(df, site, eager)
  }
}
