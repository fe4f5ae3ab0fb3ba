package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Physical-plan regression guards: the scale properties the engine
  * promises (broadcast dims, no cartesian products, pruned scans,
  * pushed filters) asserted on the actual executed plans. */
class PlanSpec extends SparkSuite {
  import PlanSpec._

  private val dir = "/root/testdata/sf0.001"

  /** One line per registry query, sorted: the counts of
    * [[PlanSpec.shape]] and, for a vetted non-equi join, a `why`. */
  private val shapeFile = Paths.get("PLAN_SHAPE.json")
  private val seenFile = Paths.get("target/plan_shape.json")
  private val mapper = new ObjectMapper()
  private val counts: Seq[(String, Shape => Int)] = Seq(
    "cartesian" -> (_.cartesian), "exchanges" -> (_.exchanges),
    "kernels" -> (_.kernels), "lambdas" -> (_.lambdas),
    "nested_loop" -> (_.nestedLoop), "reuse_points" -> (_.reusePoints))

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("star-schema dims broadcast; no sort-merge for small dims") {
    val p = planOf("q_j2_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("PlanAudit prints the same text for two plannings of one query") {
    for (q <- Seq("q_ngram_jaccard", "q_text_quality", "q_ann_lsh",
        "q_domain_stats")) {
      val a = PlanAudit.plan(spark, q, dir)
      val b = PlanAudit.plan(spark, q, dir)
      assert(a == b, s"$q plan text differs between runs")
      assert(!"#[0-9]|plan_id=[0-9]|Lambda\\$[0-9]|RDD\\[[0-9]".r.findFirstIn(a)
        .isDefined, s"$q plan keeps a per-run token:\n$a")
    }
  }

  test("parquet scans prune columns (ReadSchema subsets)") {
    val p = SparkEntry.queries("q_a6_counts")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // only the group key is read, not the whole orders schema
    assert(p.contains("ReadSchema: struct<o_orderpriority:string>"), p)
  }

  test("anti-join stays a broadcast/shuffle hash join, never nested-loop") {
    val p = planOf("q_j3_anti_join")
    assert(p.contains("LeftAnti"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("brute-force ANN broadcasts the query side only") {
    val p = planOf("q_ann_top1")
    // the corpus side must not be broadcast (it is the big side)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("CartesianProduct")) // cross join is intentional here
    assert(p.contains("BuildRight") || p.contains("Broadcast"), p.take(400))
  }

  test("no window partitioned by a content-derived key; the " +
    "inverted-index ranking window is pre-capped") {
    // the r10 verdict's three unsplittable windows, pinned gone: a
    // window partitioned by a fingerprint/span hash or a cluster id
    // serializes a boilerplate/viral key into ONE task AQE cannot
    // split — these shapes must stay map-side-combinable aggregates
    assert(!planOf("q_winnow_incremental").contains(
      "windowspecdefinition(fp_hash"), "fp_hash window is back")
    assert(!planOf("q_winnow_fp").contains(
      "windowspecdefinition(fp_hash"), "fp_hash window is back")
    for (q <- Seq("q_dup_clusters", "q_dedup_best"))
      assert(!planOf(q).contains("windowspecdefinition(cluster_id"),
        s"$q sizes clusters through a cluster_id window again")
    for (q <- Seq("q_repeated_spans", "q_span_removal"))
      assert(!planOf(q).contains("windowspecdefinition(span_hash"),
        s"$q regrew a span_hash window")
    // the per-term posting rank window is allowed ONLY because the
    // bounded-heap pre-pass (MapPartitions) caps its input at
    // maxPostings rows per term per partition
    val inv = planOf("q_inverted_index")
    assert(inv.contains("windowspecdefinition(term"))
    assert(inv.contains("MapPartitions"),
      "inverted index lost its bounded-heap pre-pass")
    // the per-source token-budget window is allowed ONLY because the
    // per-partition budget pre-filter (MapPartitions over a local
    // sort) caps its input: real LLM mixes have one source at ~50% of
    // the corpus, which would otherwise serialize into one window task
    val cur = planOf("q_curate_pipeline")
    assert(cur.contains("windowspecdefinition(source"))
    assert(cur.contains("MapPartitions"),
      "curate budget window lost its per-partition budget pre-pass")
  }

  test("full sweep: every query's plan shape equals PLAN_SHAPE.json") {
    // Exact in both directions, so the file always describes its
    // commit: a change that adds or removes an exchange, kernel or
    // lambda copies target/plan_shape.json over the file in the same
    // commit. A cartesian or nested-loop join needs a `why`: a
    // nested-loop against a SINGLE-ROW build (a 1-row stats or
    // merged-sketch aggregate crossed back over the data) is O(n)
    // work, not quadratic; any other non-equi join is a scale
    // regression. A why on an entry without such a join is stale.
    // A reuse point's lineage is cut from the query's plan, so each
    // `materialized(...)` site the query builds adds its own plan's
    // counts to the query's line.
    val file = mapper.readTree(shapeFile.toFile)
    val listed = file.fieldNames.asScala.toSet
    val why = (q: String) => Option(file.get(q)).flatMap(e =>
      Option(e.get("why"))).map(_.asText)
    val reuse = new ReuseShapes
    Materializer.set(reuse)
    val seen = try SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val own = shape(SparkEntry.queries(q)(spark, dir))
      q -> reuse.drain().foldLeft(own)(_ + _)
    } finally Materializer.reset()
    val text = seen.map { case (q, s) =>
      val fields = counts.map { case (k, f) => s""""$k": ${f(s)}""" } ++
        why(q).map(w => s""""why": ${mapper.writeValueAsString(w)}""")
      s"""  "$q": {${fields.mkString(", ")}}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.createDirectories(seenFile.getParent)
    Files.writeString(seenFile, text)

    val registry = seen.map(_._1).toSet
    val problems =
      (registry -- listed).toSeq.sorted.map(q => s"$q: not in the file") ++
      (listed -- registry).toSeq.sorted.map(q => s"$q: not a registry query") ++
      seen.filter { case (q, _) => listed(q) }.flatMap { case (q, s) =>
        counts.flatMap { case (k, f) =>
          val want = file.get(q).path(k).asInt(-1)
          if (want == f(s)) None
          else Some(s"$q: $k $want in the file, ${f(s)} planned")
        }
      } ++
      seen.collect {
        case (q, s) if s.cartesian + s.nestedLoop > 0 && why(q).isEmpty =>
          s"$q: cartesian/nested-loop join without a why"
        case (q, s) if s.cartesian + s.nestedLoop == 0 && why(q).nonEmpty =>
          s"$q: a why but no cartesian/nested-loop join"
      }
    assert(problems.isEmpty, problems.mkString(
      s"plan shapes differ from $shapeFile (planned: $seenFile):\n",
      "\n", ""))
    assert(Files.readString(shapeFile) == text,
      s"$shapeFile is not in the form the sweep writes; copy $seenFile")
  }

  test("J1 single-agg shape: the fused native expression, no join, " +
    "one keyed exchange") {
    val p = planOf("q_j1_multi_asset")
    // the per-row triple runs as ONE fused expression (r13)
    assert(p.contains("multiassetpartsexpr"), p.take(600))
    // the old groups-then-join-back shape is gone: no join operator of
    // any kind — ONE groupBy builds both the sibling map and the
    // data-row bag
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin",
        "BroadcastHashJoin", "CartesianProduct",
        "BroadcastNestedLoopJoin"))
      assert(!p.contains(j), s"q_j1 grew a $j back")
  }
}

object PlanSpec {

  /** Operator counts of one physical plan: exchanges (shuffle,
    * broadcast, reused), expression nodes of a `graft.expr` class
    * (native kernels), HOF lambdas, cartesian products and broadcast
    * nested-loop joins; `reusePoints` counts the reuse-point plans
    * summed into it with `+`. */
  case class Shape(exchanges: Int, kernels: Int, lambdas: Int,
                   cartesian: Int, nestedLoop: Int, reusePoints: Int = 0) {
    def +(o: Shape): Shape = Shape(exchanges + o.exchanges,
      kernels + o.kernels, lambdas + o.lambdas, cartesian + o.cartesian,
      nestedLoop + o.nestedLoop, reusePoints + o.reusePoints)
  }

  /** Records the [[Shape]] of every reuse point built while installed
    * (one `reusePoints` each), then checkpoints as the default does. */
  final class ReuseShapes extends Materializer.Strategy {
    private val built = scala.collection.mutable.ArrayBuffer.empty[Shape]
    override def materialize(df: DataFrame, site: String,
                             eager: Boolean): DataFrame = {
      built += shape(df).copy(reusePoints = 1)
      Materializer.LocalCheckpoint.materialize(df, site, eager)
    }
    /** The shapes recorded since the last call. */
    def drain(): Seq[Shape] = { val s = built.toList; built.clear(); s }
  }

  /** The [[Shape]] of `df`'s physical plan, through the AQE wrapper's
    * initial plan and into subqueries. Every evaluated occurrence
    * counts: a kernel copied into a Filter below its Project counts
    * twice. A file scan's data filters are not evaluated there (they
    * only feed source pushdown; the Filter above runs them), so they
    * do not count. */
  def shape(df: DataFrame): Shape = {
    var exchanges, kernels, lambdas, cartesian, nestedLoop = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case _: Exchange | _: ReusedExchangeExec => exchanges += 1
        case _: CartesianProductExec => cartesian += 1
        case _: BroadcastNestedLoopJoinExec => nestedLoop += 1
        case _ =>
      }
      val evaluated = p match {
        case s: FileSourceScanExec => s.partitionFilters
        case _ => p.expressions
      }
      evaluated.foreach(_.foreach {
        case _: LambdaFunction => lambdas += 1
        case e if e.getClass.getPackageName == "graft.expr" => kernels += 1
        case _ =>
      })
      p.subqueries.foreach(walk)
      p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    Shape(exchanges, kernels, lambdas, cartesian, nestedLoop)
  }
}
