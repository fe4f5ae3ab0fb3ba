package graft

import graft.Materializer.MaterializeOps
import graft.functions.{Dates, Geo, Ids}
import graft.llm.{Dedup, Similarity, Text}
import graft.model.PipelineEvent
import graft.operators.{MultiAsset, StacBuilder, Transfer}
import graft.sources.Discovery
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** The operator-coverage query suite (SURVEY §2): each entry exercises
  * one implemented operator against the synthetic testdata tables and
  * is hash-compared by the driver against DuckDB running the paired
  * ANSI SQL in [[Queries.oracle]].
  *
  * Determinism rules: money/float aggregation goes through exact
  * decimal sums ([[Tables.moneySum]]), orderings are explicit and
  * keyed, map/array outputs are serialized as sorted `k=v` strings so
  * both engines produce byte-identical values.
  */
object Queries {
  import Tables.t

  private def dec(c: Column): Column = Tables.dec(c)

  /** Serialize a map column as a deterministic "k=v,k=v" string in map
    * entry order (entries are built sorted). */
  private def mapStr(m: Column): Column =
    array_join(transform(map_entries(m),
      e => concat(e.getField("key"), lit("="), e.getField("value"))), ",")

  // ------------------------------------------------------------------
  // P — projections / filters
  // ------------------------------------------------------------------

  /** P1 — anchored filename-regex filter (re.match semantics). */
  def p1RegexFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(Discovery.anchoredMatch(col("p_name"), "(small|red) .*"))
      .select(col("p_partkey"), col("p_name"))
      .orderBy("p_partkey")

  /** P2 — flag-predicate routing (`when().otherwise()` branch plan). */
  def p2FlagRouting(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("route",
        when(col("event_type") === "purchase" && col("value") > 50, "cogify")
          .when(col("event_type").isin("click", "view"), "ingest")
          .otherwise("skip"))
      .groupBy("route").agg(count(lit(1)).as("n"))
      .orderBy("route")

  /** P3/P4 — file_obj projection/enrichment with event constants. */
  def p3FileObjProjection(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      lit("parts").as("collection"),
      concat(lit("s3://data/"), regexp_replace(col("p_name"), " ", "_"),
        lit("_"), col("p_partkey").cast("string"), lit(".tif"))
        .as("remote_fileurl"),
      lit(true).as("upload"),
      lit(false).as("user_shared"),
      lit(true).as("ingest"),
      (col("p_retailprice") > 1500).as("cogify"))
      .orderBy("remote_fileurl")

  /** P6 — name sanitizer (F10). */
  def p6Sanitize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        Ids.sanitizeName(col("c_name")).as("sanitized"))
      .orderBy("c_custkey")

  /** P7 — extension-dispatch projection (`.ext` then `ext` then default). */
  def p7ExtDispatch(s: SparkSession, dir: String): DataFrame = {
    val ext = element_at(typedlit(Seq("tif", "nc", "hdr")),
      pmod(col("p_size"), lit(3)) + 1)
    val url = concat(lit("s3://b/f"), col("p_partkey").cast("string"),
      lit("."), ext)
    t(s, dir, "part").select(
      col("p_partkey"), url.as("url"),
      Ids.extDispatch(url,
        Map(".tif" -> "image/tiff", "nc" -> "application/x-netcdf"),
        Some("application/octet-stream")).as("media_type"))
      .orderBy("p_partkey")
  }

  // ------------------------------------------------------------------
  // F — scalar functions
  // ------------------------------------------------------------------

  private def orderFname(c: Column) =
    concat(lit("s3://d/file_"), date_format(c, "yyyyMMdd"), lit("_x.tif"))

  /** F1 — date-extraction cascade, single-date path. */
  def f1DatesSingle(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey"),
      Dates.extractDates(orderFname(col("o_orderdate")), None)
        .getField("single_datetime").as("single_datetime"))
      .orderBy("o_orderkey")

  /** F1 — month-range widening of a single date. */
  def f1DatesMonth(s: SparkSession, dir: String): DataFrame = {
    val dt = Dates.extractDates(orderFname(col("o_orderdate")), Some("month"))
    t(s, dir, "orders").select(col("o_orderkey"),
      dt.getField("start_datetime").as("start_datetime"),
      dt.getField("end_datetime").as("end_datetime"))
      .orderBy("o_orderkey")
  }

  /** F1 — multi-date path: two dates in one filename → (min, max). */
  def f1DatesRange(s: SparkSession, dir: String): DataFrame = {
    val fname = concat(lit("s3://d/f_"),
      date_format(col("o_orderdate"), "yyyyMMdd"), lit("_to_"),
      date_format(col("l_shipdate"), "yyyyMMdd"), lit(".tif"))
    val dt = Dates.extractDates(fname, None)
    t(s, dir, "lineitem").filter(col("l_linenumber") === 1)
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"),
        dt.getField("start_datetime").as("start_datetime"),
        dt.getField("end_datetime").as("end_datetime"))
      .orderBy("o_orderkey")
  }

  /** F1 via the native codegen'd [[graft.expr.ExtractDatesExpr]] —
    * must hash-match the same oracle as the declarative cascade. */
  def f1DatesNative(s: SparkSession, dir: String): DataFrame = {
    val dt = call("extract_dates",
      orderFname(col("o_orderdate")), lit("month"))
    t(s, dir, "orders").select(col("o_orderkey"),
      dt.getField("start_datetime").as("start_datetime"),
      dt.getField("end_datetime").as("end_datetime"))
      .orderBy("o_orderkey")
  }

  /** F2 — item_id via id_regex (two capture groups joined with "-"). */
  def f2ItemIdRegex(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("s3://"), col("p_brand"), lit("/"),
      regexp_replace(col("p_name"), " ", "_"), lit("_"),
      col("p_partkey").cast("string"), lit(".tif"))
    t(s, dir, "part").select(col("p_partkey"),
      Ids.itemId(url, Some("s3://([^/]*)/(.+).tif$"),
        lit(null).cast("string")).as("item_id"))
      .orderBy("p_partkey")
  }

  /** F2/F3 — item_id stem fallback (strips only the last extension). */
  def f2ItemIdStem(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("s3://b/dir/"),
      regexp_replace(col("p_name"), " ", "."), lit(".nc.tif"))
    t(s, dir, "part").select(col("p_partkey"),
      Ids.itemId(url, None, lit(null).cast("string")).as("item_id"))
      .orderBy("p_partkey")
  }

  /** F4 — URL host/key split. */
  def f4UrlParse(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("s3://bucket-"),
      pmod(col("c_custkey"), lit(5)).cast("string"), lit("/a/b/file"),
      col("c_custkey").cast("string"))
    t(s, dir, "customer").select(col("c_custkey"),
      Ids.urlHost(url).as("host"), Ids.urlKey(url).as("key"))
      .orderBy("c_custkey")
  }

  /** F5 — STAC datetime serialization. */
  def f5DatetimeFormat(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey"),
      Dates.stacDatetime(col("o_orderdate")).as("stac_dt"))
      .orderBy("o_orderkey")

  /** F12/F13 — JSON encode + octet-length size guard. */
  def f13Json(s: SparkSession, dir: String): DataFrame = {
    val js = to_json(struct(col("o_orderkey"), col("o_orderstatus")))
    t(s, dir, "orders").select(col("o_orderkey"), js.as("item_json"),
      octet_length(js).as("json_bytes"))
      .filter(octet_length(js) < 256 * 1024)
      .orderBy("o_orderkey")
  }

  // ------------------------------------------------------------------
  // J — joins
  // ------------------------------------------------------------------

  /** J1 — multi-asset grouping via the real [[MultiAsset]] operator on
    * synthetic sibling-file urls. */
  def j1MultiAsset(s: SparkSession, dir: String): DataFrame = {
    val objs = t(s, dir, "lineitem").select(
      concat(lit("s3://store/prod"), col("l_orderkey").cast("string"),
        lit("_f"), col("l_linenumber").cast("string"), lit(".bin"))
        .as("remote_fileurl"))
    MultiAsset.attach(objs, dataFile = "f1\\.bin", dataFileRegex = "prod\\d+")
      .select(col("product_id"), mapStr(col("assets")).as("assets_str"))
      .orderBy("product_id")
  }

  /** J2 — star-schema broadcast dimension join: revenue per region. */
  def j2BroadcastDims(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        round(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name")

  /** J3 — existence left-anti join: customers with no orders. */
  def j3AntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  // ------------------------------------------------------------------
  // A/W/U — aggregations, windows, set ops
  // ------------------------------------------------------------------

  /** A1/T7 — group-by-collection collect (per-collection dispatch). */
  def a1GroupCollect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("doc_ids"))
      .orderBy("lang")

  /** A2/A3/W2 — bbox min/max aggregation. */
  def a2Bbox(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy("event_type")
      .agg(min("value").as("min_x"),
        min(col("user_id")).as("min_y"),
        max("value").as("max_x"),
        max(col("user_id")).as("max_y"))
      .orderBy("event_type")

  /** A4/W3 — sorted asset-map build (distinct parts per supplier). */
  def a4SortedMap(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy(col("l_suppkey"))
      .agg(array_join(transform(sort_array(collect_set(col("l_partkey"))),
        _.cast("string")), ",").as("partkeys"))
      .orderBy("l_suppkey")

  /** A5 — cumulative-size cap via window cumulative sum. */
  def a5CumulativeCap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("cum", sum(dec(col("o_totalprice"))).over(w))
      .filter(col("cum") <= 500000)
      .select(col("o_orderkey"),
        round(col("cum"), 2).cast("double").as("cum_price"))
      .orderBy("o_orderkey")
  }

  /** A6 — counts (hits) per group. */
  def a6Counts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n")).orderBy("o_orderpriority")

  /** W1 — date sort + ends (array sort, first/last element). */
  def w1DateEnds(s: SparkSession, dir: String): DataFrame = {
    val sorted = sort_array(collect_list(col("o_orderdate")))
    t(s, dir, "orders").groupBy("o_custkey")
      .agg(element_at(sorted, 1).as("start_dt"),
        element_at(sorted, -1).as("end_dt"))
      .orderBy("o_custkey")
  }

  /** W4 — deterministic top-k. */
  def w4TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** Analytic windows (row_number) — best order per customer. */
  def wRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("best_order"))
      .orderBy("o_custkey")
  }

  /** Sessionization: per-user sessions split at >30 min inactivity —
    * the gap-and-island idiom (lag → break flag → running sum), the
    * batch analog of streaming session windows. One keyed window
    * partition per user; per-user work is linear in their events. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val gapUs = unix_micros(col("ts")) -
      unix_micros(lag(col("ts"), 1).over(byUser))
    val brk = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1L)
      .otherwise(0L)
    t(s, dir, "events")
      .withColumn("sess", sum(brk).over(byUser))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Exact interpolated percentiles (Spark `percentile` == DuckDB
    * `quantile_cont`) of event value per type; rounded so the doubles
    * hash-match across engines. */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy("event_type")

  /** Rollup aggregate: order totals at (status, priority), per-status
    * and grand-total levels in one pass (partial aggregation handles
    * the level fan-out map-side). Null grouping markers projected to
    * '(all)' so ordering and hashing are engine-agnostic. */
  def rollupTotals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        Tables.moneySum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"), col("total"))
      .orderBy("status", "priority")

  /** Sliding window frame: trailing 4-row sum + count of order totals
    * per customer (rows between 3 preceding and current) — the moving
    * metric shape. Windowed decimal SUM stays hash-exact across
    * engines; AVG would route through double in DuckDB. */
  def slidingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-3, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("trailing_sum",
        round(sum(dec(col("o_totalprice"))).over(w), 2).cast("double"))
      .withColumn("n_window", count(lit(1)).over(w))
      .select(col("o_orderkey"), col("o_custkey"),
        col("trailing_sum"), col("n_window"))
      .orderBy("o_orderkey")
  }

  /** U1 — right-biased sorted map merge via [[StacBuilder]]. */
  def u1MapMerge(s: SparkSession, dir: String): DataFrame = {
    val left = map(lit("lang"), col("lang"), lit("quality"), lit("raw"))
    val right = map(lit("quality"), col("source"))
    t(s, dir, "documents").select(col("doc_id"),
      mapStr(StacBuilder.rightBiasedSortedMerge(left, right)).as("merged"))
      .orderBy("doc_id")
  }

  /** U-set — intersect / except / union over key sets. */
  def uSetOps(s: SparkSession, dir: String): DataFrame = {
    // the distinct (a full keyed exchange of the event keys) feeds all
    // three set ops — materialize it once instead of re-shuffling the
    // events scan per branch; custs is a plain pruned scan, re-reading
    // it per branch is cheaper than materializing it would be
    val users = t(s, dir, "events").select(col("user_id").as("k"))
      .distinct().materialized("q_u_set_ops_users", eager = true)
    val custs = t(s, dir, "customer").select(col("c_custkey").as("k"))
    users.intersect(custs).agg(count(lit(1)).as("n_common"))
      .crossJoin(users.except(custs).agg(count(lit(1)).as("n_only_users")))
      .crossJoin(users.union(custs).distinct().agg(count(lit(1)).as("n_all")))
  }

  // ------------------------------------------------------------------
  // Scale utilities as oracle-checked queries
  // ------------------------------------------------------------------

  /** Salted two-phase aggregation — result must equal the plain
    * groupBy (exact decimal sum → bit-identical to the oracle). */
  def skewSaltedSum(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedSum(t(s, dir, "lineitem"),
      col("l_suppkey"), dec(col("l_quantity")))
      .select(col("key").as("l_suppkey"),
        round(col("sum"), 2).cast("double").as("sum_qty"))
      .orderBy("l_suppkey")

  /** Cross-batch keyed-state dedup, batch mode: exactly one row per
    * key survives — keys projected so the result is deterministic. */
  def statefulDedupKeys(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StatefulDedup.firstOccurrence(
      t(s, dir, "events").select(col("user_id"), col("event_id")),
      "user_id")
      .select(col("user_id"))
      .orderBy("user_id")

  /** Morton (z-order) code over fixed modular buckets — gates the
    * bit-interleave math behind [[graft.operators.Layout.zorderWrite]]
    * against a DuckDB oracle computing the same 16 shift/mask terms.
    * (The production path buckets by sampled quantiles, which no
    * SQL oracle can reproduce; the interleave is the invariant.) */
  def zorderCode(s: SparkSession, dir: String): DataFrame = {
    val ub = col("user_id") % 256
    val vb = floor(col("value")).cast("long") % 256
    t(s, dir, "events")
      .filter(col("value") >= 0)
      .select(col("event_id"),
        graft.operators.Layout.interleaveBits(Seq(ub, vb), 8).as("z"))
      .orderBy("event_id")
  }

  /** Space-saving heavy hitters run in exact mode (capacity far above
    * the distinct-key count), so the top-20 matches a plain group-by
    * oracle; the same operator bounds state at nBuckets x capacity on
    * an unbounded stream. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingTopK.heavyHitters(
      t(s, dir, "events"), "user_id",
      nBuckets = 8, capacity = 4096, topPerBucket = 4096)
      .orderBy(desc("count"), asc("item"))
      .limit(20)

  /** One-time bucketed-table materialization for [[bucketedJoin]] —
    * split out so Bench can run it untimed (the write is a one-time
    * layout cost, like a warehouse bucketing job; the operator under
    * test is the Exchange-free join). Idempotent via the spec marker
    * in ensureBucketed, so calling it again from the query is free. */
  def bucketedJoinSetup(s: SparkSession, dir: String): Unit = {
    val base = s"/tmp/graft_buckets_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    graft.operators.Bucketing.ensureBucketed(
      t(s, dir, "orders").select("o_orderkey", "o_custkey"),
      "gq_b_orders", s"$base/orders", 16, Seq("o_orderkey"), dir)
    graft.operators.Bucketing.ensureBucketed(
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
      "gq_b_lineitem", s"$base/lineitem", 16, Seq("l_orderkey"), dir)
  }

  /** Bucketed co-located join: both sides written bucketed+sorted on
    * the join key (one write-time shuffle), then joined Exchange-free;
    * the aggregate must match the plain-join oracle. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    bucketedJoinSetup(s, dir)
    graft.operators.Bucketing.colocatedJoin(s, "gq_b_orders",
      "gq_b_lineitem", col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_items"),
        Tables.moneySum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_custkey")
  }

  // ------------------------------------------------------------------
  // G — geometry
  // ------------------------------------------------------------------

  /** G1/G2/F7/F9 — CMR box → closed polygon ring → bbox. */
  def g1Geometry(s: SparkSession, dir: String): DataFrame = {
    val x0 = pmod(col("user_id"), lit(80))
    val y0 = pmod(col("event_id"), lit(90))
    val boxStr = concat_ws(" ", x0.cast("string"), y0.cast("string"),
      (x0 + 5).cast("string"), (y0 + 5).cast("string"))
    val geom = Geo.cmrGeometry(
      lit(null).cast("array<array<string>>"), array(boxStr), lit(false))
    val bb = Geo.geometryBbox(geom)
    t(s, dir, "events").select(col("event_id"),
      element_at(bb, 1).as("min_x"), element_at(bb, 2).as("min_y"),
      element_at(bb, 3).as("max_x"), element_at(bb, 4).as("max_y"),
      size(element_at(geom.getField("coordinates"), 1)).as("ring_n"))
      .orderBy("event_id")
  }

  // ------------------------------------------------------------------
  // T — streaming-shaped batch analogs
  // ------------------------------------------------------------------

  /** T1 — tumbling event-time windows (1 h) per event type. */
  def t1EventWindows(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Tables.moneySum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("total"))
      .orderBy("ws", "event_type")

  /** T2/T4 — DLQ classification: valid / invalid / retryable counts. */
  def t2DlqClassify(s: SparkSession, dir: String): DataFrame = {
    val valid = col("value") >= 10
    t(s, dir, "events").groupBy("event_type")
      .agg(sum(when(valid, 1L).otherwise(0L)).as("n_valid"),
        sum(when(!valid, 1L).otherwise(0L)).as("n_invalid"),
        sum(when(!valid && col("event_type") === "error", 1L)
          .otherwise(0L)).as("n_retryable"))
      .orderBy("event_type")
  }

  // ------------------------------------------------------------------
  // K2/J3 — transfer planning
  // ------------------------------------------------------------------

  /** K2/J3/U3 — target-key layout + eligibility + existence anti-join,
    * via the real [[Transfer]] operator. */
  def transferPlan(s: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("s3://src-bucket/raw/"),
      regexp_replace(col("p_name"), " ", "_"), lit("_"),
      col("p_partkey").cast("string"), lit(".tif"))
    val objs = t(s, dir, "part").select(
      col("p_partkey"),
      lit("parts").as("collection"),
      url.as("remote_fileurl"),
      lit(true).as("upload"),
      lit(false).as("user_shared"),
      (pmod(col("p_size"), lit(4)) === 0).as("cogify"),
      map(lit("directory"),
        when(pmod(col("p_partkey"), lit(2)) === 0, "file-staging")
          .otherwise("")).as("extra"))
    val planned = Transfer.plan(objs, "s3://dst-bucket")
      .filter(col("transfer_eligible"))
    val existing = t(s, dir, "part")
      .filter(pmod(col("p_partkey"), lit(10)) === 0)
      .select(concat(
        when(pmod(col("p_partkey"), lit(2)) === 0, "file-staging/")
          .otherwise(""),
        lit("parts/"), regexp_replace(col("p_name"), " ", "_"), lit("_"),
        col("p_partkey").cast("string"), lit(".tif")).as("key"))
    Transfer.skipExisting(planned, existing)
      .select(col("p_partkey"), col("target_url"))
      .orderBy("p_partkey")
  }

  /** S5 — GeoTIFF header scan over spec-built fixture bytes (both
    * endians + a non-raster file hitting the metadata-only fallback,
    * stac.py:88-93). Deterministic fixture → literal-VALUES oracle:
    * the CORRECTNESS row pins the parser's field extraction. */
  def s5GeoTiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import java.nio.ByteOrder
    val files = Seq(
      ("geotiff_le.tif", graft.sources.RasterFixtures.geoTiff(ByteOrder.LITTLE_ENDIAN)),
      ("geotiff_be.tif", graft.sources.RasterFixtures.geoTiff(ByteOrder.BIG_ENDIAN)),
      ("junk.tif", "not a raster".getBytes)).toDF("path", "content")
    graft.sources.GeoTiff.scanMetadata(files).toDF()
      .select(col("path").as("fname"), col("ok"),
        col("width"), col("height"),
        col("bitsPerSample").as("bits"), col("samplesPerPixel").as("spp"),
        col("epsg"),
        element_at(col("transform"), 1).as("gt_x0"),
        element_at(col("transform"), 2).as("gt_xres"),
        element_at(col("transform"), 4).as("gt_y0"),
        element_at(col("transform"), 6).as("gt_yres"))
      .orderBy("fname")
  }

  /** S6 — NetCDF classic + HDF5 header scan over spec-built fixture
    * bytes: one row per discovered variable (group-qualified paths,
    * shapes, types, fill values — the inputs `hdf5_to_cog` reads,
    * cogify/handler.py:96-120) plus a fallback row for junk bytes. */
  def s6NetCdf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Seq(
      ("grid.nc", graft.sources.NetCdfFixtures.classicGrid()),
      ("nested.h5", graft.sources.NetCdfFixtures.hdf5()),
      ("junk.bin", "no array data here".getBytes)).toDF("path", "content")
    graft.sources.NetCdf.scanMetadata(files).toDF()
      .select(col("path").as("fname"), col("ok"), col("format"),
        coalesce(col("varPath"), lit("")).as("var_path"),
        try_element_at(col("shape"), lit(1)).as("dim0"),
        try_element_at(col("shape"), lit(2)).as("dim1"),
        col("typeName").as("type_name"),
        col("fillValue").as("fill_value"))
      .orderBy("fname", "var_path")
  }

  /** S5/K3 — COMPRESSED GeoTIFF sample decode over spec-built fixture
    * bytes: LZW (width-growth exercised by the naive literal-code
    * encoder), PackBits, deflate + horizontal predictor, and junk
    * hitting the quarantine row. Distributed decode (mapPartitions
    * over (path, content)), literal-VALUES oracle on the grid stats. */
  def s5Compressed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.RasterFixtures._
    val w = 19; val h = 7
    val vals = IndexedSeq.tabulate(w * h)(i => (i * 13 + 5) % 256)
    val files = Seq(
      ("lzw.tif",
        stripTiffEncoded(w, h, vals, 3, 5, lzwEncodeNaive)),
      ("packbits.tif",
        stripTiffEncoded(w, h, vals, 3, 32773, packBitsEncode)),
      ("deflate_pred.tif",
        stripTiffEncoded(w, h, vals, 3, 8, deflate, predictor = 2)),
      ("junk.tif", "not a raster".getBytes)).toDF("path", "content")
    files.as[(String, Array[Byte])].map { case (fname, bytes) =>
      graft.sources.GeoTiff.readSamples(bytes) match {
        case Right((_, grid)) =>
          (fname, true, grid.length.toLong,
            grid.map(_.toDouble).sum, grid.min.toDouble, grid.max.toDouble)
        case Left(_) => (fname, false, 0L, 0.0, 0.0, 0.0)
      }
    }.toDF("fname", "ok", "n_samples", "sum_val", "min_val", "max_val")
      .orderBy("fname")
  }

  /** S5/K3 — JPEG-in-TIFF (compression 7) decode through the
    * distributed scan path: shared-JPEGTables and self-contained
    * interchange strip layouts over the same smooth gradient, plus a
    * quarantine row. JPEG is lossy, so the oracle gates on
    * decoder-stable properties — decode success, sample count, and a
    * max-error-within-tolerance boolean — not on exact sums. */
  /** S5 — multi-band (RGB / YCbCr-JPEG) raster decode, the browse-
    * imagery shapes the reference ingests through GDAL
    * (`cogify/handler.py:151-220`): chunky interleaved bands through
    * uncompressed, deflate+per-channel-predictor (both exact), and
    * color JPEG (within JPEG tolerance); non-raster bytes quarantine.
    * Literal-VALUES oracle over decoder-stable properties. */
  def s5Rgb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 16; val h = 12
    val rgb = Seq.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      math.min(255, x * 200 / (w - 1) + y * 55 / (h - 1) + (i % 3) * 10)
    }
    val files = Seq(
      ("rgb_plain.tif", graft.sources.RasterFixtures
        .stripTiffRgb(w, h, rgb, rowsPerStrip = 5)),
      ("rgb_pred.tif", graft.sources.RasterFixtures
        .stripTiffRgb(w, h, rgb, rowsPerStrip = 4, compression = 8,
          predictor = 2)),
      ("rgb_jpeg.tif", graft.sources.RasterFixtures
        .stripTiffJpegRgb(w, h, rgb, rowsPerStrip = 4,
          sharedTables = true)),
      ("junk.tif", "not a raster".getBytes)).toDF("path", "content")
    files.as[(String, Array[Byte])].map { case (fname, bytes) =>
      graft.sources.GeoTiff.readBands(bytes) match {
        case Right((_, bands)) =>
          val maxErr = bands.zipWithIndex.flatMap { case (g, b) =>
            g.zipWithIndex.map { case (v, i) =>
              math.abs(v - rgb(i * 3 + b)) }
          }.max
          val tol = if (fname.contains("jpeg")) 8.0f else 0.0f
          (fname, true, bands.length, bands(0).length.toLong,
            maxErr <= tol)
        case Left(_) => (fname, false, 0, 0L, false)
      }
    }.toDF("fname", "ok", "n_bands", "n_samples", "within_tol")
      .orderBy("fname")
  }

  /** S5 — planar (band-sequential, PlanarConfiguration 2) RGB decode:
    * each band's strips stored contiguously, the storage GDAL ingests
    * transparently (`cogify/handler.py:151-220`, INTERLEAVE=BAND
    * sources). All three codecs here are lossless, so the gate is
    * EXACT sample equality against the generator values; non-raster
    * bytes quarantine. Literal-VALUES oracle. */
  def s5Planar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 16; val h = 12
    val rgb = Seq.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      math.min(255, x * 200 / (w - 1) + y * 55 / (h - 1) + (i % 3) * 10)
    }
    val files = Seq(
      ("planar_plain.tif", graft.sources.RasterFixtures
        .stripTiffRgbPlanar(w, h, rgb, rowsPerStrip = 5)),
      ("planar_lzw_pred.tif", graft.sources.RasterFixtures
        .stripTiffRgbPlanar(w, h, rgb, rowsPerStrip = 4,
          compression = 5, predictor = 2)),
      ("planar_deflate_pred.tif", graft.sources.RasterFixtures
        .stripTiffRgbPlanar(w, h, rgb, rowsPerStrip = 3,
          compression = 8, predictor = 2)),
      ("junk.tif", "not a raster".getBytes)).toDF("path", "content")
    files.as[(String, Array[Byte])].map { case (fname, bytes) =>
      graft.sources.GeoTiff.readBands(bytes) match {
        case Right((_, bands)) =>
          val exact = bands.zipWithIndex.forall { case (g, b) =>
            g.zipWithIndex.forall { case (v, i) => v == rgb(i * 3 + b) }
          }
          (fname, true, bands.length, bands(0).length.toLong, exact)
        case Left(_) => (fname, false, 0, 0L, false)
      }
    }.toDF("fname", "ok", "n_bands", "n_samples", "exact")
      .orderBy("fname")
  }

  def s5Jpeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 40; val h = 25
    val px = IndexedSeq.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (x * 255 / (w - 1) + y * 255 / (h - 1)) / 2
    }
    val files = Seq(
      ("jpeg_shared.tif", graft.sources.RasterFixtures
        .stripTiffJpeg(w, h, px, rowsPerStrip = 8, sharedTables = true)),
      ("jpeg_plain.tif", graft.sources.RasterFixtures
        .stripTiffJpeg(w, h, px, rowsPerStrip = 8, sharedTables = false)),
      ("junk.tif", "not a raster".getBytes)).toDF("path", "content")
    files.as[(String, Array[Byte])].map { case (fname, bytes) =>
      graft.sources.GeoTiff.readSamples(bytes) match {
        case Right((_, grid)) =>
          val maxErr = grid.toSeq.zip(px)
            .map { case (d, p) => math.abs(d - p) }.max
          (fname, true, grid.length.toLong, maxErr <= 3.0f)
        case Left(_) => (fname, false, 0L, false)
      }
    }.toDF("fname", "ok", "n_samples", "within_tol")
      .orderBy("fname")
  }

  /** K3 — the RGB browse-imagery lifecycle: color-JPEG TIFF →
    * `tiffToCog` → uint8 RGB deflate COG (GDAL preserves the byte
    * dtype of RGB inputs, `cogify/handler.py:186-220`) → independent
    * re-decode. The re-tile must be LOSSLESS over the decoded bands
    * (deflate is), and within JPEG tolerance of the source pixels;
    * non-raster bytes flow to the quarantine row. */
  def k3RgbCog(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 40; val h = 30
    val rgb = Seq.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      math.min(255, x * 200 / (w - 1) + y * 55 / (h - 1) + (i % 3) * 10)
    }
    val files = Seq(
      ("browse_jpeg.tif", graft.sources.RasterFixtures
        .stripTiffJpegRgb(w, h, rgb, rowsPerStrip = 8,
          sharedTables = true)),
      ("browse_plain.tif", graft.sources.RasterFixtures
        .stripTiffRgb(w, h, rgb, rowsPerStrip = 8)),
      ("junk.tif", "not a raster".getBytes)).toDF("path", "content")
    files.as[(String, Array[Byte])].map { case (fname, bytes) =>
      graft.operators.Cogify.tiffToCog(bytes) match {
        case Right(cog) =>
          val (m, out) = graft.sources.GeoTiff.readBands(cog)
            .fold(e => throw new IllegalStateException(e), identity)
          val (_, src) = graft.sources.GeoTiff.readBands(bytes)
            .fold(e => throw new IllegalStateException(e), identity)
          val lossless = (0 until 3).forall(b =>
            out(b).sameElements(src(b)))
          val maxErr = out.zipWithIndex.flatMap { case (g, b) =>
            g.zipWithIndex.map { case (v, i) =>
              math.abs(v - rgb(i * 3 + b)) }
          }.max
          val tol = if (fname.contains("jpeg")) 8.0f else 0.0f
          (fname, true, m.samplesPerPixel, m.bitsPerSample,
            m.tileWidth.getOrElse(0L), lossless, maxErr <= tol)
        case Left(_) => (fname, false, 0, 0, 0L, false, false)
      }
    }.toDF("fname", "ok", "n_bands", "bits", "tile_w", "lossless",
        "within_tol")
      .orderBy("fname")
  }

  /** K3 — overview IFDs in written COGs (rio-cogeo defaults the
    * reference inherits through `cog_translate`: nearest resampling,
    * factor 2 per level, levels until the smallest min-dimension fits
    * the block). One row per IFD of a 300×260 float COG at block 128:
    * full-res + two overviews, each overview nearest-equal to a
    * direct 2× reduction of the level above. */
  def k3Overviews(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 300; val h = 260
    val data = Array.tabulate(w * h)(i => ((i * 13) % 997).toFloat)
    val geo = graft.sources.GeoTiffWriter.Geo(
      Seq(0.0, 0.1, 0.0, 50.0, 0.0, -0.1))
    Seq(("overviews.tif",
      graft.sources.GeoTiffWriter.write(w, h, data, geo, tileSize = 128)))
      .toDF("path", "content")
      .as[(String, Array[Byte])].flatMap { case (fname, bytes) =>
        val n = graft.sources.GeoTiff.ifdCount(bytes)
          .fold(e => throw new IllegalStateException(e), identity)
        (0 until n).map { i =>
          val (m, bands) = graft.sources.GeoTiff.readBandsAt(bytes, i)
            .fold(e => throw new IllegalStateException(e), identity)
          val nearestOk =
            if (i == 0) bands(0).sameElements(data)
            else {
              val (pm, prev) = graft.sources.GeoTiff
                .readBandsAt(bytes, i - 1)
                .fold(e => throw new IllegalStateException(e), identity)
              val pw = pm.width.toInt; val ph = pm.height.toInt
              (0 until m.height.toInt).forall(y =>
                (0 until m.width.toInt).forall(x =>
                  bands(0)(y * m.width.toInt + x) ==
                    prev(0)(math.min(2 * y, ph - 1) * pw +
                      math.min(2 * x, pw - 1))))
            }
          (fname, i, m.width, m.height, m.transform.isDefined, nearestOk)
        }
      }.toDF("fname", "ifd", "width", "height", "has_geo", "nearest_ok")
      .orderBy("ifd")
  }

  /** K3 — CF packed-data unpacking through cogify: netCDF4-python's
    * default auto mask-and-scale (`src[var][:]`, the reference's read
    * at `cogify/handler.py:101`) unpacks `raw * scale_factor +
    * add_offset` while masked (fill) cells keep the RAW fill that
    * becomes the COG's nodata. A packed int16 variable and its
    * pre-unpacked float twin must cogify to the SAME pixel stats;
    * literal-VALUES oracle. */
  def k3Scaled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.NetCdfFixtures.CVar
    val raws = Seq.tabulate(48)(i => ((i * 7) % 101) - 30.0)
      .updated(5, -32768.0).updated(23, -32768.0)
    val unpacked = raws.map(r => if (r == -32768.0) r else r * 0.25 + 100.0)
    val cfAttrs = Seq[(String, Either[String, Seq[Double]])](
      "_FillValue" -> Right(Seq(-32768.0)),
      "scale_factor" -> Right(Seq(0.25)),
      "add_offset" -> Right(Seq(100.0)))
    val files = Seq(
      ("packed.nc", graft.sources.NetCdfFixtures.classic(
        dims = Seq("y" -> 6, "x" -> 8),
        vars = Seq(CVar("var", Seq("y", "x"), 3, raws, attrs = cfAttrs)))),
      ("plain.nc", graft.sources.NetCdfFixtures.classic(
        dims = Seq("y" -> 6, "x" -> 8),
        vars = Seq(CVar("var", Seq("y", "x"), 5, unpacked,
          attrs = Seq("_FillValue" -> Right(Seq(-32768.0))))))))
      .toDF("path", "content")
    val cfg = graft.operators.Cogify.CollectionConfig(
      variableName = Some("var"))
    files.as[(String, Array[Byte])].map { case (fname, bytes) =>
      graft.operators.Cogify.classicNetcdfToCog(bytes, cfg) match {
        case Right(cog) =>
          val (m, grid) = graft.sources.GeoTiff.readSamples(cog)
            .fold(e => throw new IllegalStateException(e), identity)
          (fname, true, m.nodata.getOrElse(Double.NaN), grid.length.toLong,
            grid.map(_.toDouble).sum, grid.min.toDouble, grid.max.toDouble)
        case Left(_) => (fname, false, Double.NaN, 0L, 0.0, 0.0, 0.0)
      }
    }.toDF("fname", "ok", "nodata", "n_vals", "sum_val", "min_val",
        "max_val")
      .orderBy("fname")
  }

  /** S6 — CHUNKED HDF5 data decode over the spec-built fixture: the
    * shuffle+deflate 2-D grid must equal its contiguous twin and the
    * deflate / deflate+fletcher32 1-D coordinates must read exactly —
    * all through the distributed scan path, literal-VALUES oracle. */
  def s6Chunked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Seq(
      ("chunked.h5", graft.sources.NetCdfFixtures.hdf5Chunked()))
      .toDF("path", "content")
    files.as[(String, Array[Byte])].flatMap { case (fname, bytes) =>
      val meta = graft.sources.NetCdf.parse(bytes)
        .getOrElse(graft.sources.NetCdf.FileMeta("unparsed", Nil, Nil, Nil))
      meta.vars.map { v =>
        val grid = graft.sources.NetCdf.readGridRaw(bytes, meta, v.path)
        val storage =
          if (v.begin.isDefined) "contiguous"
          else if (v.chunks.isDefined) "chunked" else "none"
        grid match {
          case Some(g) => (fname, v.path, storage, true, g.length.toLong,
            g.map(_.toDouble).sum, g.min.toDouble, g.max.toDouble)
          case None => (fname, v.path, storage, false, 0L, 0.0, 0.0, 0.0)
        }
      }
    }.toDF("fname", "var_path", "storage", "ok", "n_vals",
        "sum_val", "min_val", "max_val")
      .orderBy("fname", "var_path")
  }

  /** S6 — DENSE link storage (fractal-heap groups, written past the
    * compact limit): both heap shapes (direct root, one-level
    * indirect root), unfiltered AND deflate-filtered (whole-block
    * compression, the pipeline HDF5 applies when the heap is created
    * with filters), must list all 10 members and read their
    * contiguous data through the distributed scan. Literal-VALUES
    * oracle over per-file aggregates. */
  def s6Dense(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Seq(
      ("dense_direct.h5", graft.sources.NetCdfFixtures.hdf5V2Dense()),
      ("dense_indirect.h5",
        graft.sources.NetCdfFixtures.hdf5V2Dense(indirect = true)),
      ("dense_direct_deflate.h5",
        graft.sources.NetCdfFixtures.hdf5V2Dense(filtered = true)),
      ("dense_indirect_deflate.h5", graft.sources.NetCdfFixtures
        .hdf5V2Dense(indirect = true, filtered = true)),
      ("dense_nested.h5",
        graft.sources.NetCdfFixtures.hdf5V2DenseNested()),
      ("dense_nested_deflate.h5",
        graft.sources.NetCdfFixtures.hdf5V2DenseNested(filtered = true)),
      // huge/tiny heap objects: links the sequential block scan cannot
      // see, resolved through the name-index v2 B-tree (direct
      // address-in-ID huge + inline tiny; B-tree-indirect huge)
      ("dense_hugetiny.h5",
        graft.sources.NetCdfFixtures.hdf5V2DenseHugeTiny()),
      ("dense_hugetiny_btree.h5", graft.sources.NetCdfFixtures
        .hdf5V2DenseHugeTiny(indirectHuge = true)),
      // depth-1 name index: the huge and tiny heap IDs live in the
      // root BTIN's own records — internal nodes must be enumerated
      ("dense_hugetiny_deep.h5", graft.sources.NetCdfFixtures
        .hdf5V2DenseHugeTiny(deepNameIndex = true)),
      // extended tiny IDs (19-byte heap IDs: 12-bit length across
      // bytes 0-1) and direct huge with a type-3 tracking B-tree the
      // walk must ignore
      ("dense_hugetiny_exttiny.h5", graft.sources.NetCdfFixtures
        .hdf5V2DenseHugeTiny(extendedTiny = true)),
      ("dense_hugetiny_bt3.h5", graft.sources.NetCdfFixtures
        .hdf5V2DenseHugeTiny(hugeBtreeDirect = true)))
      .toDF("path", "content")
    files.as[(String, Array[Byte])].map { case (fname, bytes) =>
      val meta = graft.sources.NetCdf.parse(bytes)
        .getOrElse(graft.sources.NetCdf.FileMeta("unparsed", Nil, Nil, Nil))
      val names = meta.vars.map(_.path).sorted
      val total = meta.vars.flatMap(v =>
        graft.sources.NetCdf.readGridRaw(bytes, meta, v.path)
          .toSeq.flatMap(_.map(_.toDouble))).sum
      (fname, meta.format, names.size.toLong,
        names.headOption.getOrElse(""), names.lastOption.getOrElse(""),
        total)
    }.toDF("fname", "format", "n_vars", "first_var", "last_var",
        "total_sum")
      .orderBy("fname")
  }

  /** WARC web-archive scan (fixture-pinned): a plain multi-record
    * file, the Common Crawl gzip-member-per-record layout, and a
    * corrupt file that must quarantine WHOLE (no partial rows) —
    * the ingestion seam a Common Crawl curation pipeline starts
    * from. Literal-VALUES oracle. */
  def warcScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Seq(
      ("plain.warc", graft.sources.WarcFixtures.plainWarc()),
      ("cc.warc.gz", graft.sources.WarcFixtures.ccWarcGz()),
      ("broken.warc", graft.sources.WarcFixtures.brokenWarc()))
      .toDF("path", "content")
    graft.sources.Warc.recordRows(files)
      .select(col("path").as("fname"), col("record_type"),
        col("target_uri"), col("http_status"), col("http_content_type"),
        col("payload_len"),
        substring(col("payload").cast("string"), 1, 12)
          .as("payload_head"),
        col("status"))
      .orderBy("fname", "target_uri")
  }

  /** S6 — LAYOUT-V4 chunk indexes (HDF5 >= 1.10 "latest format"
    * chunked storage) through the distributed scan: fixed-array
    * shuffle+deflate grid with an elided all-fill chunk, a filtered
    * single-chunk coordinate, an implicit-index coordinate, and the
    * contiguous twin the grid must equal. Literal-VALUES oracle. */
  def s6V4Chunked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Seq(
      ("v4chunked.h5", graft.sources.NetCdfFixtures.hdf5V2Chunked()))
      .toDF("path", "content")
    files.as[(String, Array[Byte])].flatMap { case (fname, bytes) =>
      val meta = graft.sources.NetCdf.parse(bytes)
        .getOrElse(graft.sources.NetCdf.FileMeta("unparsed", Nil, Nil, Nil))
      meta.vars.map { v =>
        val grid = graft.sources.NetCdf.readGridRaw(bytes, meta, v.path)
        val storage =
          if (v.begin.isDefined) "contiguous"
          else if (v.chunks.isDefined) "chunked" else "none"
        grid match {
          case Some(g) => (fname, v.path, storage, true, g.length.toLong,
            g.map(_.toDouble).sum, g.min.toDouble, g.max.toDouble)
          case None => (fname, v.path, storage, false, 0L, 0.0, 0.0, 0.0)
        }
      }
    }.toDF("fname", "var_path", "storage", "ok", "n_vals",
        "sum_val", "min_val", "max_val")
      .orderBy("fname", "var_path")
  }

  /** S6 — the remaining layout-v4 chunk indexes (HDF5 >= 1.10 with
    * unlimited dimensions): extensible-array reads spanning all three
    * element regions (index-block inline, index-block data blocks, a
    * real super block) in both filtered (client 1) and unfiltered
    * (client 0) form, plus a depth-1 version-2 B-tree of
    * filtered-chunk records — each against the contiguous twin, with
    * an elided chunk that must decode as fill. Literal-VALUES
    * oracle. */
  def s6EaBt2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Seq(
      ("eabt2.h5", graft.sources.NetCdfFixtures.hdf5V2EaBt2()))
      .toDF("path", "content")
    files.as[(String, Array[Byte])].flatMap { case (fname, bytes) =>
      val meta = graft.sources.NetCdf.parse(bytes)
        .getOrElse(graft.sources.NetCdf.FileMeta("unparsed", Nil, Nil, Nil))
      meta.vars.map { v =>
        val grid = graft.sources.NetCdf.readGridRaw(bytes, meta, v.path)
        val storage =
          if (v.begin.isDefined) "contiguous"
          else if (v.chunks.isDefined) "chunked" else "none"
        grid match {
          case Some(g) => (fname, v.path, storage, true, g.length.toLong,
            g.map(_.toDouble).sum, g.min.toDouble, g.max.toDouble)
          case None => (fname, v.path, storage, false, 0L, 0.0, 0.0, 0.0)
        }
      }
    }.toDF("fname", "var_path", "storage", "ok", "n_vals",
        "sum_val", "min_val", "max_val")
      .orderBy("fname", "var_path")
  }

  /** S6 — PAGED extensible-array data blocks (HDF5 >= 1.10 datasets
    * with enough chunks that a super-block row exceeds the data-block
    * page size): per-page checksums, the super block's MSB-first
    * page-init bitmap, an uninitialized page and an unallocated data
    * block (both fill), and an elided chunk INSIDE an initialized
    * page — against the contiguous twin. Literal-VALUES oracle. */
  def s6EaPaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Seq(
      ("eapaged.h5", graft.sources.NetCdfFixtures.hdf5V2EaPaged()))
      .toDF("path", "content")
    files.as[(String, Array[Byte])].flatMap { case (fname, bytes) =>
      val meta = graft.sources.NetCdf.parse(bytes)
        .getOrElse(graft.sources.NetCdf.FileMeta("unparsed", Nil, Nil, Nil))
      meta.vars.map { v =>
        val grid = graft.sources.NetCdf.readGridRaw(bytes, meta, v.path)
        val storage =
          if (v.begin.isDefined) "contiguous"
          else if (v.chunks.isDefined) "chunked" else "none"
        grid match {
          case Some(g) => (fname, v.path, storage, true, g.length.toLong,
            g.map(_.toDouble).sum, g.min.toDouble, g.max.toDouble)
          case None => (fname, v.path, storage, false, 0L, 0.0, 0.0, 0.0)
        }
      }
    }.toDF("fname", "var_path", "storage", "ok", "n_vals",
        "sum_val", "min_val", "max_val")
      .orderBy("fname", "var_path")
  }

  /** S6 — DEPTH-2 version-2 B-tree chunk index: the first depth where
    * the root's child pointers carry the cumulative-record-count
    * field, so the node-capacity recurrence (not just the leaf walk)
    * decides every pointer offset. Four elided chunks — interior and
    * tail — read as fill; the walk must equal the contiguous twin.
    * Literal-VALUES oracle. */
  def s6Bt2Deep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Seq(
      ("bt2deep.h5", graft.sources.NetCdfFixtures.hdf5V2Bt2Deep()))
      .toDF("path", "content")
    files.as[(String, Array[Byte])].flatMap { case (fname, bytes) =>
      val meta = graft.sources.NetCdf.parse(bytes)
        .getOrElse(graft.sources.NetCdf.FileMeta("unparsed", Nil, Nil, Nil))
      meta.vars.map { v =>
        val grid = graft.sources.NetCdf.readGridRaw(bytes, meta, v.path)
        val storage =
          if (v.begin.isDefined) "contiguous"
          else if (v.chunks.isDefined) "chunked" else "none"
        grid match {
          case Some(g) => (fname, v.path, storage, true, g.length.toLong,
            g.map(_.toDouble).sum, g.min.toDouble, g.max.toDouble)
          case None => (fname, v.path, storage, false, 0L, 0.0, 0.0, 0.0)
        }
      }
    }.toDF("fname", "var_path", "storage", "ok", "n_vals",
        "sum_val", "min_val", "max_val")
      .orderBy("fname", "var_path")
  }

  /** S6 — HDF5 superblock-v2 (>= 1.10 / netCDF-4 latest format):
    * link-message group walk + v4-contiguous data read over the
    * spec-built v2 fixture, compared row-for-row against its
    * superblock-v0 twin — same vars, shapes, types, fills, and the
    * same contiguous `lat` values, only the format string differs.
    * Literal-VALUES oracle. */
  def s6V2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val files = Seq(
      ("v0.h5", graft.sources.NetCdfFixtures.hdf5()),
      ("v2.h5", graft.sources.NetCdfFixtures.hdf5V2()))
      .toDF("path", "content")
    files.as[(String, Array[Byte])].flatMap { case (fname, bytes) =>
      val meta = graft.sources.NetCdf.parse(bytes)
        .getOrElse(graft.sources.NetCdf.FileMeta("unparsed", Nil, Nil, Nil))
      meta.vars.map { v =>
        graft.sources.NetCdf.readGridRaw(bytes, meta, v.path) match {
          case Some(g) => (fname, meta.format, v.path, v.typeName,
            v.fillValue, true, g.length.toLong,
            g.map(_.toDouble).sum, g.min.toDouble, g.max.toDouble)
          case None => (fname, meta.format, v.path, v.typeName,
            v.fillValue, false, 0L, 0.0, 0.0, 0.0)
        }
      }
    }.toDF("fname", "format", "var_path", "type_name", "fill_value",
        "has_data", "n_vals", "sum_val", "min_val", "max_val")
      .orderBy("fname", "var_path")
  }

  /** Data profiling: per-column null/distinct/min/max in ONE scan
    * ([[graft.operators.Profile]]). Long/string columns only in the
    * oracle — double/timestamp→string rendering differs between
    * engines. */
  def profileEvents(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(
      t(s, dir, "events").select("event_id", "user_id", "event_type"))
      .withColumnRenamed("column", "col_name")
      .orderBy("col_name")

  // ------------------------------------------------------------------
  // temporal joins
  // ------------------------------------------------------------------

  /** As-of join: each purchase matched to the same user's most recent
    * click at-or-before it (backward, no tolerance) — one keyed
    * shuffle per side + a sequential merge, [[graft.operators.AsOfJoin]]. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    graft.operators.AsOfJoin.join(purchases, clicks,
      key = "user_id", leftTime = "ts", rightTime = "click_ts")
      .orderBy("event_id")
  }

  /** Broadcast as-of join ([[graft.operators.AsOfJoin.broadcastJoin]]):
    * the q_asof_join query through the zero-shuffle path — clicks
    * collect/broadcast as per-user sorted arrays and every purchase
    * binary-searches them; the fact side is never repartitioned.
    * Same DuckDB ASOF oracle as the merge-path query. */
  def asofBroadcast(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    graft.operators.AsOfJoin.broadcastJoin(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "click_ts")
      .orderBy("event_id")
  }

  /** Forward as-of join: each purchase matched to the same user's
    * EARLIEST click at-or-after it (the "next event" direction). */
  def asofJoinForward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    graft.operators.AsOfJoin.join(purchases, clicks,
      key = "user_id", leftTime = "ts", rightTime = "click_ts",
      direction = "forward")
      .orderBy("event_id")
  }

  /** Tolerance as-of join: most recent click at most 1 hour before
    * each purchase — the bounded-staleness lookup. */
  def asofJoinTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    graft.operators.AsOfJoin.join(purchases, clicks,
      key = "user_id", leftTime = "ts", rightTime = "click_ts",
      toleranceMicros = Some(3600L * 1000000L))
      .select("event_id", "click_id")
      .orderBy("event_id")
  }

  /** Quartile assignment per group (ntile) — the quantile-bucketing
    * shape for quality-score stratification. */
  def ntileQuartiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        // BIGINT to match DuckDB's ntile return type (Spark emits INT)
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("event_id")
  }

  /** Range join: clicks inside any [error, error+1d) window of the
    * same user — binned equi-join, [[graft.operators.RangeJoin]],
    * never a non-equi product. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val dayMicros = 86400L * 1000000L
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("error_ts"),
        (col("ts") + expr("INTERVAL 1 DAY")).as("error_end"))
    graft.operators.RangeJoin.pointInInterval(
      clicks, "click_ts", errors, "error_ts", "error_end",
      keyCols = Seq("user_id"), binMicros = dayMicros)
      .select("click_id", "error_id", "user_id", "click_ts", "error_ts")
      .orderBy("click_id", "error_id")
  }

  /** Interval-overlap join: 6-hour click windows x 6-hour error
    * windows of the same user that intersect — both sides binned,
    * each pair anchored to one bin ([[graft.operators.RangeJoin]]
    * .intervalOverlap), never a non-equi product. */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val sixH = expr("INTERVAL 6 HOUR")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_start"), (col("ts") + sixH).as("click_end"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("ts").as("error_start"), (col("ts") + sixH).as("error_end"))
    graft.operators.RangeJoin.intervalOverlap(
      clicks, "click_start", "click_end",
      errors, "error_start", "error_end",
      keyCols = Seq("user_id"), binMicros = 6L * 3600 * 1000000)
      .select("click_id", "error_id", "user_id")
      .orderBy("click_id", "error_id")
  }

  /** Daily × event-type pivot (cross-tab). Values are passed
    * EXPLICITLY — `.pivot(col)` without values runs a driver-side
    * distinct scan over the whole input first, a hidden extra job that
    * hurts at 100 TB; with values it is one shuffle, same plan shape
    * as any groupBy. Empty cells are 0 like the oracle's FILTER. */
  def pivotDaily(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy("day")
  }

  /** Semi-structured JSON column processing: `from_json` projects the
    * props payload into a typed column inside whole-stage codegen (one
    * scan, no UDF), then ordinary aggregation. */
  def jsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType))))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_k"),
        sum(col("k")).cast("bigint").as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Conversion funnel view → click → purchase by first-occurrence
    * chain: one conditional-min aggregation per user (map-side
    * combine, single shuffle on user_id — never a per-step self-join,
    * which would be step-count shuffles at event scale). */
  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    def firstTs(tpe: String): Column =
      min(when(col("event_type") === tpe, col("ts"))).as(s"t_$tpe")
    val per = Tables.t(s, dir, "events").groupBy("user_id")
      .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
    val stage = when(col("t_view").isNull, lit(0))
      .when(col("t_click").isNull || col("t_click") <= col("t_view"), lit(1))
      .when(col("t_purchase").isNull || col("t_purchase") <= col("t_click"),
        lit(2))
      .otherwise(lit(3))
    per.select(stage.as("stage"))
      .groupBy("stage").agg(count(lit(1)).cast("bigint").as("n_users"))
      .orderBy("stage")
  }

  /** Weekly cohort retention: cohort = week of a user's first event,
    * cell (cohort_wk, wk) = distinct users active wk weeks later.
    * Two shuffles total (user-min, then the distinct-cell count); the
    * cohort table is user-dimension sized — no broadcast hint, AQE
    * broadcasts it when it fits and falls back to a shuffle join when
    * the user dimension itself is too big to ship. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohort = e.groupBy("user_id").agg(min(col("d")).as("c0"))
    e.join(cohort, "user_id")
      .select(
        floor(datediff(col("c0"), lit("2024-01-01").cast("date")) / 7)
          .cast("int").as("cohort_wk"),
        floor(datediff(col("d"), col("c0")) / 7).cast("int").as("wk"),
        col("user_id"))
      .distinct()
      .groupBy("cohort_wk", "wk")
      .agg(count(lit(1)).cast("bigint").as("n_users"))
      .orderBy("cohort_wk", "wk")
  }

  /** Snapshot diff ([[graft.operators.Diff]]): the documents corpus vs
    * a deterministically simulated next version — every 13th doc
    * removed, every 7th edited, every 11th re-added under a new id.
    * Classifies each key added/removed/changed/same via one full outer
    * join; the oracle replays it with IS NOT DISTINCT FROM. */
  def datasetDiff(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select("doc_id", "text")
    val next = d.filter(pmod(col("doc_id"), lit(13)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
      .unionByName(d.filter(pmod(col("doc_id"), lit(11)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.operators.Diff.snapshotDiff(d, next, Seq("doc_id"), Seq("text"))
      .orderBy("doc_id")
  }

  /** PageRank ([[graft.graph.PageRank]]) over the customer↔supplier
    * trade graph (distinct cust→supp pairs from orders⋈lineitem, both
    * directions so no node dangles). Ranks are scaled integers
    * (1e-12 units) so the 5-iteration power iteration is bit-exact
    * across partitionings and engines — the oracle unrolls the same
    * integer algebra as five chained CTEs. */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    // iterate on PACKED LONG node ids (customer 2k, supplier 2k+1):
    // the rank state and the edge table go through 5 iterations of
    // keyed joins/aggs, and 8-byte long keys shuffle/hash measurably
    // faster than the "c123"/"s45" strings — which are reattached
    // ONLY at the end, so the output (and the oracle) is unchanged
    val pairs = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
      .distinct()
    // cast BEFORE packing: `col * 2` keeps the source int type, so an
    // int key past 2^30 would overflow (an error under ANSI, silently
    // negative/colliding node ids with it off) — the long cast makes
    // the packing honor its stated contract at any key range
    val ck2 = col("ck").cast("long") * 2
    val sk2 = col("sk").cast("long") * 2 + 1
    val edges = pairs
      .select(ck2.as("src"), sk2.as("dst"))
      .unionByName(pairs.select(sk2.as("src"), ck2.as("dst")))
    graft.graph.PageRank.run(edges, iterations = 5)
      .select(concat(
          when(col("node") % 2 === 0, lit("c")).otherwise(lit("s")),
          shiftright(col("node"), 1).cast("string")).as("node"),
        col("rank").as("rank_e12"))
      .orderBy("node")
  }

  /** CDC latest-wins apply ([[graft.operators.Cdc]]): orders snapshot +
    * a deterministically simulated changelog — every 5th key updated
    * (+10.00) at t1, every 7th deleted at t2, every 14th re-upserted at
    * t3 with doubled price (so delete→re-insert resurrection is
    * exercised). One keyed shuffle; the oracle replays it with a
    * ts-desc window over base ∪ changelog. */
  /** Shared CDC fixture: orders snapshot + the deterministic changelog
    * (every 5th key updated at t1, 7th deleted at t2, 14th re-upserted
    * at t3) — q_cdc_apply folds it, q_scd2 builds history from it. */
  private def cdcFixture(s: SparkSession, dir: String)
  : (DataFrame, DataFrame) = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(15,2)").as("o_totalprice"))
    def at(day: String) = lit(day).cast("timestamp")
    // ONE scan builds all three change branches via conditional
    // structs + explode, instead of a 3-way union of filters that each
    // re-scanned the fact table (3 scans -> 1; changelog row ORDER is
    // irrelevant — applyChangelog/scd2History order by (ts, seq))
    def branch(cond: Column, op: String, ts: Column, status: Column,
               price: Column) =
      when(cond, struct(col("o_orderkey"), lit(op).as("op"), ts.as("ts"),
        col("o_orderkey").as("seq"), status.as("o_orderstatus"),
        price.cast("decimal(15,2)").as("o_totalprice")))
    val chg = base.select(explode(array(
        branch(pmod(col("o_orderkey"), lit(5)) === 0, "upsert",
          at("2025-01-01"), col("o_orderstatus"),
          col("o_totalprice") + lit(10)),
        branch(pmod(col("o_orderkey"), lit(7)) === 0, "delete",
          at("2025-01-02"), lit(null).cast("string"),
          lit(null).cast("decimal(15,2)")),
        branch(pmod(col("o_orderkey"), lit(14)) === 0, "upsert",
          at("2025-01-03"), lit("R"),
          col("o_totalprice") * lit(2)))).as("__c"))
      .filter(col("__c").isNotNull)
      .select("__c.*")
    (base, chg)
  }

  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val (base, chg) = cdcFixture(s, dir)
    graft.operators.Cdc.applyChangelog(base, chg, Seq("o_orderkey"))
      // exact decimal arithmetic inside; canonical rounded-double out,
      // per the repo-wide money convention (Tables.moneySum)
      .withColumn("o_totalprice",
        round(col("o_totalprice"), 2).cast("double"))
      .orderBy("o_orderkey")
  }

  /** SCD type-2 history ([[graft.operators.Cdc.scd2History]]) from the
    * same changelog: validity intervals per version — deletes close
    * the prior version, the 14th-key re-upsert opens a new current
    * one. ONE keyed window, no self-join. */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val (_, chg) = cdcFixture(s, dir)
    graft.operators.Cdc.scd2History(chg, Seq("o_orderkey"))
      .withColumn("o_totalprice",
        round(col("o_totalprice"), 2).cast("double"))
      .orderBy("o_orderkey", "valid_from")
  }

  /** One-pass constraint suite ([[graft.operators.Validate]]) over
    * events: six Deequ-style checks (completeness, uniqueness, range,
    * domain, regex shape) computed in a single wide aggregation — never
    * a scan per constraint. */
  def validateEvents(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Validate._
    run(t(s, dir, "events"), Seq(
      completeness("user_id"),
      completeness("value"),
      uniqueness("event_id"),
      between("value", 0.0, 1000.0),
      isIn("event_type", Seq("click", "view", "purchase", "signup", "error")),
      matches("props", "^\\{.*\\}\\z")))
      .orderBy("constraint")
  }

  /** Daily resample + forward fill ([[graft.operators.Resample]]) of
    * per-user event values (users < 40 keep the dense grid readable):
    * gaps between a user's first and last active day are filled with
    * the last observed value. Oracle: generate_series grid + IGNORE
    * NULLS window in DuckDB. */
  def resampleFfill(s: SparkSession, dir: String): DataFrame =
    graft.operators.Resample.ffill(
        t(s, dir, "events").filter(col("user_id") < 40),
        keyCol = "user_id", tsCol = "ts", valCol = "value",
        stepSec = 86400L, tieCol = "event_id")
      .orderBy("user_id", "bucket")

  /** 7-day rolling distinct users (the DAU/WAU engagement metric):
    * distinct (day, user) pairs explode to the ≤7 window days they
    * serve (bounded row-local generate — never a per-day self-join or
    * a sliding COUNT DISTINCT window, which Spark cannot do exactly),
    * then one count-distinct per day, semi-joined back to days that
    * actually occur. */
  def rollingDau(s: SparkSession, dir: String): DataFrame = {
    val dayUser = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val served = dayUser.select(
      explode(sequence(lit(0), lit(6))).as("off"), col("day"), col("user_id"))
      .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
    val realDays = dayUser.select("day").distinct()
    served.join(realDays, Seq("day"), "left_semi")
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy("day")
  }

  /** CUBE over (event_type, day-of-week): all four grouping sets in one
    * pass with '(all)' markers — the OLAP cross-total companion of
    * q_rollup. */
  def cubeTotals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), dayofweek(col("ts")).as("dow"), col("value"))
      .cube(col("event_type"), col("dow"))
      // grouping() distinguishes a CUBE subtotal from a genuine null
      // group — coalesce alone would merge both into '(all)' and leave
      // duplicate keys whose order is engine-dependent. (It is only
      // valid inside the aggregate list, hence the _g columns.)
      .agg(count(lit(1)).as("n"), Tables.moneySum(col("value")).as("total"),
        grouping(col("event_type")).as("_ge"), grouping(col("dow")).as("_gd"))
      .select(
        when(col("_ge") === 1, lit("(all)"))
          .otherwise(coalesce(col("event_type"), lit("(null)")))
          .as("event_type"),
        when(col("_gd") === 1, lit("(all)"))
          .otherwise(coalesce(col("dow").cast("string"), lit("(null)")))
          .as("dow"),
        col("n"), col("total"))
      .orderBy("event_type", "dow")

  /** Z-score outlier flagging: values snap to integer cents, so the
    * per-type (n, Σv, Σv²) stats are EXACT longs (Σv² < 2⁵³ through
    * sf0.1, so the double conversion is lossless) — the subsequent
    * double math runs on identical inputs in every engine and
    * partitioning, making the z-scores and the >2.5σ flags
    * reproducible (a naive double sum would be order-dependent).
    * z is scale-invariant, so cents vs units cancels. Stats rows are
    * |types|-sized and broadcast back over the events. */
  def zscoreOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
    val stats = e.groupBy("event_type").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("vc")).cast("double").as("sv"),
      sum(col("vc") * col("vc")).cast("double").as("svv"))
    val mean = col("sv") / col("n")
    val variance = (col("svv") - col("sv") * col("sv") / col("n")) /
      (col("n") - lit(1.0))
    e.join(broadcast(stats), "event_type")
      .withColumn("z", (col("vc").cast("double") - mean) / sqrt(variance))
      .filter(abs(col("z")) > 2.5)
      .select(col("event_id"), col("event_type"), round(col("z"), 4).as("z"))
      .orderBy("event_id")
  }

  /** Spatial point-in-box join ([[graft.operators.SpatialJoin]]):
    * deterministic synthetic points (from customer keys) against
    * synthetic boxes (from part keys), grid-binned at 8° cells — the
    * equi-join shape for footprint-contains-point queries that a naive
    * plan writes as a quadratic nested loop over four inequalities.
    * All coordinates are integer-derived doubles (+0.5), so
    * containment comparisons are exact in both engines. */
  def spatialJoin(s: SparkSession, dir: String): DataFrame = {
    val pts = t(s, dir, "customer").select(
      col("c_custkey").as("point_id"),
      (pmod(col("c_custkey") * 37, lit(360)) - 180 + lit(0.5)).as("px"),
      (pmod(col("c_custkey") * 53, lit(170)) - 85 + lit(0.5)).as("py"))
    val boxes = t(s, dir, "part").select(
      col("p_partkey").as("box_id"),
      (pmod(col("p_partkey") * 41, lit(340)) - 170).cast("double").as("xmin"),
      (pmod(col("p_partkey") * 59, lit(150)) - 75).cast("double").as("ymin"))
      .withColumn("xmax", col("xmin") + 1 + pmod(col("box_id"), lit(7)))
      .withColumn("ymax", col("ymin") + 1 + pmod(col("box_id"), lit(5)))
    graft.operators.SpatialJoin.pointInBox(pts, boxes,
        "px", "py", "xmin", "ymin", "xmax", "ymax", cellSize = 8.0)
      .groupBy("box_id")
      .agg(count(lit(1)).as("n_points"), min(col("point_id")).as("min_point"))
      .orderBy("box_id")
  }

  /** Triangle counting ([[graft.graph.Triangles]]) on a deterministic
    * 500-node circulant graph (edges to +1, +2, and 7k+3 neighbors) —
    * the oracle replays the count with an a<b<c three-way self-join,
    * gating the degree-oriented distributed algorithm end to end. */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val ids = t(s, dir, "customer")
      .select(pmod(col("c_custkey"), lit(500)).as("node")).distinct()
    val raw = ids.select(col("node").as("src"),
        pmod(col("node") + 1, lit(500)).as("dst"))
      .unionAll(ids.select(col("node").as("src"),
        pmod(col("node") + 2, lit(500)).as("dst")))
      .unionAll(ids.select(col("node").as("src"),
        pmod(col("node") * 7 + 3, lit(500)).as("dst")))
    graft.graph.Triangles.count(raw)
  }

  /** Rank-based winsorization stats: per event type, the 5%/95% clip
    * bounds selected as EXACT ranked elements (never interpolated —
    * rank arithmetic is pure integers, so both engines pick the
    * identical row), plus clipped-tail counts and the winsorized sum.
    * Everything runs in integer cents — the whole result is exact. */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    // null values are excluded up front: Spark's ASC default is
    // NULLS FIRST, DuckDB's is NULLS LAST — ranking nulls would pick
    // different clip rows per engine the moment a null value appears
    val e = t(s, dir, "events")
      .where(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("vc"))
    val wOrd = Window.partitionBy("event_type").orderBy("vc", "event_id")
    val wAll = Window.partitionBy("event_type")
    val ranked = e
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
    val kLo = greatest(floor(col("n") / 20).cast("long"), lit(1L))
    val kHi = col("n") - floor(col("n") / 20).cast("long")
    val bounds = ranked.groupBy("event_type").agg(
      min(when(col("rn") === kLo, col("vc"))).as("lo_cents"),
      min(when(col("rn") === kHi, col("vc"))).as("hi_cents"))
    e.join(broadcast(bounds), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("lo_cents")).as("lo_cents"),
        min(col("hi_cents")).as("hi_cents"),
        sum(when(col("vc") < col("lo_cents"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("vc") > col("hi_cents"), 1L).otherwise(0L)).as("n_hi"),
        sum(greatest(col("lo_cents"), least(col("hi_cents"), col("vc"))))
          .as("wsum_cents"))
      .orderBy("event_type")
  }

  /** Declarative MERGE INTO ([[graft.operators.Merge]]): the orders
    * snapshot reconciled with one batch carrying updates (every 5th
    * key, +10.00), inserts (every 11th key re-keyed +1M), deletes
    * (every 7th-not-5th key), and a delete for an ABSENT key (no-op,
    * like SQL MERGE) — one full-outer join, source wins where
    * present. */
  def mergeInto(s: SparkSession, dir: String): DataFrame = {
    val tgt = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(15,2)").as("o_totalprice"))
    // synthetic-key offsets derive from the ACTUAL key range so the
    // insert/absent-delete branches can never collide with real keys
    // (or each other) at any SF — a fixed +1M would collide at sf1
    val off = tgt.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    // ONE scan builds all four source branches via conditional structs
    // + explode instead of a 4-way union of filters (4 scans -> 1; the
    // source batch is a SET to MERGE — row order is irrelevant)
    def branch(cond: Column, key: Column, status: Column, price: Column,
               op: String) =
      when(cond, struct(key.as("o_orderkey"), status.as("o_orderstatus"),
        price.as("o_totalprice"), lit(op).as("op")))
    val src = tgt.select(explode(array(
        branch(pmod(col("o_orderkey"), lit(5)) === 0,
          col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") + lit(10)).cast("decimal(15,2)"), "upsert"),
        branch(pmod(col("o_orderkey"), lit(11)) === 0,
          col("o_orderkey") + off, lit("N"), col("o_totalprice"),
          "upsert"),
        branch(pmod(col("o_orderkey"), lit(7)) === 0 &&
            pmod(col("o_orderkey"), lit(5)) =!= 0,
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          "delete"),
        branch(pmod(col("o_orderkey"), lit(13)) === 0,
          col("o_orderkey") + 2 * off, col("o_orderstatus"),
          col("o_totalprice"), "delete"))).as("__s"))
      .filter(col("__s").isNotNull)
      .select("__s.*")
    graft.operators.Merge.mergeInto(tgt, src,
        Seq("o_orderkey"), deleteWhen = Some(col("op") === "delete"))
      .withColumn("o_totalprice",
        round(col("o_totalprice"), 2).cast("double"))
      .orderBy("o_orderkey")
  }

  /** Salted equi-join ([[graft.operators.Skew]].saltedJoin) through a
    * manufactured hot key: every 4th lineitem collapses onto suppkey 0
    * (~25% of the probe side on one key — the shape where a sort-merge
    * task funnels). The salted path must reproduce the plain join's
    * aggregate exactly. */
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    // hot key -1 sits OUTSIDE the supplier key range (suppkeys are
    // 0-based here), so the injected HOT build row can never collide
    // with a real supplier and double-emit the hot probe rows
    val probe = t(s, dir, "lineitem")
      .select(when(pmod(col("l_orderkey"), lit(4)) === 0, lit(-1L))
          .otherwise(col("l_suppkey")).as("k"),
        col("l_quantity"))
    val build = t(s, dir, "supplier")
      .select(col("s_suppkey").as("k"), col("s_name").as("name"))
      .unionByName(s.range(1).select(lit(-1L).as("k"), lit("HOT").as("name")))
    graft.operators.Skew.saltedJoin(probe, build, Seq("k"), salts = 16)
      .groupBy("name")
      .agg(count(lit(1)).as("n"), Tables.moneySum(col("l_quantity")).as("qty"))
      .orderBy("name")
  }
}
