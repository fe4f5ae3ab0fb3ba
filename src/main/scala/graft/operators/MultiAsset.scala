package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** J1 — multi-asset grouping ("product join"), the reference's only
  * real join (`cmr-query/handler.py:10-101`).
  *
  * Semantics: `product_id = regex_search(data_file_regex, url)`;
  * sibling files fold into a sorted `Map[asset_name → url]` where
  * `asset_name = re.sub(".*{product_id}[-_.]?", "", url)`; rows whose
  * url matches `.*{product_id}.*{data_file}` get the full sibling map
  * plus the `product_id`.
  *
  * Spark shape (r13): ONE scan, ONE shuffle. The per-row regex triple
  * is a single fused native expression
  * ([[graft.expr.MultiAssetPartsExpr]] — one String materialization,
  * early-out on non-matching urls, literal prefilter before the
  * data-file regex); the reference's O(groups × rows) nested loop
  * collapses to one `groupBy(product_id)` that builds BOTH the sorted
  * sibling map AND the bag of data-file rows, then explodes the bag —
  * no join back, so the earlier two-branch shape's second scan, second
  * agg exchange, and join exchange all disappear. Per-product state is
  * bounded by the sibling count (dozens — SURVEY §4's UAVSAR case), so
  * the collect_list buffers stay KB-sized at any corpus scale, and the
  * one shuffle carries each payload row exactly once (the join shape
  * moved the same bytes, plus the map side). A duplicate asset name
  * within a product last-wins in the reference's dict; the sorted
  * entry list keeps the lexicographically-max href per name (the
  * deterministic equivalent, bit-identical to the old
  * `groupBy(product_id, asset_name).agg(max(href))` pre-pass). */
object MultiAsset {

  /** If `pattern` is a literal modulo escapes (no unescaped regex
    * metacharacters, escapes only of punctuation), return the literal
    * string it matches — used to prefilter with a codegen'd `contains`
    * before the real regex runs (measured ~7 s of the sf0.1 J1 query
    * was plain rlike backtracking over rows that a substring test
    * rejects for free). */
  private[graft] def literalOf(pattern: String): Option[String] = {
    val meta = ".[](){}*+?^$|"
    val sb = new StringBuilder
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '\\') {
        if (i + 1 >= pattern.length) return None
        val e = pattern.charAt(i + 1)
        if (Character.isLetterOrDigit(e)) return None // \d, \w, \1, ...
        sb.append(e); i += 2
      } else if (meta.indexOf(c) >= 0) return None
      else { sb.append(c); i += 1 }
    }
    Some(sb.toString)
  }

  /** Declarative twin of [[graft.expr.MultiAssetPartsExpr]] — the
    * executable spec NativeExprSpec holds the native expression to:
    * the same three regex legs as separate built-in expressions.
    * NULL when the url has no (non-empty) product match.
    *
    * asset_name: the reference interpolates the extracted id into a
    * per-row pattern (`cmr-query/handler.py:82-83`); since the id IS
    * the dataFileRegex match, substituting the generic pattern is
    * equivalent whenever it matches once per url (every shipped
    * config) and lets the regex compile once instead of per row.
    * is_data: residual of the reference's `.*{product_id}.*{data_file}`
    * match — rlike is an unanchored find, so the leading `.*`
    * (re.match) is dropped. */
  private[graft] def partsTwin(url: Column, dataFileRegex: String,
                               dataFile: String): Column = {
    val pid = regexp_extract(url, dataFileRegex, 0)
    when(pid =!= "", struct(
      pid.as("product_id"),
      regexp_replace(url, s".*$dataFileRegex[-_.]?", "")
        .as("asset_name"),
      url.rlike(s"$dataFileRegex.*$dataFile").as("is_data")))
  }

  def attach(objs: DataFrame, dataFile: String, dataFileRegex: String): DataFrame = {
    // payload = every input column except the two this operator
    // (re)defines; carried through the shuffle as one struct
    val payload = objs.columns.filterNot(c => c == "assets" || c == "product_id").toSeq
    // widen narrow inputs before the per-row regex triple + grouping
    // buffers (the dedup operators' spread rule): a single listing file
    // arrives in O(bytes / maxPartitionBytes) scan partitions — often
    // one — and the whole map side would run at that width; inputs
    // already at the session's parallelism pass through shuffle-free
    val wide = graft.llm.Dedup.spread(objs, col("remote_fileurl"))
    val matched = wide
      .select(
        call("multi_asset_parts", col("remote_fileurl"),
          lit(dataFileRegex), lit(dataFile)).as("__ma"),
        struct(payload.map(col): _*).as("__row"))
      .filter(col("__ma").isNotNull)
    val grouped = matched
      .select(col("__ma.product_id").as("product_id"),
        struct(col("__ma.asset_name").as("asset_name"),
          col("__row.remote_fileurl").as("href")).as("__e"),
        // null for sibling-only rows; collect_list skips nulls, so the
        // bag holds exactly the data-file rows of the product
        when(col("__ma.is_data"), col("__row")).as("__d"))
      .groupBy("product_id")
      .agg(sort_array(collect_list(col("__e"))).as("__es"),
        collect_list(col("__d")).as("__ds"))
    // duplicate asset names last-win on the ascending (name, href)
    // sort == keep the max href: drop every entry whose successor
    // carries the same name (runs are adjacent after sort_array)
    val deduped = filter(col("__es"), (e, i) =>
      (i === size(col("__es")) - 1) ||
        element_at(col("__es"), (i + lit(2)).cast("int"))
          .getField("asset_name") =!= e.getField("asset_name"))
    grouped
      .select(col("product_id"), map_from_entries(deduped).as("assets"),
        // products with no data-file row vanish here (explode of an
        // empty bag), matching the old inner join's semantics
        explode(col("__ds")).as("__row"))
      .select(col("product_id") +:
        payload.map(c => col("__row").getField(c).as(c)) :+
        col("assets"): _*)
  }
}
