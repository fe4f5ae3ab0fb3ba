package graft.sources

import graft.model.{PipelineEvent, Schemas}
import graft.operators.MultiAsset
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S3/S4 — CMR granule catalog source.
  *
  * The reference pages `search/granules.json` 100 at a time on the
  * driver (`cmr-query/handler.py:104-151`); here the granule catalog is
  * a DataFrame — either loaded from fixture JSON (tests, local runs) or
  * produced by a partition-per-page fetch at scale — and link selection
  * (P5) + multi-asset grouping (J1) are DataFrame transforms, so the
  * pagination machinery disappears into source partitioning (SURVEY
  * §2.1/S3, §7.5).
  */
object Cmr {

  /** Load granules from fixture JSON files (one JSON object or array
    * per file, `multiLine` enabled) with the CMR granule schema. */
  def granulesFromJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.cmrGranule).option("multiLine", "true").json(path)

  /** Partition-per-page granule source (S3 at scale): each CMR result
    * page is one executor task via the `graft-cmr-pages` DSv2 table
    * ([[graft.sources.dsv2.CmrPagesSource]]); granule JSON decodes
    * against the schema partition-parallel. A LIMIT over the result
    * prunes whole pages at planning time (W4 page-limit pushdown).
    *
    * `pages` is either a directory of fixture page files or a live
    * `search/granules.json` HTTP endpoint (CMR-Hits-driven planning;
    * `token` becomes a bearer Authorization header). */
  def pagedGranules(spark: SparkSession, pages: String,
                    pageSize: Int = 100,
                    token: Option[String] = None): DataFrame = {
    val rd = spark.read.format("graft-cmr-pages")
      .option("page_size", pageSize)
    token.foreach(t => rd.option("token", t))
    rd.load(pages)
      .select(from_json(col("granule_json"), Schemas.cmrGranule).as("g"))
      .select(col("g.*"))
  }

  /** P5 + file_obj projection (reference `cmr-query/handler.py:152-193`):
    * per granule, pick the href whose link rel is the fedsearch `s3#`
    * rel or the event's `link_rel` — the reference reassigns `file_obj`
    * on every matching link and appends ONCE per granule
    * (`handler.py:156-178`), so the LAST matching link wins and a
    * granule with no matching link still emits a record (an empty dict
    * there, which fails validation downstream; here a null
    * `remote_fileurl`, which the pipeline routes to quarantine).
    * `mode=stac` instead emits one row per href ending `stac.json` and
    * starting `https` (`handler.py:157-159`) — PLUS one empty record
    * per granule, because the reference's
    * `granules_to_insert.append(file_obj)` at `handler.py:178` is
    * unconditional and `file_obj` is never populated in stac mode; the
    * empty dict fails validation downstream there, and the null-href
    * row routes to quarantine here — same fate, same cardinality.
    * Event keys containing "asset" pass through (P4). */
  def discover(granules: DataFrame, ev: PipelineEvent): DataFrame = {
    val selected = ev.mode match {
      case Some("stac") =>
        // ONE scan: each granule contributes its matching stac hrefs
        // PLUS exactly one (null, null) row — the reference's
        // unconditional file_obj append. The previous union form
        // referenced the granules frame twice, and over the DSv2
        // paged source that re-planned the scan: every CMR page
        // fetched twice and the hits probe issued twice per query.
        val hrefs = when(col("links").isNotNull,
          filter(transform(col("links"), l => l.getField("href")),
            h => h.endsWith("stac.json") && h.startsWith("https")))
          .otherwise(array().cast("array<string>"))
        granules.select(explode(concat(
          transform(hrefs, h =>
            struct(col("id").as("granule_id"), h.as("href"))),
          array(struct(lit(null).cast("string").as("granule_id"),
            lit(null).cast("string").as("href"))))).as("r"))
          .select(col("r.granule_id").as("granule_id"),
            col("r.href").as("href"))
      case _ =>
        val relMatch = (l: Column) =>
          l.getField("rel") === "http://esipfed.org/ns/fedsearch/1.1/s3#" ||
            ev.linkRel.map(r => l.getField("rel") === r).getOrElse(lit(false))
        val matching = when(col("links").isNotNull,
          filter(col("links"), relMatch))
        granules.select(col("id").as("granule_id"),
          // a granule with no matching rel yields the documented null
          // href (element_at on an empty array throws under ANSI)
          try_element_at(matching, lit(-1)).getField("href").as("href"))
    }
    val objs = selected.select(
      lit(ev.collection).as("collection"),
      col("href").as("remote_fileurl"),
      lit(ev.upload).as("upload"),
      lit(ev.userShared).as("user_shared"),
      lit(ev.ingest).as("ingest"),
      lit(ev.cogify).as("cogify"),
      lit(null).cast("map<string,string>").as("properties"),
      lit(null).cast("string").as("product_id"),
      col("granule_id"),
      lit(null).cast("map<string,string>").as("assets"),
      lit(0).as("attempt"),
      typedlit(Discovery.assetPassthrough(ev)).as("extra"))
    (ev.dataFile, ev.dataFileRegex) match {
      case (Some(df), Some(re)) => MultiAsset.attach(objs, df, re)
      case _ => objs
    }
  }
}
