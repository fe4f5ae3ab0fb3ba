package graft.pipeline

import graft.Materializer.MaterializeOps
import graft.model.PipelineEvent
import graft.operators.{Cogify, Publish, StacBuilder, Transfer}
import graft.sources.{Cmr, Discovery}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** §3.1 — the whole pipeline as ONE Spark job:
  * `event → discover (S1|S2|S3) → [cogify] → [transfer] → build-stac →
  * catalog/API sink`, replacing the reference's three Step Function
  * state machines + SQS hops. Catalyst analyzes/optimizes the whole
  * chain as one plan; the only process boundaries left are shuffle
  * exchanges and executor↔storage IO (SURVEY §3.1).
  */
object Runner {

  /** External inputs a run may need (fixture granule catalogs, target
    * listings, conversion plumbing). */
  case class RunContext(
      granules: Option[DataFrame] = None,
      /** Page-file directory for the partition-per-page CMR source
        * (graft-cmr-pages); used when no granule frame is given.
        * The event's `limit` is the page size. */
      granulePagesDir: Option[String] = None,
      targetBucket: Option[String] = None,
      userSharedBucket: Option[String] = None,
      existingTargetKeys: Option[DataFrame] = None,
      executeTransfer: Boolean = false,
      /** Default: convert into the JVM's temp directory, like the
        * reference's /tmp working files, never over the input. */
      cogifyTransform: Cogify.FileTransform = new Cogify.RasterCogTransform(
        outDir = Some(System.getProperty("java.io.tmpdir") + "/graft-cog")),
      cogifyConfigs: Map[String, Cogify.CollectionConfig] = Map.empty)

  case class RunResult(items: DataFrame, quarantined: DataFrame)

  /** The granule catalog for a cmr run: an explicit frame, or the
    * partition-per-page source over `granulePagesDir`. */
  private def granuleFrame(spark: SparkSession, ev: PipelineEvent,
                           ctx: RunContext): DataFrame =
    ctx.granules
      .orElse(ctx.granulePagesDir.map(d =>
        Cmr.pagedGranules(spark, d, ev.limit)))
      .getOrElse(throw new IllegalArgumentException(
        "cmr discovery requires a granule catalog or pages dir"))

  /** Route the discovery stage on `event.discovery`
    * (`step_function_stack.py:146-161` Choice state). */
  def discover(spark: SparkSession, ev: PipelineEvent,
               ctx: RunContext = RunContext()): DataFrame =
    ev.discovery match {
      case "inventory" => Discovery.inventory(spark, ev)
      case "s3" => Discovery.listing(spark, ev)
      case "cmr" => Cmr.discover(granuleFrame(spark, ev, ctx), ev)
      case other =>
        throw new IllegalArgumentException(s"unknown discovery: $other")
    }

  /** Full run: returns the built items plus the quarantine split (rows
    * whose item build failed — the reference raises per Lambda and
    * relies on SQS redrive; here they are a DataFrame, T2). On cogify
    * runs a failed conversion is quarantined too, with its reason in a
    * `cog_error` column (null on rows quarantined for their date).
    *
    * The built frame is the `runner_items` reuse point: both outputs,
    * and every action on them, read one computation — discovery and
    * each file's conversion run once per run, not once per consumer. */
  def run(spark: SparkSession, ev: PipelineEvent,
          ctx: RunContext = RunContext()): RunResult = {
    var objs = discover(spark, ev, ctx)

    // Cogify stage ("Cogify?" Choice, step_function_stack.py:133-144)
    if (ev.cogify)
      objs = Cogify.run(objs, ctx.cogifyTransform, ctx.cogifyConfigs)

    // Transfer stage (publication SM head, data-transfer/handler.py)
    ctx.targetBucket.foreach { bucket =>
      var planned = Transfer.plan(objs, bucket, ctx.userSharedBucket)
      ctx.existingTargetKeys.foreach { existing =>
        val skipped = Transfer.skipExisting(
          planned.filter(col("transfer_eligible")), existing)
        planned = planned.filter(!col("transfer_eligible"))
          .unionByName(skipped)
      }
      objs =
        (if (ctx.executeTransfer) Transfer.execute(planned) else planned)
          .drop("transfer_eligible", "target_key", "target_url")
    }

    // STAC build: CmrEvent vs RegexEvent dispatch = presence of
    // granule_id (build-stac/handler.py:40-41)
    val keep = if (ev.cogify) Seq("cog_error") else Nil
    val items = (ev.discovery match {
      case "cmr" =>
        StacBuilder.cmrItems(objs, granuleFrame(spark, ev, ctx), ev, keep)
      case _ =>
        StacBuilder.regexItems(objs, ev, keep)
    }).materialized("runner_items")
    val failed =
      if (ev.cogify) col("datetime_error") || col("cog_error").isNotNull
      else col("datetime_error")
    val good = items.filter(!failed).drop("datetime_error", "cog_error")
    val bad = items.filter(failed).drop("datetime_error")
    RunResult(good, bad)
  }

  /** Run + persist: catalog append (K1) and quarantine (T2). */
  def runToCatalog(spark: SparkSession, ev: PipelineEvent,
                   catalogPath: String, quarantinePath: String,
                   ctx: RunContext = RunContext()): Unit = {
    val r = run(spark, ev, ctx)
    Publish.toCatalog(r.items, catalogPath)
    if (!r.quarantined.isEmpty)
      r.quarantined.write.mode(SaveMode.Append).json(quarantinePath)
  }
}
