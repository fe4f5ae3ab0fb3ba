package graft.streaming

import graft.model.{PipelineEvent, Schemas}
import graft.operators.StacBuilder
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** T1/T2/T7 — the standing publication stream (reference §3.3: SQS
  * drain → proxy → publication state machine).
  *
  * Spark shape: `readStream` over a file_obj drop directory (the queue;
  * K5's SQS hop becomes a directory between jobs), micro-batched on a
  * processing-time trigger (the SQS 20-30 s batch window, T1), items
  * built per batch and appended to the collection-partitioned catalog;
  * rows that fail item build (no extractable date) are retried with an
  * attempt counter and land in the quarantine DLQ after `maxAttempts`
  * (T2 — the redrive policy of `queue_stack.py:25-46`). Per-collection
  * grouping (T7/A1) is the catalog partitioning itself. */
object Publication {

  def start(spark: SparkSession, ev: PipelineEvent, inDir: String,
            catalogDir: String, quarantineDir: String,
            checkpointDir: String, maxAttempts: Int = 3,
            triggerInterval: String = "20 seconds"): StreamingQuery = {
    val stream = spark.readStream
      .schema(Schemas.fileObj)
      .option("maxFilesPerTrigger", 10) // SQS batch size 10 analog
      .json(inDir)
    stream.writeStream
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, ev, inDir, catalogDir, quarantineDir,
          maxAttempts, batchId)
      }
      .start()
  }

  /** One micro-batch: good rows build items written to the catalog,
    * failed rows (no extractable datetime) re-enqueue with attempt+1
    * until `maxAttempts`, then quarantine. The failure flag is computed
    * directly on the batch — no re-derivation join, so rows whose
    * item_id is NULL (id_regex matched 0 or >1 times) still reach the
    * retry/quarantine path. Exposed for deterministic tests.
    *
    * Replay safety: foreachBatch is at-least-once (a crash between a
    * write and the offset commit re-runs the batch), so the catalog
    * and quarantine writes key their output by `batch=<id>` partition
    * and DYNAMIC-overwrite it — a replayed batch rewrites its own
    * partitions instead of appending duplicates (the
    * StreamingClassify.scoreTo contract; readers ignore or drop the
    * extra `batch` column). The retry re-enqueue into the INPUT
    * directory stays append-only — a replayed retry row re-enters the
    * pipeline where it either fails again into the (idempotent)
    * quarantine or publishes into the (idempotent) catalog, so
    * duplication there amplifies work, never published artifacts. */
  def processBatch(batch0: DataFrame, ev: PipelineEvent, inDir: String,
                   catalogDir: String, quarantineDir: String,
                   maxAttempts: Int, batchId: Long = 0L): Unit = {
    if (batch0.isEmpty) return
    // one source read + datetime-extraction pass, not one per action:
    // this method runs up to 6 actions over the batch frame
    val batch = batch0.persist()
    try {
      val failFlag = StacBuilder.datetimes(ev).isNull
      val good = batch.filter(!failFlag)
      def dynOverwrite[T](w: org.apache.spark.sql.DataFrameWriter[T]) =
        w.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
      if (!good.isEmpty)
        dynOverwrite(StacBuilder.regexItems(good, ev)
          .drop("datetime_error")
          .withColumn("batch", lit(batchId))
          .write).partitionBy("collection", "batch")
          .parquet(catalogDir)
      val failed = batch.filter(failFlag)
        .withColumn("attempt", coalesce(col("attempt"), lit(0)) + 1)
      val (dead, retry) = (failed.filter(col("attempt") >= maxAttempts),
        failed.filter(col("attempt") < maxAttempts))
      if (!dead.isEmpty)
        dynOverwrite(dead.withColumn("batch", lit(batchId)).write)
          .partitionBy("batch").json(quarantineDir)
      if (!retry.isEmpty)
        retry.write.mode(SaveMode.Append).json(inDir)
    } finally batch.unpersist()
  }
}
