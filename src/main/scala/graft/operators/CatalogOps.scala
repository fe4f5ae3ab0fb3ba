package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog management — the engine's analog of the reference's
  * ingestion-API scripts (`scripts/ingest.py`: list/get/delete
  * ingestions; `scripts/item.py` insert). The catalog here is a
  * collection-partitioned parquet table, so management operations are
  * queries/writes, not REST calls.
  *
  * Deletion rewrites ONLY the partitions that contain the targeted
  * ids (dynamic partition overwrite) — at 100 TB a delete touches the
  * affected collections, never the whole catalog. */
object CatalogOps {

  def read(spark: SparkSession, catalogPath: String): DataFrame =
    spark.read.parquet(catalogPath)

  /** `ingest list` analog: per-collection item counts + time range. */
  def summary(spark: SparkSession, catalogPath: String): DataFrame =
    read(spark, catalogPath).groupBy("collection")
      .agg(count(lit(1)).as("n_items"),
        min(coalesce(col("datetime"), col("start_datetime"))).as("earliest"),
        max(coalesce(col("datetime"), col("end_datetime"))).as("latest"))
      .orderBy("collection")

  /** `ingest get` analog: fetch items by id (partition-pruned when the
    * caller also knows the collection). */
  def get(spark: SparkSession, catalogPath: String,
          ids: Seq[String]): DataFrame =
    read(spark, catalogPath).filter(col("id").isin(ids: _*))

  /** Stage `replacement` (rows for the affected collections only) to a
    * temp directory, then swap it in: every directory in `affectedDirs`
    * is deleted and the staged partition directories move into place.
    * Staging first means the plan never reads files it has already
    * overwritten; explicit deletion means emptied partitions lose
    * their files too (dynamic partition overwrite would leave them). */
  private def replacePartitions(spark: SparkSession, catalogPath: String,
                                affectedDirs: Seq[org.apache.hadoop.fs.Path],
                                replacement: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val catPath = new Path(catalogPath)
    val fs = catPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(catPath.getParent,
      s".${catPath.getName}_staging_${java.util.UUID.randomUUID()}")
    // Failure discipline: while ONLY the staging write has run, any
    // failure cleans the staging dir and leaves the catalog untouched.
    // Once originals start being deleted, the staging dir is the only
    // remaining copy of their rows — it must survive any failure (a
    // blanket finally-delete would silently destroy a partition whose
    // rename returned false), and rename results are CHECKED, with
    // the staged path named in the error for manual recovery. A JVM
    // crash between the delete and the renames leaves the same staged
    // copy behind, discoverable by the `.<catalog>_staging_` prefix.
    var swapStarted = false
    try {
      replacement.write.mode(SaveMode.Overwrite)
        .partitionBy("collection").parquet(tmp.toString)
      swapStarted = true
      affectedDirs.foreach(dir => fs.delete(dir, true))
      fs.listStatus(tmp).filter(_.getPath.getName.startsWith("collection="))
        .foreach { st =>
          val dst = new Path(catPath, st.getPath.getName)
          require(fs.rename(st.getPath, dst),
            s"rename ${st.getPath} -> $dst failed; the original " +
              s"partition was already removed and its replacement is " +
              s"STAGED under $tmp — move it into place manually")
        }
      fs.delete(tmp, true) // all renames landed: staging is now empty
    } catch {
      case e: Throwable =>
        if (!swapStarted) fs.delete(tmp, true)
        throw e
    }
  }

  /** The catalog scan with each row's source file as an ordinary `__f`
    * column, projected at the scan. `input_file_name()` evaluated
    * above a join is refused when the other side reads files too and
    * comes back empty once the join shuffles this side; a projected
    * column survives both. */
  private def tagged(catalog: DataFrame): DataFrame =
    catalog.withColumn("__f", col("_metadata.file_path"))

  /** One aggregation answers everything the rewrite planning needs
    * about the matched (file-tagged) rows: which files (→ partition
    * dirs), which collections, and how many rows — previous shape
    * re-scanned the matched partitions once per question (4-5 jobs per
    * call). */
  private def matchInfo(matched: DataFrame)
  : (Seq[org.apache.hadoop.fs.Path], Seq[String], Long) = {
    val rows = matched
      .groupBy(col("__f"), col("collection").as("__c"))
      .agg(count(lit(1)).as("__n")).collect()
    // file_path is a URL-encoded URI string
    (rows.map(r => new org.apache.hadoop.fs.Path(
        new java.net.URI(r.getString(0))).getParent)
      .distinct.toIndexedSeq,
      rows.map(_.getString(1)).distinct.toIndexedSeq,
      rows.map(_.getLong(2)).sum)
  }

  /** `ingest delete` analog: remove items by id, rewriting only the
    * partitions that contain them. */
  def delete(spark: SparkSession, catalogPath: String,
             ids: Seq[String]): Long = {
    val catalog = read(spark, catalogPath)
    val (affectedDirs, affected, removed) =
      matchInfo(tagged(catalog).filter(col("id").isin(ids: _*)))
    if (affectedDirs.isEmpty) return 0L
    val remaining = catalog.filter(col("collection").isin(affected: _*))
      .filter(!col("id").isin(ids: _*))
    replacePartitions(spark, catalogPath, affectedDirs, remaining)
    removed
  }

  /** `ingest insert/update` analog: upsert items — new ids append, ids
    * already present are REPLACED by the incoming row. Only the
    * affected collections' partitions rewrite; everything else appends
    * untouched. Returns the number of replaced (pre-existing) ids. */
  def upsert(spark: SparkSession, catalogPath: String,
             items: DataFrame): Long = {
    val fs = new org.apache.hadoop.fs.Path(catalogPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(catalogPath))) {
      items.write.mode(SaveMode.Append)
        .partitionBy("collection").parquet(catalogPath)
      return 0L
    }
    val catalog = read(spark, catalogPath)
    val keys = items.select(col("collection").as("__c"), col("id").as("__i"))
    val clashing = tagged(catalog).join(keys,
      col("collection") === col("__c") && col("id") === col("__i"), "left_semi")
    val (affectedDirs, affected, replaced) = matchInfo(clashing)
    if (affectedDirs.isEmpty) {
      items.write.mode(SaveMode.Append)
        .partitionBy("collection").parquet(catalogPath)
      return 0L
    }
    // affected collections rewrite: survivors (old minus clashing ids)
    // plus ALL incoming rows for those collections; the rest appends
    val survivors = catalog.filter(col("collection").isin(affected: _*))
      .join(keys, col("collection") === col("__c") && col("id") === col("__i"),
        "left_anti")
    val incomingAffected = items.filter(col("collection").isin(affected: _*))
    replacePartitions(spark, catalogPath, affectedDirs,
      survivors.unionByName(incomingAffected))
    val incomingRest = items.filter(!col("collection").isin(affected: _*))
    if (!incomingRest.isEmpty)
      incomingRest.write.mode(SaveMode.Append)
        .partitionBy("collection").parquet(catalogPath)
    replaced
  }
}
