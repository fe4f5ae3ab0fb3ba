package graft.operators

import graft.functions.Ids
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K2/J3/U3 — data-transfer planning and execution (reference
  * `lambdas/data-transfer/handler.py:35-70`).
  *
  * The reference issues one `head_object` probe per row to skip
  * existing targets; here that becomes a single left-anti join against
  * a target-listing DataFrame (J3) — N probes collapse to one listing +
  * one shuffle, which is the scalable shape at 100 TB.
  */
object Transfer {

  val DefaultDirectory = "file-staging"

  /** Target key layout `{directory|file-staging}/{collection}/{filename}`
    * (`handler.py:46-50`); an explicit empty directory means no prefix
    * (the reference's `if directory:` falsiness). */
  def targetKey(url: Column, collection: Column, directory: Column): Column = {
    val dir = coalesce(directory, lit(DefaultDirectory))
    val base = concat_ws("/", collection, Ids.fileName(url))
    when(length(dir) > 0, concat_ws("/", dir, base)).otherwise(base)
  }

  /** Eligibility (`handler.py:35`): skip when
    * `(upload && cogify) || !upload` — i.e. copy only plain uploads
    * (cogify handles its own upload). NULL flags read as false (the
    * reference's falsy semantics), so the result is never NULL. */
  def eligible: Column = {
    val up = coalesce(col("upload"), lit(false))
    val cog = coalesce(col("cogify"), lit(false))
    !((up && cog) || !up)
  }

  /** Annotate file_objs with transfer plan columns: `transfer_eligible`,
    * `target_key`, `target_url` (user_shared routes to the shared
    * bucket, `handler.py:38-39`). `directory` may come from the
    * per-object `extra` map. */
  def plan(objs: DataFrame, targetBucket: String,
           userSharedBucket: Option[String] = None): DataFrame = {
    val url = col("remote_fileurl")
    val directory = element_at(coalesce(col("extra"),
      lit(null).cast("map<string,string>")), "directory")
    val key = targetKey(url, col("collection"), directory)
    val bucket = userSharedBucket match {
      case Some(shared) =>
        when(coalesce(col("user_shared"), lit(false)), lit(shared))
          .otherwise(lit(targetBucket))
      case None => lit(targetBucket)
    }
    objs
      .withColumn("transfer_eligible", eligible)
      .withColumn("target_key", when(eligible, key))
      .withColumn("target_url",
        when(eligible, concat(bucket, lit("/"), key)))
  }

  /** J3/U3 — drop planned copies whose target key already exists:
    * left-anti join against the target listing (idempotent re-runs). */
  def skipExisting(planned: DataFrame, existingKeys: DataFrame): DataFrame = {
    val existing = existingKeys.select(col(existingKeys.columns.head).as("__k"))
    planned.join(existing, planned("target_key") === existing("__k"),
      "left_anti")
  }

  /** Earthdata-URS credentials: basic auth presented ONLY to
    * `authHost` during the 302 redirect-cookie flow (the reference's
    * `requests.Session` dance, `cogify/handler.py:64-86`). `authHost`
    * is "host" or "host:port". */
  case class UrsAuth(username: String, password: String,
                     authHost: String = "urs.earthdata.nasa.gov")
    extends Serializable

  /** S7 — auth for http(s) sources: a bearer token (Earthdata token
    * auth), direct basic credentials (the reference's
    * username/password session, `cogify/handler.py:68-77`), or the
    * URS redirect flow (`urs`, which wins when set). */
  case class HttpAuth(bearerToken: Option[String] = None,
                      basic: Option[(String, String)] = None,
                      urs: Option[UrsAuth] = None)
    extends Serializable {
    def headers: Map[String, String] =
      bearerToken.map(t => Map("Authorization" -> s"Bearer $t"))
        .orElse(basic.map { case (u, p) =>
          Map("Authorization" -> ("Basic " +
            java.util.Base64.getEncoder.encodeToString(
              s"$u:$p".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        })
        .getOrElse(Map.empty)
  }

  /** Execute the copies partition-parallel and rewrite `remote_fileurl`
    * to the target (`handler.py:51-72`). `http(s)://` sources download
    * via an authenticated HTTP GET (S7 — the reference's Earthdata
    * session, `cogify/handler.py:64-86`); everything else copies via
    * the Hadoop FileSystem API (file:// in tests, s3a:// at scale).
    * Rows that are not transfer-eligible pass through untouched. */
  def execute(planned: DataFrame, httpAuth: HttpAuth = HttpAuth())
  : DataFrame = {
    val spark = planned.sparkSession
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    val schema = planned.schema
    val urlIdx = schema.fieldIndex("remote_fileurl")
    val eligIdx = schema.fieldIndex("transfer_eligible")
    val tgtIdx = schema.fieldIndex("target_url")
    val out = planned.mapPartitions { rows =>
      rows.map { row =>
        if (!row.isNullAt(eligIdx) && row.getBoolean(eligIdx) &&
            !row.isNullAt(tgtIdx)) {
          val srcUrl = row.getString(urlIdx)
          val dst = new org.apache.hadoop.fs.Path(row.getString(tgtIdx))
          val dstFs = dst.getFileSystem(hadoopConf.value)
          if (srcUrl.startsWith("http://") || srcUrl.startsWith("https://")) {
            // streamed copy: the body never sits in executor memory
            // (granules can exceed the heap); each retry reopens a
            // fresh, truncating sink. Download lands in a temp sibling
            // and renames into place only on success — a failed fetch
            // must never leave a truncated file where the idempotent
            // skipExisting re-run would see a completed copy
            val tmp = dst.suffix("._COPYING_")
            try {
              httpAuth.urs match {
                case Some(u) =>
                  graft.sources.dsv2.HttpPages.downloadUrs(srcUrl,
                    u.username, u.password, u.authHost,
                    () => dstFs.create(tmp, true))
                case None =>
                  graft.sources.dsv2.HttpPages.download(srcUrl,
                    httpAuth.headers, () => dstFs.create(tmp, true))
              }
              dstFs.delete(dst, false)
              if (!dstFs.rename(tmp, dst))
                throw new java.io.IOException(s"rename $tmp -> $dst failed")
            } catch {
              case e: Throwable =>
                try dstFs.delete(tmp, false) catch { case _: Exception => () }
                throw e
            }
          } else {
            val src = new org.apache.hadoop.fs.Path(srcUrl)
            val srcFs = src.getFileSystem(hadoopConf.value)
            org.apache.hadoop.fs.FileUtil.copy(
              srcFs, src, dstFs, dst, false, true, hadoopConf.value)
          }
          val vals = row.toSeq.updated(urlIdx, row.getString(tgtIdx))
          Row.fromSeq(vals)
        } else row
      }
    }(RowEncoder.encoderFor(schema))
    out
  }
}
