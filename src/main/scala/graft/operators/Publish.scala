package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._

/** K1/K4/K6/T2/T4 — publication sinks.
  *
  * The catalog itself is a table (K1): the reference's 256 KiB payload
  * dodge and per-item REST POSTs are replaced by a partitioned parquet
  * write. [[toApi]] keeps the REST-ingestor shape (K4) for parity:
  * per-partition submit with selective retry (T4) and a quarantine DLQ
  * (T2), the Spark analog of the SQS redrive policy
  * (`deploy/cdk/queue_stack.py:25-46`). */
object Publish {

  /** K1: items → partitioned catalog table, collection-partitioned so
    * per-collection reads prune (J2-style lookups become partition
    * pruning at scale). */
  def toCatalog(items: DataFrame, path: String,
                mode: SaveMode = SaveMode.Append): Unit =
    items.write.mode(mode).partitionBy("collection").parquet(path)

  /** Pluggable item submitter (the Cognito/OAuth REST ingestor in the
    * reference, `submit-stac/handler.py:40-93`; a local collector in
    * tests). Implementations throw [[RetryableFailure]] for transient
    * errors — only those retry, mirroring the reference's selective
    * `RasterioIOError`-only retry policy (T4,
    * `step_function_stack.py:237-241`). */
  trait Submitter extends Serializable {
    def submit(itemJson: String): Unit
  }

  final class RetryableFailure(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** K4's production submitter — the Cognito client-credentials OAuth
    * flow of the reference (`submit-stac/handler.py:40-93`): POST
    * `{cognito_domain}/oauth2/token` with HTTP Basic client auth and
    * `grant_type=client_credentials&scope=...`, then POST each item to
    * `{base_url}/ingestions` with `Authorization: bearer <token>`.
    *
    * Token lifecycle (the part the Lambda never needed): tokens live
    * in a JVM-wide cache keyed by (tokenUrl, clientId, scope) — NOT in
    * the serialized submitter — so one fetch serves every task in the
    * executor, no matter how many task closures deserialize their own
    * submitter instance. Tokens refresh `refreshSkewSecs` before
    * `expires_in` elapses, so a long partition survives token expiry
    * mid-stream. A 401 from the ingestor (revocation between
    * refreshes) invalidates the cache entry and throws retryable, so
    * the standard retry loop re-authenticates. 5xx/429 are retryable;
    * other 4xx are permanent (T4 selective retry). */
  class OAuthSubmitter(tokenUrl: String, clientId: String,
                       clientSecret: String, scope: String,
                       ingestionsUrl: String,
                       refreshSkewSecs: Long = 60) extends Submitter {
    import graft.sources.dsv2.HttpPages

    // the secret is part of the identity: rotated/misconfigured
    // secrets must not share a token entry (nor evict each other's)
    private def cacheKey = (tokenUrl, s"$clientId:$clientSecret", scope)

    private def basicAuth: String =
      java.util.Base64.getEncoder.encodeToString(
        s"$clientId:$clientSecret".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))

    private def fetchToken(now: Long): OAuthSubmitter.CachedToken = {
      val r = HttpPages.post(tokenUrl,
        Map("Content-Type" -> "application/x-www-form-urlencoded",
          "Authorization" -> s"Basic $basicAuth"),
        "grant_type=client_credentials&scope=" +
          java.net.URLEncoder.encode(scope, "UTF-8"))
      if (r.status >= 500)
        throw new RetryableFailure(s"token endpoint HTTP ${r.status}")
      if (r.status != 200)
        throw new RuntimeException(
          s"token endpoint HTTP ${r.status}: ${r.body.take(200)}")
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(r.body)
      OAuthSubmitter.CachedToken(node.get("access_token").asText(),
        now + node.get("expires_in").asLong())
    }

    private[operators] def currentToken(): String = {
      // per-key lock: a hanging token endpoint must only stall its own
      // (tokenUrl, client, scope) — never unrelated submitters whose
      // cached tokens are still valid
      val lock = OAuthSubmitter.locks
        .computeIfAbsent(cacheKey, _ => new Object)
      lock.synchronized {
        val now = System.currentTimeMillis() / 1000
        val cached = OAuthSubmitter.cache.get(cacheKey)
        if (cached != null && now < cached.expiresAt - refreshSkewSecs)
          cached.token
        else {
          val fresh = fetchToken(now)
          OAuthSubmitter.cache.put(cacheKey, fresh)
          fresh.token
        }
      }
    }

    override def submit(itemJson: String): Unit = {
      val r = HttpPages.post(ingestionsUrl,
        Map("Content-Type" -> "application/json",
          "Authorization" -> s"bearer ${currentToken()}"), itemJson)
      if (r.status == 401) {
        // stale/revoked token: invalidate so the retry re-auths
        OAuthSubmitter.cache.remove(cacheKey)
        throw new RetryableFailure(
          s"HTTP 401 from ingestor (token dropped for re-auth)")
      }
      if (r.status >= 500 || r.status == 429)
        throw new RetryableFailure(s"HTTP ${r.status}: ${r.body.take(200)}")
      if (r.status >= 400)
        throw new RuntimeException(s"HTTP ${r.status}: ${r.body.take(200)}")
    }
  }

  object OAuthSubmitter {
    private[operators] case class CachedToken(token: String,
                                              expiresAt: Long)
    /** JVM-wide token cache: (tokenUrl, client identity, scope) →
      * token, with one lock object per key. */
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[(String, String, String),
        CachedToken]()
    private val locks =
      new java.util.concurrent.ConcurrentHashMap[(String, String, String),
        Object]()
  }

  /** Submission outcome row. */
  case class SubmitResult(item_json: String, ok: Boolean, attempts: Int,
                          error: String)

  /** K4: submit each item (as JSON) through `submitter`, retrying
    * retryable failures up to `maxAttempts` with a fixed delay
    * (reference: 5 attempts x 2 s, `step_function_stack.py:66-99`).
    * Returns per-item outcomes; callers write failures to a quarantine
    * path via [[quarantine]] (T2). Dry-run (K6) skips submission. */
  def toApi(items: DataFrame, submitter: Submitter, maxAttempts: Int = 3,
            retryDelayMs: Long = 0L, dryRun: Boolean = false)
  : Dataset[SubmitResult] = {
    val spark = items.sparkSession
    import spark.implicits._
    val jsons = items.select(to_json(struct(items.columns.map(col): _*))
      .as("item_json")).as[String]
    if (dryRun)
      jsons.map(j => SubmitResult(j, ok = true, attempts = 0, error = null))
    else jsons.mapPartitions { iter =>
      iter.map { j =>
        var attempt = 0
        var done = false
        var permanent = false
        var err: String = null
        while (!done && !permanent && attempt < maxAttempts) {
          attempt += 1
          try { submitter.submit(j); done = true; err = null }
          catch {
            case e: RetryableFailure =>
              err = e.getMessage
              if (attempt < maxAttempts && retryDelayMs > 0)
                Thread.sleep(retryDelayMs)
            case e: Exception => // permanent: no retry (T4)
              err = e.getMessage
              permanent = true
          }
        }
        SubmitResult(j, done, attempt, err)
      }
    }
  }

  /** T2: append failed submissions to the quarantine (DLQ) path. */
  def quarantine(results: Dataset[SubmitResult], path: String): Long = {
    val failed = results.filter(!col("ok"))
    val n = failed.count()
    if (n > 0) failed.write.mode(SaveMode.Append).json(path)
    n
  }
}
