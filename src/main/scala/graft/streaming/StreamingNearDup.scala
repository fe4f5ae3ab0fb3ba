package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.GraftFunctions.call

/** Streaming near-duplicate detection: the batch MinHash-LSH pipeline
  * ([[graft.llm.Dedup]]) re-expressed as keyed state over an unbounded
  * document stream — "flag each arriving document that is a near-dup
  * of anything seen before", without ever holding the corpus.
  *
  * Shape: signature and band keys are computed with the same native
  * expressions as the batch path (stateless, per-row), then the stream
  * is keyed by LSH band-bucket and `flatMapGroupsWithState` keeps a
  * bounded set of representative signatures per bucket. An arriving
  * document is compared ONLY against its bucket's representatives
  * (the LSH guarantee: near-dups collide in some band with high
  * probability), via the standard MinHash estimator (fraction of
  * agreeing signature positions).
  *
  * Scale design: state per bucket is `maxRepsPerBucket` signatures
  * (default 8 x numHashes x 8 B = 4 KiB), partitioned with the stream
  * by bucket key; per-document work is O(bands x reps); an optional
  * TTL bounds the store for unbounded streams (a representative aging
  * out re-admits its future dups — the honest trade, same as
  * [[StatefulDedup]]). Crucially the full-corpus pair join of the
  * batch path never happens: this is the streaming half of the same
  * bucketed design, NOT an all-pairs scan.
  *
  * The estimator is approximate (no exact-Jaccard verify join in the
  * stream — that needs the original texts; run the batch verifier over
  * flagged ids if exactness matters downstream). */
object StreamingNearDup {

  /** Candidate rows `(id, dup_of, est, bucket)` — one per (band,
    * arriving doc) whose best in-bucket representative agrees on
    * >= `threshold` of signature positions. A doc can be flagged in
    * several bands; dedup downstream by id (e.g.
    * [[StatefulDedup.firstOccurrence]] on a stream, or
    * `groupBy(id).agg(max(est))` in batch). Works on streaming and
    * batch frames alike. */
  def candidates(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 5, numHashes: Int = 64, bands: Int = 16,
                 threshold: Double = 0.7, maxRepsPerBucket: Int = 8,
                 stateTtl: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide $numHashes")
    val exploded = docs.select(
      col(idCol).cast("string").as("id"),
      Dedup.minhashSignature(
        Dedup.shingleHashes(col(textCol), k), numHashes).as("sig"))
      .select(col("id"), col("sig"),
        explode(Dedup.lshBandKeys(col("sig"), numHashes, bands)).as("bk"))
      .select(
        concat_ws(":", col("bk.band"), col("bk.bucket")).as("bucket"),
        col("id"), col("sig"))

    val keyed = exploded.groupByKey((r: Row) => r.getString(0))(
      Encoders.STRING)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("dup_of",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("est",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.StringType)))
    val enc = Encoders.row(outSchema)
    type BucketState = (Seq[String], Seq[Seq[Long]])
    val stateEnc = Encoders.product[(Seq[String], Seq[Seq[Long]])]

    val fn = (bucket: String, rows: Iterator[Row],
              state: GroupState[BucketState]) => {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty: Iterator[Row]
      } else {
        var (ids, sigs) = state.getOption.getOrElse(
          (Seq.empty[String], Seq.empty[Seq[Long]]))
        val out = Seq.newBuilder[Row]
        rows.foreach { r =>
          val id = r.getString(1)
          val sig = r.getSeq[Long](2)
          var bestIdx = -1; var bestAgree = -1
          var i = 0
          while (i < sigs.length) {
            var agree = 0; var j = 0
            val s = sigs(i)
            while (j < sig.length) {
              if (s(j) == sig(j)) agree += 1
              j += 1
            }
            if (agree > bestAgree) { bestAgree = agree; bestIdx = i }
            i += 1
          }
          val est =
            if (bestIdx < 0) 0.0 else bestAgree.toDouble / sig.length
          if (bestIdx >= 0 && est >= threshold)
            out += Row(id, ids(bestIdx), est, bucket)
          else if (ids.length < maxRepsPerBucket) {
            ids = ids :+ id
            sigs = sigs :+ sig
          }
          // else: bucket is saturated with dissimilar reps (a
          // degenerate hot bucket) — the doc passes unflagged rather
          // than growing state without bound, mirroring the batch
          // path's maxBucketSize cap
        }
        state.update((ids, sigs))
        stateTtl.foreach(state.setTimeoutDuration)
        out.result().iterator
      }
    }
    keyed.flatMapGroupsWithState(OutputMode.Append,
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout)(fn)(stateEnc, enc)
  }

  /** Catalog band-bucket table for [[flagAgainstCatalog]]: one row per
    * (band, bucket) key of each catalog signature. Precompute this
    * ONCE from a persisted [[graft.llm.Dedup.signatureCatalog]] (and
    * persist it too if the stream is long-lived) — the static side of
    * the stream-static join below. Buckets holding more than
    * `maxBucketSize` catalog docs (boilerplate families) are dropped
    * whole, the same cap as every other LSH path — without it a hot
    * bucket cross-products against every arriving doc and micro-batch
    * latency grows with the family size. */
  def catalogBuckets(catalogSigs: DataFrame,
                     bands: Int = 16, maxBucketSize: Int = 1000): DataFrame = {
    // the signature width is READ FROM the stored catalog (driver
    // probe), never passed: a caller-side mismatch against the
    // persisted width (signatureCatalog defaults to 128 hashes; this
    // op used to default to 64) sliced band keys the probe side could
    // never reproduce — the (band, bucket) equi-join matched nothing
    // and every true near-dup passed unflagged. Derived width makes
    // that silent recall collapse unrepresentable, the same contract
    // as [[flagAgainstCatalog]].
    val hdr = catalogSigs.agg(
      min(size(col("sig"))), max(size(col("sig")))).head()
    val numHashes =
      if (hdr.isNullAt(0)) bands // empty catalog: shape-only
      else {
        require(hdr.getInt(0) == hdr.getInt(1),
          s"catalog signatures have mixed widths " +
            s"${hdr.getInt(0)}..${hdr.getInt(1)} — rebuild with one " +
            "numHashes")
        hdr.getInt(0)
      }
    require(numHashes % bands == 0,
      s"bands $bands must divide the catalog width $numHashes")
    catalogSigs.select(col("doc_id").as("cat_id"),
        col("sig").as("cat_sig"),
        explode(Dedup.lshBandKeys(col("sig"), numHashes, bands)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("cat_id"), col("cat_sig"))
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("__bsz") <= maxBucketSize)
      .drop("__bsz")
  }

  /** Flag arriving documents that are near-dups of a FROZEN corpus
    * catalog: per-row signature (stateless, same native expressions as
    * the batch path) → explode band keys → stream-static equi-join on
    * (band, bucket) against [[catalogBuckets]] → signature-agreement
    * estimate ≥ `threshold`. The streaming twin of
    * [[graft.llm.Dedup.nearDuplicatesAgainstCatalog]]: no keyed state
    * at all — the catalog is the state, and Spark re-plans the static
    * side per micro-batch (a catalog swap on the same path is picked
    * up without restarting the query).
    *
    * Emits one row `(id, cat_id, est, bucket)` per agreeing band
    * collision, like [[candidates]] — dedup downstream by (id,
    * cat_id) where exactly-one matters (streaming `dropDuplicates`
    * needs a watermark; in batch `groupBy(id, cat_id).agg(max(est))`).
    * The estimator is approximate: run the batch exact-Jaccard
    * verifier over flagged ids when exactness matters.
    *
    * `numHashes` and `bands` are READ FROM the stored catalog (one
    * tiny driver probe of the static frame at plan time), never
    * passed by the caller: a caller-side mismatch against the
    * persisted signatures would cap `sig_agree` at the shorter length
    * and silently flag NOTHING — every true dup would pass as est <=
    * catalogLen/callerLen. Derived parameters make that class of
    * silent recall collapse unrepresentable. One caveat, enforced
    * loudly: the probe runs ONCE at plan time, so swapping in a
    * catalog rebuilt with a DIFFERENT width on the same path
    * mid-query cannot be picked up — a per-row width assert fails the
    * query with an actionable message instead of silently flagging
    * nothing; restart the query after a width-changing swap
    * (same-width content swaps keep working live). */
  def flagAgainstCatalog(stream: DataFrame, idCol: String, textCol: String,
                         buckets: DataFrame,
                         threshold: Double = 0.7, k: Int = 5): DataFrame = {
    // driver probe of the STATIC side (never the stream): signature
    // width must be uniform, band count = max band index + 1
    val hdr = buckets.agg(
      min(size(col("cat_sig"))), max(size(col("cat_sig"))),
      max(col("band"))).head()
    if (hdr.isNullAt(0)) {
      // empty catalog: nothing can flag; any consistent plan shape works
      return flagWith(stream, idCol, textCol, buckets, threshold, k,
        numHashes = 64, bands = 16)
    }
    val (nhMin, nhMax, bands) =
      (hdr.getInt(0), hdr.getInt(1), hdr.getInt(2) + 1)
    require(nhMin == nhMax,
      s"catalog signatures have mixed widths $nhMin..$nhMax — " +
        "rebuild the catalog with one numHashes")
    require(nhMin % bands == 0,
      s"catalog width $nhMin not divisible by its band count $bands")
    flagWith(stream, idCol, textCol, buckets, threshold, k, nhMin, bands)
  }

  private def flagWith(stream: DataFrame, idCol: String, textCol: String,
                       buckets: DataFrame, threshold: Double, k: Int,
                       numHashes: Int, bands: Int): DataFrame =
    stream.select(col(idCol).cast("string").as("id"),
        Dedup.minhashSignature(
          Dedup.shingleHashes(col(textCol), k), numHashes).as("sig"))
      .select(col("id"), col("sig"),
        explode(Dedup.lshBandKeys(col("sig"), numHashes, bands)).as("bk"))
      .select(col("id"), col("sig"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      .join(buckets, Seq("band", "bucket"))
      // loud guard for a width-changing catalog swap mid-query (the
      // static side re-reads per micro-batch, but numHashes was fixed
      // at plan time): fail the batch, never silently flag nothing
      .withColumn("__w", assert_true(size(col("cat_sig")) === numHashes,
        lit(s"catalog signature width changed mid-query (expected " +
          s"$numHashes); restart the stream after a width-changing " +
          "catalog swap")))
      .drop("__w")
      .withColumn("est",
        call("sig_agree", col("sig"), col("cat_sig"))
          .cast("double") / numHashes)
      .filter(col("est") >= threshold)
      .select(col("id"), col("cat_id"), col("est"),
        concat_ws(":", col("band"), col("bucket")).as("bucket"))
}
