package graft.llm

import graft.Materializer.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** DSIR-style importance scoring for data selection (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"):
  * score every raw-corpus document by how much more likely its hashed
  * n-gram features are under a TARGET corpus than under the RAW
  * corpus — `Σ_g ln(p_target(bucket(g)) / p_raw(bucket(g)))` — then
  * select with the existing deterministic weighted sampler. The
  * standard cheap proxy for "does this web page look like my
  * high-quality reference set", one tier above the NB classifier
  * ([[Classifier]]) because it needs no labels, only the two corpora.
  *
  * Features: unigrams + bigrams of the shared alpha tokenizer
  * ([[LangModel.tokens]]), hashed to `nBuckets` via the md5-prefix
  * idiom ([[Sampling.bucket256]]'s big sibling) so any engine —
  * including the DuckDB oracle — replays the identical bucketing.
  *
  * Reproducibility: bucket weights are add-one-smoothed log ratios
  * quantized to integer micro-nats (`round(1e6·lnΔ)` BIGINT) BEFORE
  * any per-document sum (the [[Classifier]]/[[LangModel]] lesson), so
  * document scores are exact integer sums — identical on any engine,
  * partitioning, or summation order.
  *
  * Scale shape: one tokenize pass per corpus reduces to a ≤nBuckets
  * row count table (map-side combinable keyed shuffle); the weight
  * table is the FULL 0..nBuckets-1 domain (so scoring needs no OOV
  * branch) and rides a broadcast join; scoring is one explode +
  * broadcast join + per-doc aggregation — the only per-doc shuffle is
  * the compact (doc, partial-sum) rows. Nothing here grows with the
  * corpus except the two linear passes.
  */
object Dsir {

  /** Bucket id (0..nBuckets-1) of one n-gram string: first 8 hex
    * digits of md5, mod nBuckets — engine-replayable, no xxhash. */
  def bucketOf(ngram: Column, nBuckets: Int): Column =
    pmod(call("md5_prefix", ngram, lit(8)), lit(nBuckets.toLong))

  /** All hashed n-gram occurrences from a MATERIALIZED token-array
    * column (unigrams + space-joined bigrams), row-local. `ws` must
    * be a bound attribute, not an inline tokenizer expression — the
    * bigram lambda's `element_at(ws, i)` would otherwise inline and
    * RE-RUN the tokenizer per element, turning each row O(tokens²)
    * (the Winnow lesson; measured 6× on q_dsir_scores). */
  def ngramBucketsFromTokens(ws: Column, nBuckets: Int): Column = {
    val unis = transform(ws, w => bucketOf(w, nBuckets))
    val bis = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1), i =>
        bucketOf(concat_ws(" ", element_at(ws, i),
          element_at(ws, i + 1)), nBuckets)))
      .otherwise(array().cast("array<bigint>"))
    concat(unis, bis)
  }

  /** (id?, bucket) occurrence rows for a corpus — tokens materialize
    * in a first projection so the n-gram HOFs read an attribute. */
  private def bucketRows(df: DataFrame, textCol: String, nBuckets: Int,
                         keep: Seq[Column]): DataFrame =
    df.select(keep :+ LangModel.tokens(col(textCol)).as("__ws"): _*)
      .select(keep :+ explode(ngramBucketsFromTokens(col("__ws"),
        nBuckets)).as("bucket"): _*)

  /** Train bucket weights: one row per bucket in 0..nBuckets-1 with
    * `w_e6 = round(1e6·(ln(ct+1) − ln(Nt+K) − ln(cr+1) + ln(Nr+K)))`
    * (add-one smoothing over the K-bucket domain; buckets unseen in
    * both corpora get the smoothed prior ratio, so the domain is
    * total and scoring never branches). `raw` should normally contain
    * the documents being scored; `target` is the reference corpus. */
  def train(raw: DataFrame, target: DataFrame, textCol: String,
            nBuckets: Int): DataFrame = {
    def counts(df: DataFrame, name: String): DataFrame =
      bucketRows(df, textCol, nBuckets, Nil)
        .groupBy("bucket").agg(count(lit(1)).as(name))
    trainFromCounts(counts(raw, "nr"), counts(target, "nt"), nBuckets)
  }

  /** Weight table from pre-aggregated per-bucket counts (`nr` / `nt`).
    * Corpus totals come from an UNPARTITIONED window over the joined
    * ≤nBuckets-row domain — Σ nr over the domain IS the raw total —
    * instead of separate `agg` branches, which re-ran the whole
    * tokenize+explode pipeline of BOTH corpora a second time just to
    * produce two scalars (two extra full corpus passes in the
    * q_dsir_* plans; the window costs one 1024-row exchange). */
  private def trainFromCounts(cr: DataFrame, ct: DataFrame,
                              nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val k = lit(nBuckets.toLong)
    cr.sparkSession.range(nBuckets).toDF("bucket")
      .join(cr, Seq("bucket"), "left")
      .join(ct, Seq("bucket"), "left")
      .withColumn("tot_r", sum(col("nr")).over(all))
      .withColumn("tot_t", sum(col("nt")).over(all))
      .select(col("bucket"),
        round(lit(1e6) *
          (log(coalesce(col("nt"), lit(0L)) + lit(1L)) -
            log(coalesce(col("tot_t"), lit(0L)).cast("double") + k) -
            log(coalesce(col("nr"), lit(0L)) + lit(1L)) +
            log(coalesce(col("tot_r"), lit(0L)).cast("double") + k)))
          .cast("bigint").as("w_e6"))
  }

  /** Score every document with ≥1 alpha token: `(id, n_ngrams,
    * score_e6)` — the exact integer micro-nat sum of its buckets'
    * weights. Token-less documents produce no row (nothing to
    * featurize — same convention as [[LangModel.unigramNll]]). */
  def score(docs: DataFrame, weights: DataFrame, idCol: String,
            textCol: String, nBuckets: Int): DataFrame =
    bucketRows(docs, textCol, nBuckets, Seq(col(idCol)))
      .join(broadcast(weights), "bucket")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(col("w_e6")).as("score_e6"))

  /** [[train]] + [[score]] in one call, for the in-corpus case where
    * the target is a PREDICATE over the raw corpus itself (e.g. "the
    * English slice"). The raw corpus is tokenized+hashed ONCE: its
    * (id, bucket, cnt) occurrence counts are materialized (a reuse
    * point — same in-query materialization idiom as
    * [[graft.graph.PageRank]]'s edge table) and feed the raw-side
    * bucket counts, the target-side bucket counts AND the scoring
    * join. md5-per-ngram is the dominant per-row cost, so neither
    * the scoring pass nor the target slice re-runs it: the target's
    * bucket counts are a partial sum of the same table over the
    * target ids (from a text-column-pruned scan), which equals
    * re-tokenizing the slice exactly. The table is O(Σ per-doc
    * distinct buckets) ≤ corpus token count rows of three numeric
    * columns — shuffle-file-sized, not corpus-sized — and scores are
    * exact integer sums: Σ_occurrences w = Σ_buckets cnt·w.
    *
    * The scores equal `score(raw, train(raw, raw.filter(targetPred)))`
    * exactly PROVIDED `idCol` is unique in `raw`: the target mass is
    * rolled up per id, so with duplicate ids every row of an id
    * counts as target when any one of them satisfies the predicate,
    * where the reference form counts only the matching rows. */
  def importanceScoresSubset(raw: DataFrame, targetPred: Column,
                             idCol: String, textCol: String,
                             nBuckets: Int = 1024): DataFrame = {
    val bc = bucketRows(raw, textCol, nBuckets, Seq(col(idCol)))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("__c"))
      .materialized("dsir_subset_bucket_counts", eager = true)
    val cr = bc.groupBy("bucket").agg(sum(col("__c")).as("nr"))
    val targetIds = raw.filter(targetPred).select(col(idCol))
    val ct = bc.join(targetIds, Seq(idCol), "left_semi")
      .groupBy("bucket").agg(sum(col("__c")).as("nt"))
    bc.join(broadcast(trainFromCounts(cr, ct, nBuckets)), "bucket")
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_ngrams"),
        sum(col("__c") * col("w_e6")).as("score_e6"))
  }
}
