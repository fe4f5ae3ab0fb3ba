package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materializer.MaterializeOps
import graft.GraftFunctions.call

/** Winnowing document fingerprints — Schleimer, Wilkerson & Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting" (SIGMOD
  * 2003), the MOSS algorithm. Selects, from the position-ordered
  * sequence of word k-gram hashes, the minimum hash of every window of
  * `w` consecutive grams (rightmost position on ties — the robust
  * variant), guaranteeing that any shared run of `w + k - 1` words
  * between two documents shares at least one selected fingerprint.
  * The dedup granularity between exact-hash (whole doc) and
  * minhash (set-level): detects partial overlap / local copying.
  *
  * Scale shape: fingerprint selection is one shuffle keyed by doc id
  * carrying the exploded `(id, pos, word)` rows — the corpus words
  * ride the exchange once, and the gram build (lead windows), hashing
  * and min-selection windows all share that single partitioning.
  * Fingerprint density is ~2/(w+1), so the output is a small fraction
  * of the gram count. The pair report collects per-hash buckets
  * (bounded by the doc-frequency cap, so boilerplate shared by
  * thousands of docs can never create a quadratic bucket) and explodes
  * in-bucket pairs at pinned width — byte-tiny but CPU-quadratic
  * stages are exactly what AQE's byte-based coalescing folds onto 1-3
  * cores (see [[Dedup.pinWidth]]).
  */
object Winnow {

  /** Positions are packed with the hash into one BIGINT
    * (`hash * PosCap + (PosCap - 1 - pos)`), so a single `min` window
    * aggregate selects (min hash, rightmost pos). Grams per doc are
    * CAPPED at 2^20 (enforced below — a position past the cap would
    * borrow from the hash field and silently corrupt selection):
    * docs longer than ~1M words fingerprint only their first 2^20
    * grams, where the winnowing guarantee holds intact. Hash is 32
    * bits, so the encoding stays under 2^52 — exact in BIGINT and in
    * any engine's DOUBLE fallback. */
  val PosCap: Long = 1L << 20

  /** Per-doc winnowed fingerprints: one row per selected
    * `(fp_pos, fp_hash)` — `fp_hash` the 32-bit (md5-prefix) hash of
    * the word k-gram at 0-based gram position `fp_pos`. Documents
    * shorter than `k` words contribute their whole text as a single
    * gram at position 0. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, w: Int = 4): DataFrame =
    selected(docs, idCol, textCol, k, w)
      .select(col(idCol),
        (lit(PosCap - 1) - pmod(col("sel"), lit(PosCap))).as("fp_pos"),
        floor(col("sel") / PosCap).cast("long").as("fp_hash"))
      .distinct()

  /** Distinct `(id, fp_hash)` — what the pair report needs. Skips the
    * position decode and deduplicates on `(id, hash)` directly, so the
    * whole thing stays ONE doc-keyed shuffle ([[fingerprints]] feeding
    * a caller-side re-distinct on `(id, hash)` paid a second full
    * exchange of the fingerprint set just to drop `fp_pos`). */
  private[graft] def fingerprintHashes(docs: DataFrame, idCol: String,
                                       textCol: String,
                                       k: Int, w: Int): DataFrame =
    selected(docs, idCol, textCol, k, w)
      .select(col(idCol).as("fid"),
        floor(col("sel") / PosCap).cast("long").as("fp_hash"))
      .distinct()

  /** Shared selection pipeline: `(id, sel)` rows, one per window
    * start, `sel` the packed (hash, pos) winner of that window. */
  private def selected(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow needs k >= 1 and w >= 1, got k=$k w=$w")
    // Grams via lead() windows over exploded words, NOT a transform()
    // HOF: slice-of-outer-array inside a lambda re-evaluates the split
    // per element (O(words²) per doc, and interpreted), while lead()
    // shares the one doc-keyed exchange with the min-selection window.
    // concat_ws skips the null leads past the end, so a doc shorter
    // than k words yields its whole text as the single pos-0 gram —
    // the same fallback as the twin `SpecTwins.fingerprintsHof`.
    // Words past PosCap + k - 1 are dropped up front: every surviving
    // gram START stays < PosCap (the packing precondition) while grams
    // starting just under the cap still see their full k words.
    val exploded = docs.select(col(idCol),
      posexplode(graft.expr.NormWords(col(textCol)))
        .as(Seq("pos", "word")))
      .filter(col("pos") < lit(PosCap + k - 1))
    val byDoc = Window.partitionBy(col(idCol))
    val ordered = byDoc.orderBy(col("pos"))
    val gram = concat_ws(" ",
      col("word") +: (1 until k).map(j => lead(col("word"), j).over(ordered)): _*)
    // native md5-prefix: value-identical to conv(substring(md5)) with
    // no 32-char hex string materialized per gram (the HOF twin
    // `SpecTwins.fingerprintsHof` keeps the declarative chain as the
    // equivalence reference)
    val hash32 = call("md5_prefix", col("gram"), lit(8))
    val g = exploded
      .select(col(idCol), col("pos"), gram.as("gram"),
        greatest(count(lit(1)).over(byDoc) - (k - 1), lit(1)).as("mg"))
      .filter(col("pos") < col("mg"))
      .select(col(idCol), col("pos"), col("mg"),
        (hash32 * PosCap + (lit(PosCap - 1) - col("pos"))).as("enc"))
    val frame = ordered.rowsBetween(Window.currentRow, w - 1)
    g
      .withColumn("sel", min(col("enc")).over(frame))
      // window STARTS only; when mg < w the single pos-0 window truncates
      .filter(col("pos") <= greatest(col("mg") - w, lit(0)))
      .select(col(idCol), col("sel"))
  }

  /** Persistable winnow fingerprint catalog: the corpus's distinct
    * `(doc_id, fp_hash)` set with boilerplate hashes (document
    * frequency above `maxDocFreq`) dropped AT BUILD TIME — write once
    * per corpus version, then match every incoming batch with
    * [[matchAgainstCatalog]] without ever re-fingerprinting (or
    * re-reading) the corpus. The df cap living in the catalog also
    * bounds the per-hash fan-out of every future match join.
    *
    * The df filter is a map-side-combinable `groupBy(fp_hash).count`
    * plus a LEFT SEMI join of the under-cap hashes — the
    * [[sharedFingerprintPairs]] shape — NOT a count-over-window on
    * fp_hash: a boilerplate fingerprint (license header shared by 10⁷
    * docs) would serialize every site into ONE window task that AQE
    * cannot split, while the aggregate reduces it to per-partition
    * counters and the semi-join streams hashes, not rows. */
  def fingerprintCatalog(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4,
                         maxDocFreq: Int = 100): DataFrame = {
    // fps feeds BOTH the df aggregation and the semi-join probe side:
    // checkpoint the compact (id, hash) pairs once (lazy — the first
    // consumer's stage populates the blocks) so the gram/window chain
    // never runs twice (the bm25 tf-table lesson)
    val fps = fingerprintHashes(docs, idCol, textCol, k, w)
      .materialized("winnow_fingerprints")
    val keep = fps.groupBy("fp_hash")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select("fp_hash")
    fps.join(keep, Seq("fp_hash"), "left_semi")
      .select(col("fid").as("doc_id"), col("fp_hash"))
  }

  /** Local-overlap match of an incoming batch against a persisted
    * [[fingerprintCatalog]]: `(id_new, id_cat, n_shared)` for batch
    * docs sharing at least `minShared` fingerprint hashes with a
    * catalog doc — the incremental twin of
    * [[sharedFingerprintPairs]]. Only the batch is fingerprinted; the
    * join is keyed by fp_hash with per-hash fan-out bounded by the
    * catalog's build-time df cap. Use k/w matching the catalog build
    * (a mismatch yields disjoint hash spaces — nothing matches). */
  def matchAgainstCatalog(batch: DataFrame, idCol: String, textCol: String,
                          catalog: DataFrame, minShared: Int = 2,
                          k: Int = 3, w: Int = 4): DataFrame =
    fingerprintHashes(batch, idCol, textCol, k, w)
      .select(col("fid").as("id_new"), col("fp_hash"))
      .join(catalog.select(col("doc_id").as("id_cat"), col("fp_hash")),
        "fp_hash")
      .groupBy("id_new", "id_cat")
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Document pairs sharing at least `minShared` distinct winnowed
    * fingerprint hashes — the MOSS match report. Per-hash doc buckets
    * larger than `maxDocFreq` (boilerplate shared by many documents)
    * are dropped whole, which bounds every pair explosion at
    * `maxDocFreq²/2` and keeps the report from going quadratic on
    * license headers / templates.
    *
    * Shape: ONE shuffle keys the distinct `(id, hash)` set by hash
    * into sorted member buckets (the df cap is the bucket-size
    * filter), then in-bucket pairs explode at pinned width — the
    * byte-tiny/CPU-quadratic stage AQE would otherwise coalesce onto
    * 1-3 cores — and one final shuffle counts shared hashes per pair.
    * Same plan skeleton as [[Dedup.candidatesFromSignatures]]. */
  def sharedFingerprintPairs(docs: DataFrame, idCol: String, textCol: String,
                             k: Int = 3, w: Int = 4, minShared: Int = 2,
                             maxDocFreq: Int = 100): DataFrame = {
    val buckets = Dedup.pinKeyed(
        fingerprintHashes(docs, idCol, textCol, k, w), col("fp_hash"))
      .groupBy("fp_hash")
      .agg(sort_array(collect_list(col("fid"))).as("members"))
      .filter(size(col("members")).between(2, maxDocFreq))
    buckets
      .select(explode(Dedup.bucketPairs(col("members"),
        (x, y) => struct(x.as("id_a"), y.as("id_b")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
