package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Materializer.MaterializeOps

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: every method here is either per-row columnar work or a
  * key-equi shuffle (groupBy/join on hash buckets). There is NO all-pairs
  * comparison anywhere — candidate generation is banded MinHash-LSH or
  * SimHash buckets, so 100 TB of documents shuffles once on bucket keys
  * and compares only within buckets.
  */
object Dedup {

  /** The native dedup expressions resolve through the session function
    * registry — make sure they're registered before analysis. */
  private def reg(df: DataFrame): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession); df
  }

  /** Decouple expensive per-row projections (shingle/minhash/simhash/
    * fingerprint chains) from the scan partitioning. A small corpus
    * file arrives in O(bytes / maxPartitionBytes) partitions — often
    * 1-2 — and the projection would otherwise run at that width,
    * including inside broadcast-exchange builds, which materialize the
    * child plan COLD whenever the backing cache has not populated yet
    * (measured: the 64-perm minhash chain running single-task inside a
    * broadcast build, 65 s, vs ~10 s wall 32-way). Inputs already wider
    * than the session's parallelism pass through untouched — at real
    * scale the scan has thousands of splits and a blanket repartition
    * would only add a full text shuffle. */
  private[graft] def spread(df: DataFrame, key: Column): DataFrame = {
    if (df.isStreaming) return df // micro-batches carry their own width
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    // Static width estimate on the NON-adaptive physical plan. The
    // old probe built the plan's RDD graph (`sparkPlan.execute()`) —
    // lazy for narrow plans, but `sparkPlan` predates
    // prepareForExecution, so a broadcast join inside it has no
    // BroadcastExchange yet and executing it throws
    // "doExecuteBroadcast not implemented" (`toRdd` is no better: it
    // goes adaptive and EXECUTES upstream stages just to be asked for
    // partition counts). Instead, take the ROOT-MOST width-setting
    // node (pre-order collectFirst): an explicit coalesce/repartition
    // fixes the width outright; an AllTuples requirement collapses to
    // one partition; a clustered/ordered requirement gets an exchange
    // at spark.sql.shuffle.partitions. With none of those, narrow ops
    // preserve the leaf scan width (leaf execute() is safe — it
    // builds the file/local RDD, no job). Approximation accepted: a
    // clustered-requiring node whose child already satisfies the
    // distribution (e.g. aggregate over coalesce(1)) estimates wide —
    // widening is a perf guard, not a correctness gate.
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.catalyst.plans.physical.{
      AllTuples, BroadcastDistribution, UnspecifiedDistribution}
    import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    def demandsShuffle(p: SparkPlan) =
      p.requiredChildDistribution.exists {
        case UnspecifiedDistribution | AllTuples => false
        case _: BroadcastDistribution => false
        case _ => true
      }
    // output width of the node, following only the width-determining
    // spine (a broadcast join's BUILD side never sets the width — the
    // naive whole-tree collectFirst would find a coalesced dim there
    // and trigger a pointless full-corpus reshuffle)
    def widthOf(p: SparkPlan): Int = p match {
      case c: CoalesceExec => c.numPartitions
      case s: ShuffleExchangeLike => s.numPartitions
      case _ if p.requiredChildDistribution.contains(AllTuples) => 1
      case _ if demandsShuffle(p) =>
        spark.sessionState.conf.numShufflePartitions
      case j: BroadcastHashJoinExec =>
        widthOf(if (j.buildSide == BuildLeft) j.right else j.left)
      case j: BroadcastNestedLoopJoinExec =>
        widthOf(if (j.buildSide == BuildLeft) j.right else j.left)
      case u: UnionExec => u.children.map(widthOf).sum
      case leaf if leaf.children.isEmpty =>
        leaf.execute().getNumPartitions // lazy: builds the RDD, no job
      case other => other.children.map(widthOf).max
    }
    val width = widthOf(df.queryExecution.sparkPlan)
    if (width >= par) df else df.repartition(par, key)
  }

  /** Pin a byte-tiny / CPU-dense stage at full width. AQE coalesces
    * shuffle partitions by BYTES, so a stage whose per-row cost is
    * superlinear in row size (the quadratic in-bucket pair explosion)
    * gets folded onto 1-3 cores; a round-robin repartition pinned by
    * number (REPARTITION_BY_NUM) is exempt from AQE coalescing. */
  private[graft] def pinWidth(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** [[pinWidth]] for a stage whose NEXT operator groups/joins on
    * `keys`: one keyed REPARTITION_BY_NUM exchange (equally exempt
    * from AQE byte-coalescing) establishes both the full width AND the
    * clustering the downstream aggregation needs, so EnsureRequirements
    * schedules no second exchange — where `groupBy.agg` followed by a
    * round-robin pinWidth paid two. */
  private[graft] def pinKeyed(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)

  /** Exact-dup key: md5 hex of the raw text (DuckDB-reproducible). */
  def exactKey(text: Column): Column = md5(text.cast("binary"))

  /** Exact duplicate groups: hash → (count, representative id). */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(exactKey(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Exact dedup keeping the minimum id per identical text — the
    * skew-safe shape: a map-side-combinable `min(id)` per text hash
    * plus a LEFT SEMI join back on the (unique) id. The
    * `row_number() over (partition by text_hash)` twin serializes a
    * mega-duplicated document (one viral page copied 10^6 times) into
    * a single window partition that AQE cannot split; partial
    * aggregation reduces the same key per partition first, and the
    * semi-join probe is splittable. Ids must be unique (they are doc
    * ids); schema passes through. */
  def dropExactDuplicates(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val keepers = docs
      .groupBy(exactKey(col(textCol)).as("__k"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  /** Distinct word k-shingles of the normalized text; short docs yield
    * their whole text as a single shingle. */
  def shingles(text: Column, k: Int): Column =
    // tokens bound once — slice(ws, …) with an inline tokenizer would
    // re-run normalize+split per shingle start (Text.bindOnce scaladoc)
    Text.bindOnce(Text.words(Text.normalize(text))) { ws =>
      when(size(ws) >= k,
        array_distinct(transform(
          sequence(lit(0), size(ws) - k),
          i => array_join(slice(ws, i + 1, lit(k)), " "))))
      .otherwise(array(array_join(ws, " ")))
    }

  /** Shingle hash set (array<long>) — the MinHash input. Word-level
    * xxhash64 then a k-term polynomial combine, evaluated by the native
    * [[graft.expr.ShingleHashesExpr]] (HOF evaluation is interpreted
    * and was ~10x slower; [[shingleHashesHof]] keeps the declarative
    * form for the equivalence spec). Set semantics (distinct) match
    * [[shingles]] up to 64-bit collisions (~2^-40 per doc pair). */
  def shingleHashes(text: Column, k: Int): Column =
    call_function("shingle_hashes", text, lit(k))

  /** Declarative HOF twin of [[shingleHashes]] (spec reference only). */
  def shingleHashesHof(text: Column, k: Int): Column = {
    val w = transform(Text.words(Text.normalize(text)), x => xxhash64(x))
    val n = size(w)
    val M = lit(1000003L)
    // Shifted zip_with chain: acc_j[i] = poly(w[i..i+j-1]). Arrays are
    // referenced only OUTSIDE lambda bodies — indexing an outer array
    // inside a transform lambda re-evaluates that array per element
    // (O(n^2) per doc; measured 3x slower even vs string shingles).
    val acc = (2 to k).foldLeft(w) { (a, j) =>
      zip_with(a, slice(w, lit(j), greatest(n - j + 1, lit(0))),
        (x, y) => x * M + y)
    }
    when(n >= k, array_distinct(slice(acc, lit(1), n - k + 1)))
      .otherwise(array(aggregate(w, lit(0L), (a, h) => a * M + h)))
  }

  /** Deterministic affine permutation constants (seed 42). */
  private[llm] def perms(n: Int): Seq[(Long, Long)] =
    graft.expr.MinhashCore.perms(n)

  /** MinHash signature: for each permutation i, min over shingle hashes
    * of `a_i*h + b_i` (64-bit wrap-around arithmetic) — native
    * [[graft.expr.MinhashSigExpr]]. */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    call_function("minhash_sig", hashes, lit(numHashes))

  /** Declarative HOF twin of [[minhashSignature]] (spec reference only):
    * ONE fold over the hash array with an `array<long>` accumulator —
    * the naive `numHashes x array_min(transform(...))` form
    * re-evaluates the whole shingle pipeline per permutation (no CSE
    * inside a projection), which measured ~60x slower. */
  def minhashSignatureHof(hashes: Column, numHashes: Int): Column = {
    val ps = typedlit(perms(numHashes))  // array<struct<_1:a, _2:b>>
    val init = typedlit(Seq.fill(numHashes)(Long.MaxValue))
    aggregate(hashes, init, (acc, h) =>
      zip_with(acc, ps, (m, p) =>
        least(m, h * p.getField("_1") + p.getField("_2"))))
  }

  /** Banded-LSH keys: signature split into `bands` bands of
    * `numHashes/bands` rows each; key = (band index, hash of band slice). */
  def lshBandKeys(signature: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val entries = (0 until bands).map { b =>
      struct(lit(b).as("band"), hash(slice(signature, b * r + 1, r), lit(b)).as("bucket"))
    }
    array(entries: _*)
  }

  /** Pairwise (i&lt;j) combinations of a sorted bucket-member array —
    * per-row HOF, no join. Members are `struct(id, payload)`. */
  private[graft] def bucketPairs(members: Column,
                          pair: (Column, Column) => Column): Column =
    flatten(transform(members, (x, i) =>
      transform(slice(members, i + 2, size(members)), y => pair(x, y))))

  /** MinHash-LSH candidate pairs: shingle → minhash → band → bucket →
    * in-bucket combinations. Returns (id_a, id_b, jaccard_est) with
    * id_a < id_b, deduplicated across bands.
    *
    * Scale shape: signatures are computed ONCE (single scan — no
    * self-join recomputation), then shuffled once on (band, bucket);
    * pairs are generated inside each bucket with a per-row HOF.
    * Buckets larger than `maxBucketSize` are dropped (they are
    * degenerate content — empty/boilerplate docs — and would produce
    * quadratic pairs). */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 5, numHashes: Int = 128,
                        bands: Int = 32,
                        maxBucketSize: Int = 1000): DataFrame =
    candidatesFromSignatures(
      spread(reg(docs), col(idCol)).select(col(idCol).as("doc_id"),
        minhashSignature(shingleHashes(col(textCol), k), numHashes)
          .as("sig")),
      numHashes, bands, maxBucketSize)

  /** LSH candidate generation from a precomputed (doc_id, sig) frame.
    *
    * With `withEst = false` the bucket shuffle carries only doc ids —
    * not the numHashes-long signatures — and pairs skip the agreement
    * estimate: the right shape when candidates feed an exact-Jaccard
    * verify join anyway (signature bytes dominate the shuffle volume
    * at corpus scale). */
  def candidatesFromSignatures(withSig: DataFrame, numHashes: Int,
                               bands: Int, maxBucketSize: Int,
                               withEst: Boolean = true): DataFrame = {
    val bandKeys = explode(lshBandKeys(col("sig"), numHashes, bands)).as("bk")
    if (withEst) {
      val banded = withSig
        .select(col("doc_id"), col("sig"), bandKeys)
        .select(col("doc_id"), col("sig"),
          col("bk.band").as("band"), col("bk.bucket").as("bucket"))
      // pair generation is quadratic in bucket size but byte-tiny —
      // measured 216 s on 1-3 AQE-coalesced cores vs ~4 s pinned wide.
      // The width pin is the PRE-agg keyed repartition (REPARTITION_BY_NUM
      // is AQE-coalescing-exempt and the groupBy reuses its layout), not
      // a second round-robin exchange after the agg
      val buckets = pinKeyed(banded, col("band"), col("bucket"))
        .groupBy("band", "bucket")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("sig"))))
          .as("members"))
        .filter(size(col("members")).between(2, maxBucketSize))
      // native sig_agree: one call per in-bucket pair — the
      // interpreted zip_with twin was the hot path when borderline
      // families make candidate counts quadratic
      val est = (a: Column, b: Column) =>
        call_function("sig_agree", a, b).cast("double") / numHashes
      buckets
        .select(explode(bucketPairs(col("members"), (x, y) => struct(
          x.getField("doc_id").as("id_a"),
          y.getField("doc_id").as("id_b"),
          est(x.getField("sig"), y.getField("sig")).as("jaccard_est"))))
          .as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
          col("p.jaccard_est").as("jaccard_est"))
        .groupBy("id_a", "id_b").agg(max("jaccard_est").as("jaccard_est"))
    } else {
      val buckets =
        bandedIdBuckets(withSig, numHashes, bands, "members",
          minSize = 2, maxBucketSize = maxBucketSize)
      buckets
        .select(explode(bucketPairs(col("members"), (x, y) => struct(
          x.as("id_a"), y.as("id_b")))).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .distinct()
    }
  }

  /** Shared per-side bucket builder for the ids-only paths: band-key
    * explode → (band, bucket) groupBy → sorted member list, with the
    * size-cap filter that keeps a boilerplate bucket from ever going
    * quadratic (or cross-producting, on the cross-set path). ONE
    * definition so the cap semantics can't drift between
    * [[candidatesFromSignatures]] and [[crossCandidates]]. */
  private def bandedIdBuckets(sigs: DataFrame, numHashes: Int, bands: Int,
                              out: String, minSize: Int,
                              maxBucketSize: Int): DataFrame =
    pinKeyed(sigs.select(col("doc_id"),
        explode(lshBandKeys(col("sig"), numHashes, bands)).as("bk"))
      .select(col("doc_id"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket")),
      col("band"), col("bucket"))
      .groupBy("band", "bucket")
      .agg(sort_array(collect_list(col("doc_id"))).as(out))
      .filter(size(col(out)).between(minSize, maxBucketSize))

  /** Exact n-gram Jaccard for a candidate pair set: joins candidate ids
    * back to shingle sets (equi-join on id) and computes
    * |A∩B| / |A∪B|. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                   textCol: String, k: Int = 5): DataFrame = {
    // materialized once: both join sides read the shingle table, and
    // without this the normalize+tokenize+hash kernel ran over the
    // full corpus twice (the same reason nearDuplicates persists its
    // shingle frame)
    val sh = reg(docs).select(col(idCol).as("jid"),
      shingleHashes(col(textCol), k).as("sh"))
      .materialized("ngram_jaccard_shingles", eager = true)
    pairs
      .join(sh.withColumnRenamed("jid", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("jid", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        call_function("set_jaccard", col("sh_a"), col("sh_b")))
      .drop("sh_a", "sh_b")
  }

  /** Character-level edit-distance verification for a candidate pair
    * set: joins ids back to raw text and computes Levenshtein distance
    * plus the normalized similarity `1 - lev / max(len_a, len_b)`.
    * The precision pass AFTER a set-level recall pass (LSH shingle
    * Jaccard ignores word order; edit distance does not) — only ever
    * run it on candidate pairs, never all-pairs: O(len²) per pair.
    * With `maxDist` set, pairs whose length difference alone exceeds
    * the cap are dropped BEFORE the quadratic compare (|len_a −
    * len_b| is a lower bound on Levenshtein). */
  def editDistanceVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                         textCol: String,
                         maxDist: Option[Int] = None): DataFrame = {
    val txt = reg(docs).select(col(idCol).as("jid"),
      col(textCol).as("jtxt"))
    val joined = pairs
      .join(txt.withColumnRenamed("jid", "id_a")
        .withColumnRenamed("jtxt", "__t_a"), "id_a")
      .join(txt.withColumnRenamed("jid", "id_b")
        .withColumnRenamed("jtxt", "__t_b"), "id_b")
    val prefiltered = maxDist match {
      case Some(d) => joined.filter(
        abs(length(col("__t_a")) - length(col("__t_b"))) <= d)
      case None => joined
    }
    // equality short-circuit: the dominant candidate class after an
    // LSH recall pass is the EXACT duplicate (jaccard 1.0), and the
    // full O(len_a·len_b) DP on two identical strings produces 0 at
    // quadratic cost — one O(len) byte compare decides that case.
    // levenshtein(a, a) = 0 and the null algebra is unchanged
    // (a === b is null when either side is null, when() falls to the
    // otherwise branch, levenshtein(null, x) is null).
    val lev = when(col("__t_a") === col("__t_b"), lit(0))
      .otherwise(levenshtein(col("__t_a"), col("__t_b")))
    val out = prefiltered
      .withColumn("lev", lev.cast("bigint"))
      .withColumn("lev_sim", lit(1.0) - col("lev").cast("double") /
        greatest(length(col("__t_a")), length(col("__t_b")), lit(1)))
      .drop("__t_a", "__t_b")
    maxDist.fold(out)(d => out.filter(col("lev") <= d))
  }

  /** Cross-document shared-span report — the word-gram approximation
    * of exact-substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better": remove verbatim text that
    * repeats across documents). For every document, the maximal word
    * spans covered by `k`-grams that also occur in at least one OTHER
    * document: `(doc_id, span_start, span_end, n_grams)`, positions
    * word-based and inclusive. Overlapping/adjacent covered grams
    * merge into one span (gap-and-islands), so a verbatim copied
    * passage reports as a single interval to cut, not per-gram
    * confetti. Grams whose document frequency exceeds `maxDocFreq`
    * are ignored — boilerplate shared by thousands of docs is a
    * filtering problem, not a span-removal one, and the cap also
    * bounds the df-join fan-out. Docs shorter than `k` words produce
    * no grams (whole-short-doc copies are [[exactDupGroups]]' job).
    *
    * Scale shape: ONE doc-keyed exchange carries the exploded words;
    * the gram build (lead windows — the measured lesson: a slice HOF
    * is O(words²) interpreted) rides it. Doc frequency is a map-side-
    * combinable agg on the 32-bit gram hash; the qualifying hash set
    * semi-joins back (shuffle on hash), and the island windows re-use
    * the doc keying. No driver state, no quadratic stage anywhere —
    * cost is linear in corpus words at every step. */
  def crossDocSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 5, maxDocFreq: Long = 1000): DataFrame = {
    require(k >= 1, s"crossDocSpans needs k >= 1, got $k")
    require(maxDocFreq >= 2, s"maxDocFreq must be >= 2, got $maxDocFreq")
    val byDoc = Window.partitionBy(col(idCol))
    val ordered = byDoc.orderBy(col("pos"))
    val gram = concat_ws(" ",
      col("word") +: (1 until k).map(j => lead(col("word"), j).over(ordered)): _*)
    // 64-bit gram identity: the hash only keys the df-agg and the
    // semi-join (the oracle compares gram STRINGS), so it needs
    // collision resistance, not cross-engine equality — a 32-bit hash
    // would produce ~n²/2^33 false "shared" grams (hundreds at 1M
    // grams, certain garbage past 2^32)
    // checkpointed LAZILY: the compact (id, pos, hash) table —
    // ~20 B/word — feeds BOTH the doc-frequency branch and the
    // coverage join; without persistence the whole explode + window +
    // hash chain replays per consumer (two full corpus scans — the
    // bm25 tf-table lesson). Lazy (eager=false) so no job runs at
    // plan-BUILD time: the first consumer's stage populates the
    // blocks, the second reads them — measured 5.19 s cold vs 1.55 s
    // warm for the eager twin, which paid the whole chain once at
    // build and once per session cache drop
    val grams = spread(docs, col(idCol))
      .select(col(idCol), posexplode(graft.expr.NormWords(col(textCol)))
        .as(Seq("pos", "word")))
      .select(col(idCol), col("pos"), gram.as("gram"),
        count(lit(1)).over(byDoc).as("nw"))
      .filter(col("pos") <= col("nw") - k) // full grams only
      .select(col(idCol), col("pos"), xxhash64(col("gram")).as("h"))
      .materialized("crossdoc_gram_hashes")
    val sharedHashes = grams.groupBy("h")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df").between(2, maxDocFreq))
      .select("h")
    val covered = grams.join(sharedHashes, "h")
    // merge intervals [pos, pos+k-1]: a gram extends the current span
    // when it starts within (previous start + k) — overlap or
    // adjacency. First gram of a doc: lag is null → when() falls to 0,
    // which still opens island 0 (span ids only need to be distinct).
    val newSpan = when(col("pos") >
      lag(col("pos"), 1).over(ordered) + k, 1).otherwise(0)
    covered
      .withColumn("span", sum(newSpan).over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("span"))
      .agg(min(col("pos")).cast("bigint").as("span_start"),
        (max(col("pos")) + k - 1).cast("bigint").as("span_end"),
        count(lit(1)).cast("bigint").as("n_grams"))
      .drop("span")
  }

  /** Near-dup pairs above a Jaccard threshold: LSH candidates verified
    * with exact shingle Jaccard. The shingle frame feeds three plan
    * branches (signature + both sides of the verify join), so it is
    * persisted for the computation — a MEMORY_AND_DISK materialization
    * of (id, shingle hashes), the standard LSH-join shape (Spark
    * MLlib's MinHashLSH does the same) — and unpersisted before
    * returning: the result (the pair set, tiny next to the corpus) is
    * eagerly materialized as a reuse point, so no cached corpus
    * frame leaks into the session. */
  /** @param prefilterMargin opt-in candidate pruning BEFORE the exact
    *   verify join: candidate pairs join back to signatures (64·8 B a
    *   side vs ~KiB shingle sets) and survive only when the agreement
    *   estimate is ≥ threshold − margin. On corpora with large
    *   families of borderline-similar docs (est just under threshold)
    *   LSH candidates go quadratic in family size and the verify join
    *   dominates; the prefilter drops them for the price of one narrow
    *   join. Probabilistic: a true ≥threshold pair is lost only when
    *   its 64-hash estimate undershoots by the margin (≈4σ at
    *   margin 0.15) — leave None where exact recall is contractual. */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.8, k: Int = 5,
                     numHashes: Int = 128, bands: Int = 32,
                     prefilterMargin: Option[Double] = None): DataFrame = {
    val sh = spread(reg(docs), col(idCol)).select(col(idCol).as("jid"),
      shingleHashes(col(textCol), k).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val withSig = sh.select(col("jid").as("doc_id"),
        minhashSignature(col("sh"), numHashes).as("sig"))
      // ids only through the bucket shuffle — the exact-Jaccard verify
      // below replaces any signature-agreement estimate
      val candidates = candidatesFromSignatures(withSig, numHashes, bands,
        maxBucketSize = 1000, withEst = false)
      val pairs = prefilterMargin match {
        case None => candidates
        case Some(margin) =>
          // tiny: id + 64 longs
          val sig = withSig.materialized("near_dup_signatures", eager = true)
          candidates
            .join(sig.select(col("doc_id").as("id_a"),
              col("sig").as("sig_a")), "id_a")
            .join(sig.select(col("doc_id").as("id_b"),
              col("sig").as("sig_b")), "id_b")
            .filter(call_function("sig_agree", col("sig_a"), col("sig_b"))
              .cast("double") / numHashes >= threshold - margin)
            .select("id_a", "id_b")
      }
      pairs
        .join(sh.select(col("jid").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("jid").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jaccard",
          call_function("set_jaccard", col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .materialized("near_dup_pairs", eager = true)
    } finally sh.unpersist()
  }

  /** Persistable MinHash signature catalog: one `(doc_id, sig)` row
    * per document, `sig` an `array<long>` column that parquet stores
    * losslessly. Write this ONCE per corpus version; every future
    * incoming batch dedups against the stored signatures via
    * [[nearDuplicatesAgainstCatalog]] — the 100 TB corpus is never
    * re-shingled, re-hashed, or even re-read for candidate
    * generation. */
  def signatureCatalog(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 5, numHashes: Int = 128): DataFrame =
    spread(reg(docs), col(idCol)).select(col(idCol).as("doc_id"),
      minhashSignature(shingleHashes(col(textCol), k), numHashes).as("sig"))

  /** Candidate `(id_new, id_cat)` pairs whose signatures share an LSH
    * band — the cross-set half of [[candidatesFromSignatures]]. Both
    * sides reduce to per-(band, bucket) sorted member lists (buckets
    * larger than `maxBucketSize` on EITHER side are dropped whole, so
    * a boilerplate bucket can never cross-product), the bucket join is
    * keyed by (band, bucket), and the cross explosion runs at pinned
    * width (AQE byte-coalescing would fold the byte-tiny/CPU-quadratic
    * stage onto 1-3 cores). */
  def crossCandidates(newSigs: DataFrame, catalogSigs: DataFrame,
                      numHashes: Int, bands: Int,
                      maxBucketSize: Int = 1000): DataFrame = {
    def buckets(df: DataFrame, out: String) =
      bandedIdBuckets(df, numHashes, bands, out,
        minSize = 1, maxBucketSize = maxBucketSize)
    // both sides come out of bandedIdBuckets hash-partitioned by
    // (band, bucket) at full pinned width, so this join schedules no
    // exchange and the cross explosion below already runs wide
    buckets(newSigs, "mn").join(buckets(catalogSigs, "mc"),
        Seq("band", "bucket"))
      .select(explode(flatten(transform(col("mn"), x =>
        transform(col("mc"), y =>
          struct(x.as("id_new"), y.as("id_cat")))))).as("p"))
      .select(col("p.id_new").as("id_new"), col("p.id_cat").as("id_cat"))
      .distinct()
  }

  /** Incremental near-dup detection: flag documents in `batch` whose
    * exact shingle Jaccard against some corpus document reaches
    * `threshold`, using a persisted [[signatureCatalog]] for candidate
    * generation. Only the batch is shingled up front; the corpus text
    * is touched once, column-pruned, and shingled ONLY for the
    * candidate ids (semi-join prune) — the verify cost scales with the
    * candidate count, not the corpus. Returns
    * `(id_new, id_cat, jaccard)`. */
  def nearDuplicatesAgainstCatalog(batch: DataFrame, idCol: String,
                                   textCol: String,
                                   catalogSigs: DataFrame,
                                   corpus: DataFrame,
                                   threshold: Double = 0.9, k: Int = 5,
                                   numHashes: Int = 128, bands: Int = 32,
                                   maxBucketSize: Int = 1000): DataFrame = {
    // both checkpoints are eager and BATCH-sized (the increment, not
    // the corpus): bsh feeds the signature path AND the verify join,
    // cand feeds the semi-join prune AND the verify join — without
    // them every caller action would re-run the shingle/LSH pipeline.
    // The returned frame stays lazy (its plan — incl. the semi-join
    // prune — stays inspectable); only the candidate-sized corpus
    // shingle tail recomputes per action.
    val bsh = spread(reg(batch), col(idCol)).select(col(idCol).as("jid"),
      shingleHashes(col(textCol), k).as("sh"))
      .materialized("catalog_dedup_batch_shingles", eager = true)
    val bsig = bsh.select(col("jid").as("doc_id"),
      minhashSignature(col("sh"), numHashes).as("sig"))
    val cand = crossCandidates(bsig, catalogSigs, numHashes, bands,
      maxBucketSize).materialized("catalog_dedup_candidates", eager = true)
    val needed = cand.select(col("id_cat").as(idCol)).distinct()
    // explicit repartition, not spread(): spread's width probe
    // executes the NON-adaptive sparkPlan, which for a join still
    // lacks EnsureRequirements' broadcast exchanges (that rule runs
    // in executedPlan) and dies in doExecuteBroadcast. The pruned
    // frame is candidate-sized, so the fixed-width shuffle is cheap
    // and decouples the shingle chain from the semi-join's width.
    val csh = reg(corpus).join(needed, Seq(idCol), "left_semi")
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol).as("cid"), shingleHashes(col(textCol), k).as("csh"))
    cand
      .join(bsh.select(col("jid").as("id_new"), col("sh").as("sh_new")),
        "id_new")
      .join(csh.select(col("cid").as("id_cat"), col("csh").as("sh_cat")),
        "id_cat")
      .withColumn("jaccard",
        call_function("set_jaccard", col("sh_new"), col("sh_cat")))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_cat", "jaccard")
  }

  /** Greedy near-dup removal policy: from each near-dup pair
    * (id_a < id_b), the higher id is dropped. Deterministic, no
    * clustering pass — the standard cheap keep-first policy for
    * training-data dedup. Returns the surviving docs. */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.9, k: Int = 5,
                         numHashes: Int = 128, bands: Int = 32)
  : DataFrame = {
    val losers = nearDuplicates(docs, idCol, textCol, threshold, k,
      numHashes, bands)
      .select(col("id_b").as("__loser")).distinct()
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** Connected components over a near-dup pair set by iterative
    * min-label propagation: component = smallest doc id reachable.
    * Near-dup clusters have tiny diameter, so this converges in a few
    * iterations; at extreme scale swap in the large-star/small-star
    * algorithm — the interface (pairs in, (id, component) out) stays.
    * Returns ONLY ids that appear in some pair. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a reuse point per iteration: materializes AND truncates the
    // logical plan — without it the plan tree grows with the iteration
    // count and plan analysis/stringification blows up long before the
    // data does (the classic iterative-algorithm failure mode)
    var labels = edges.groupBy("src").agg(min("dst").as("m"))
      .select(col("src").as("id"),
        least(col("src"), col("m")).as("component"))
      .materialized("cc_labels_init", eager = true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val next = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("component", "nbr"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("nbr").as("nbrMin"))
        .join(labels, "id")
        .select(col("id"),
          least(col("component"), col("nbrMin")).as("component"))
        .materialized("cc_labels", eager = true)
      changed = next.join(labels.withColumnRenamed("component", "old"), "id")
        .filter(col("component") < col("old")).count()
      labels = next
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Default edge-count bound for the driver union-find fast path in
    * [[connectedComponentsStars]]. Measured envelope at the bound
    * (`graft.tools.CcScaleProbe`, 16-char string ids — the expensive
    * case): ~740 MB of driver heap for the 4M-edge HashMap + collected
    * rows. That fits comfortable multi-GB driver heaps (this engine's
    * target) but would crowd a default 1 GiB driver — tune DOWN via
    * the `driverMaxEdges` parameter on small-heap drivers or for ids
    * longer than ~20 chars; 64-bit ids cost roughly half. Above the
    * bound the distributed alternating-stars loop runs instead, so a
    * too-small value only costs speed, never correctness. */
  val DefaultDriverMaxEdges: Long = 4000000L

  /** Connected components via alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the extreme-scale path promised by [[connectedComponents]]: each
    * round is two groupBy-explode passes over the edge list, converges
    * in O(log n) rounds even on high-diameter graphs, and never
    * materializes a neighborhood larger than a node's degree. Edges
    * are kept canonical (hi, lo). Same interface: pairs in,
    * (id, component=min reachable id) out, ids restricted to those
    * appearing in some pair. */
  /** @param driverMaxEdges near-dup edge sets are orders smaller than
    *   the corpus (LSH pairs, not documents); at or below this bound
    *   the components resolve with an exact driver union-find — one
    *   collect of (u,v) keys, O(E α(E)), zero per-round scheduler
    *   jobs — the same bounded-collect contract as
    *   [[graft.operators.AsOfJoin.broadcastJoin]]. Above it, the
    *   distributed alternating-stars loop below is the path (a
    *   100 TB web corpus can carry billions of near-dup edges). Both
    *   paths label every node with its component MINIMUM, so results
    *   are identical — spec-pinned against each other. */
  def connectedComponentsStars(pairs: DataFrame, maxIter: Int = 25,
                               driverMaxEdges: Long = DefaultDriverMaxEdges)
  : DataFrame = {
    def canonical(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
    // large-star: over the SYMMETRIZED neighborhood of u, link every
    // strictly-larger neighbor to m = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val grouped = sym.groupBy("u")
        .agg(collect_set(col("v")).as("nv"))
        .select(col("u"),
          least(col("u"), array_min(col("nv"))).as("m"),
          filter(col("nv"), v => v > col("u")).as("bigger"))
      grouped.select(explode(col("bigger")).as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: over the canonical (hi -> lo) edges of u, link every
    // smaller neighbor (and u itself) to the minimum
    def smallStar(e: DataFrame): DataFrame = {
      val grouped = e.groupBy("u").agg(collect_set(col("v")).as("nv"))
        .select(col("u"), array_min(col("nv")).as("m"), col("nv"))
      grouped
        .select(col("m"),
          explode(concat(filter(col("nv"), v => v =!= col("m")),
            array(col("u")))).as("n"))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
    }
    // LAZY checkpoints throughout: the count() right below populates
    // the blocks in the same job, instead of an eager materialization
    // job FOLLOWED by a block-reading count (the PageRank lazy-setup
    // lesson, r15 probe-pinned); lineage still truncates for the
    // consumers (driver collect / next round / except)
    var edges = canonical(pairs.select(col("id_a").as("u"),
      col("id_b").as("v")))
      .materialized("cc_stars_edges_init")
    if (edges.count() <= driverMaxEdges)
      return driverComponents(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).materialized("cc_stars_edges")
      converged = next.count() == edges.count() &&
        next.except(edges).isEmpty
      edges = next
      iter += 1
    }
    // stars: every non-root points at its component root
    edges.select(col("u").as("id"), col("v").as("component"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

  /** Exact driver union-find over a bounded, collected edge set:
    * union-by-minimum keeps each component's least id as its root (the
    * order-independent label the distributed loop converges to), path
    * compression keeps finds near-O(1). */
  private def driverComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val idType = edges.schema("u").dataType
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = { // x is always present (putIfAbsent below)
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { // path compression
        val nxt = parent.get(c); parent.put(c, r); c = nxt
      }
      r
    }
    // Spark orders StringType by UTF-8 BINARY bytes (UTF8String), which
    // diverges from Java's UTF-16 code-unit order for BMP chars >=
    // U+E000 vs supplementary characters — compare the same way so the
    // driver path emits byte-identical labels to the distributed
    // least/array_min path regardless of which side of driverMaxEdges
    // an input lands on
    def less(a: Any, b: Any): Boolean = (a, b) match {
      case (sa: String, sb: String) =>
        val ba = sa.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bb = sb.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(ba.length, bb.length)
        var i = 0
        var cmp = 0
        while (cmp == 0 && i < n) {
          cmp = (ba(i) & 0xFF) - (bb(i) & 0xFF); i += 1
        }
        if (cmp != 0) cmp < 0 else ba.length < bb.length
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    edges.collect().foreach { r =>
      val u = r.get(0); val v = r.get(1)
      parent.putIfAbsent(u, u)
      parent.putIfAbsent(v, v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (less(ru, rv)) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val rows = parent.keySet().asScala.toSeq.map(n => Row(n, find(n)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq,
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          rows.size / 1000 + 1))),
      StructType(Seq(StructField("id", idType, nullable = false),
        StructField("component", idType, nullable = false))))
  }

  /** Content-defined span-window sampling shared by [[repeatedSpans]]
    * and [[removeRepeatedSpans]] — winnowing (Schleimer, Wilkerson &
    * Aiken 2003, the [[Winnow]] machinery) applied to the
    * `spanChars`-character windows themselves: every char position's
    * window is hashed and, from each run of `w` consecutive positions,
    * the minimum-hash window is selected (rightmost on ties). Because
    * selection is a pure function of window CONTENT, two documents
    * sharing any region of at least `spanChars + w - 1` characters
    * select at least one window at the SAME content offset in both —
    * the alignment-free guarantee an arithmetic stride can never give
    * (a stride-16 grid catches a shifted repeat only when the shift is
    * ≡ 0 mod 16, i.e. ~1/16 of cross-doc boilerplate).
    *
    * Scale shape: selection happens IN-ROW — the native
    * `span_anchors` expression ([[graft.expr.SpanAnchorsExpr]]: one
    * md5 per char position + a monotonic-deque sliding min, packed
    * `hash32 * 2^20 + rightmost-pos` per [[Winnow.PosCap]]; positions
    * past 2^20 are not sampled, mirroring Winnow's cap) — so sampling
    * needs NO shuffle at all and only the ~2/(w+1) selected windows
    * ever leave the row. Each selected window is keyed by the full
    * 128-bit md5 of its content (cross-engine reproducible, and
    * collision-safe where a single 64-bit key is not: at ~10^13
    * sampled windows a 64-bit birthday collision is expected,
    * silently conflating unrelated text — 128 bits keeps that
    * probability below 10^-13).
    *
    * Returns one row per selected window:
    * `(doc_id, pos, span_key)` — `pos` 1-based in the normalized
    * text, `span_key` the md5 hex of the window content. */
  private[graft] def sampledSpanWindows(docs: DataFrame, idCol: String,
                                        textCol: String, spanChars: Int,
                                        w: Int): DataFrame = {
    require(spanChars >= 1, s"spanChars must be >= 1, got $spanChars")
    require(w >= 1, s"winnow window must be >= 1, got $w")
    reg(docs)
      .select(col(idCol).as("doc_id"),
        Text.normalize(col(textCol)).as("__norm"))
      .filter(length(col("__norm")) >= spanChars)
      .select(col("doc_id"), col("__norm"),
        explode(call_function("span_anchors", col("__norm"),
          lit(spanChars), lit(w))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(call_function("substring", col("__norm"), col("pos"),
          lit(spanChars))).as("span_key"))
  }

  /** Declarative HOF twin of [[sampledSpanWindows]] (spec reference
    * only — interpreted per-element evaluation makes it ~50x the
    * native expression): the same winnow selection as nested
    * bound-once HOFs over the position array. */
  private[graft] def sampledSpanWindowsHof(docs: DataFrame, idCol: String,
                                           textCol: String, spanChars: Int,
                                           w: Int): DataFrame = {
    val posCap = Winnow.PosCap
    // every array is lambda-bound once (Text.bindOnce) — an inlined
    // normalize/hash chain would re-evaluate per ELEMENT inside the
    // HOFs: O(chars²) regexps per doc, the measured Dsir trap
    val selArr = Text.bindOnce(Text.normalize(col(textCol))) { n =>
      Text.bindOnce(transform(
        sequence(lit(1),
          least(length(n) - (spanChars - 1), lit(posCap.toInt))),
        p => conv(substring(md5(call_function("substring", n, p,
          lit(spanChars))), 1, 8), 16, 10).cast("long") * posCap +
          (lit(posCap - 1) - (p - 1)))) { e =>
        array_distinct(transform(
          sequence(lit(0), greatest(size(e) - w, lit(0))),
          s => array_min(slice(e, s + 1, lit(w)))))
      }
    }
    docs
      .select(col(idCol).as("doc_id"),
        Text.normalize(col(textCol)).as("__norm"),
        selArr.as("__sels"))
      .filter(length(col("__norm")) >= spanChars)
      .select(col("doc_id"), col("__norm"), explode(col("__sels")).as("__sel"))
      .select(col("doc_id"), col("__norm"),
        (lit(posCap) - pmod(col("__sel"), lit(posCap))).cast("int").as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(call_function("substring", col("__norm"), col("pos"),
          lit(spanChars))).as("span_key"))
  }

  /** Exact repeated-span detection — the substring-level dedup of
    * "Deduplicating Training Data Makes Language Models Better" (Lee
    * et al., 2022), winnowing-sampled for distribution
    * ([[sampledSpanWindows]]): a span whose exact content occurs at 2+
    * selected sites corpus-wide marks exactly-repeated text
    * (boilerplate, licenses, templated passages) that survives
    * document-level dedup. Detection is alignment-free and guaranteed
    * for shared regions of `spanChars + w - 1`+ characters.
    *
    * Scale shape: sampling is in-row (no shuffle); the occurrence
    * counts are ONE map-side-combinable `groupBy(span_key)` — partial
    * aggregation makes a boilerplate span repeated millions of times a
    * per-partition counter, never one task's sort (the r9 window-over-
    * span_hash form could not be split by AQE; this join-back CAN —
    * AQE skew-join splits a hot probe partition). The aggregate side
    * is filtered to repeated keys before the join, so it is corpus-
    * scale-small and usually broadcasts; join fan-out is exactly 1 row
    * per sampled window, so no df-cap is needed here (contrast
    * [[crossDocSpans]]' maxDocFreq, which bounds a quadratic gram
    * fan-out). Returns one row per sampled window with its global
    * `n_sites` / `n_docs` occurrence counts. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    spanChars: Int = 64, winnowW: Int = 31): DataFrame = {
    val wins = sampledSpanWindows(docs, idCol, textCol, spanChars, winnowW)
    val rep = wins.groupBy("span_key")
      .agg(count(lit(1)).as("__n_sites"),
        countDistinct(col("doc_id")).as("__n_docs"))
      .filter(col("__n_sites") >= 2)
    wins.join(rep, Seq("span_key"), "left")
      .select(col("span_key").as("span_hash"), col("doc_id"), col("pos"),
        coalesce(col("__n_sites"), lit(1L)).as("n_sites"),
        coalesce(col("__n_docs"), lit(1L)).as("n_docs"))
  }

  /** Exact repeated-span REMOVAL — the ExactSubstr transform of Lee
    * et al. 2022, winnowing-sampled ([[sampledSpanWindows]] — removal
    * of a shifted cross-doc repeat is alignment-free, guaranteed for
    * shared regions of `spanChars + w - 1`+ chars): every selected
    * `spanChars`-character window whose exact content occurs at
    * `minSites`+ sites corpus-wide is CUT from the text, except the
    * globally first site (minimum (doc_id, pos)), which survives as
    * the one kept occurrence. Operates in the normalized-text domain
    * (matching is whitespace/case-insensitive, so the surgery runs on
    * the same form the windows were keyed on).
    *
    * Scale shape: sampling is in-row (no shuffle). Occurrence count
    * and keeper site (`min(struct(doc_id, pos))`) are ONE map-side-
    * combinable `groupBy(span_key)` — a boilerplate span repeated
    * millions of times partial-aggregates per partition instead of
    * serializing into one window task's sort (the r9 window-over-
    * span_hash form; a window partition can never be split, a skewed
    * join-back probe can — AQE skew-join). The aggregate side is
    * filtered to `[minSites, maxSites]` keys before joining back, so
    * it is corpus-scale-small (usually broadcast) and fan-out is 1.
    * The sampling pass does run twice (aggregate build + probe): two
    * embarrassingly-parallel map scans beat materializing a corpus-
    * scale window set (the measured localCheckpoint cost) or an
    * unsplittable sort. Cut sites then shuffle once keyed by doc —
    * bounded by doc length — and the text surgery is one per-row fold
    * over the doc's sorted cut positions: a running-cursor fold
    * appends the text between the cursor and the next cut, then
    * advances the cursor past the cut; overlapping windows collapse
    * for free because the cursor is the running max of cut ends. No
    * all-pairs, no global suffix array.
    *
    * `maxSites` is a semantic guard, not a scale requirement: spans
    * repeated more often than it are boilerplate better handled by a
    * document FILTER (the [[crossDocSpans]] maxDocFreq philosophy) —
    * excising 10^7 sites of a newsletter footer one window at a time
    * is surgery on text that should not survive curation at all.
    * Default keeps everything (Lee et al. semantics).
    *
    * Returns one row per input doc: (doc_id, clean_text,
    * removed_chars), clean_text being the normalized text with all
    * non-keeper repeated windows excised. */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          spanChars: Int = 64, winnowW: Int = 31,
                          minSites: Int = 2,
                          maxSites: Long = Long.MaxValue): DataFrame = {
    val norm = docs.select(col(idCol).as("doc_id"),
      Text.normalize(col(textCol)).as("__norm"))
    val wins = sampledSpanWindows(docs, idCol, textCol, spanChars, winnowW)
    val keepers = wins.groupBy("span_key")
      .agg(count(lit(1)).as("__n"),
        min(struct(col("doc_id"), col("pos"))).as("__keep"))
      .filter(col("__n") >= minSites && col("__n") <= maxSites)
    val cuts = wins.join(keepers, "span_key")
      .filter(!(col("doc_id") === col("__keep.doc_id") &&
        col("pos") === col("__keep.pos")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("__cuts"))
    applyCuts(norm, cuts, spanChars)
  }

  /** Shared running-cursor surgery: excise [pos, pos+spanChars-1] for
    * every cut position (sorted, overlaps merged by the cursor fold),
    * returning (doc_id, clean_text, removed_chars) for EVERY norm row
    * (docs without cuts pass through, null text stays null). */
  private def applyCuts(norm: DataFrame, cuts: DataFrame,
                        spanChars: Int): DataFrame = {
    val span = lit(spanChars)
    val cleaned = aggregate(col("__cuts"),
      struct(lit(1).as("cursor"), lit("").as("out")),
      (acc, p) => struct(
        greatest(acc.getField("cursor"), p + span).as("cursor"),
        concat(acc.getField("out"),
          call_function("substring", col("__norm"),
            acc.getField("cursor"),
            greatest(lit(0), p - acc.getField("cursor")))).as("out")),
      acc => concat(acc.getField("out"),
        call_function("substring", col("__norm"),
          acc.getField("cursor"), length(col("__norm")))))
    norm.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__cuts").isNull, col("__norm"))
          .otherwise(cleaned).as("clean_text"),
        length(col("__norm")).as("__orig_len"))
      .select(col("doc_id"), col("clean_text"),
        (col("__orig_len") - length(col("clean_text")))
          .cast("long").as("removed_chars"))
  }

  /** Persistable repeated-span catalog: the corpus's distinct sampled
    * span keys with their site counts — write once per corpus
    * version, then excise matching spans from every incoming batch
    * with [[removeCatalogSpans]] without ever re-scanning the corpus
    * (the incremental twin of [[removeRepeatedSpans]], mirroring
    * [[Winnow.fingerprintCatalog]] / [[signatureCatalog]]'s shape). One
    * map-side-combinable aggregation; callers can drop keys above a
    * site cap at write time (boilerplate → filtering). */
  def spanCatalog(docs: DataFrame, idCol: String, textCol: String,
                  spanChars: Int = 64, winnowW: Int = 31): DataFrame =
    sampledSpanWindows(docs, idCol, textCol, spanChars, winnowW)
      .groupBy("span_key")
      .agg(count(lit(1)).cast("bigint").as("n_sites"))

  /** Incremental ExactSubstr removal: cut every sampled window of
    * `batch` whose exact content already exists in `catalog` (a
    * [[spanCatalog]] built with the SAME spanChars/winnowW — the
    * content-defined sampling guarantees batch and corpus select
    * identical positions inside shared regions, so matching needs no
    * alignment). No keeper site: the corpus already holds the
    * canonical copy, so every match is cut. Within-batch repeats are
    * [[removeRepeatedSpans]]'s job — compose both for a full
    * crawl-snapshot dedup.
    *
    * Scale shape: the batch samples in-row, LEFT SEMI joins the
    * 128-bit keys (catalog side is df-bounded and often broadcast),
    * and cut sites shuffle once keyed by doc — the corpus is never
    * read. Returns (doc_id, clean_text, removed_chars) for every
    * batch doc. */
  def removeCatalogSpans(batch: DataFrame, idCol: String, textCol: String,
                         catalog: DataFrame, spanChars: Int = 64,
                         winnowW: Int = 31): DataFrame = {
    val norm = batch.select(col(idCol).as("doc_id"),
      Text.normalize(col(textCol)).as("__norm"))
    val cuts = sampledSpanWindows(batch, idCol, textCol, spanChars, winnowW)
      .join(catalog.select("span_key"), Seq("span_key"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("__cuts"))
    applyCuts(norm, cuts, spanChars)
  }

  /** Quality-aware cluster keeper: given docs carrying a cluster
    * assignment (e.g. [[connectedComponentsStars]] output joined
    * back), keep exactly one member per cluster — the one MINIMIZING
    * `(priority, id)`. Pass e.g. `-length(text)` for longest-doc-wins
    * (the FineWeb-style policy) or a negated classifier score for
    * best-quality-wins; ids break ties deterministically.
    *
    * Scale shape: one map-side-combinable `min(struct)` per cluster +
    * a LEFT SEMI join back on the id — one keyed shuffle each, no
    * window/sort over members. Singleton clusters keep themselves.
    *
    * NULL priorities lose to every real value (the struct key leads
    * with an isNull flag), so a null-scored degenerate doc can never
    * out-keep valid members. Cluster ids must be non-null: assign
    * singletons their own id first (see [[graft.LlmQueries
    * .dedupBest]]'s coalesce) — a null cluster would pool every
    * unclustered doc into ONE group and keep a single survivor. */
  def keepBestPerCluster(docs: DataFrame, idCol: String,
                         clusterCol: String,
                         priority: Column): DataFrame = {
    val keepers = docs.groupBy(col(clusterCol))
      .agg(min(struct(priority.isNull.as("__miss"), priority.as("__p"),
        col(idCol).as("__id")))
        .getField("__id").as(idCol))
      .select(idCol)
    docs.join(keepers, Seq(idCol), "left_semi")
  }

  /** 64-bit SimHash over normalized word hashes: bit j of the result is
    * the sign of the sum over tokens of ±1 for that token-hash bit.
    * Pure per-row work, no shuffle — native [[graft.expr.SimhashExpr]]. */
  def simhash(text: Column): Column = call_function("simhash64", text)

  /** Declarative HOF twin of [[simhash]] (spec reference only). */
  def simhashHof(text: Column): Column = {
    val hs = transform(Text.words(Text.normalize(text)), w => xxhash64(w))
    // ONE fold with a 64-wide vote accumulator (a per-bit fold would
    // re-evaluate the token-hash pipeline 64x — same trap as the
    // minhash signature). Bit j is tested via bitwiseAND with 1L<<j.
    val bitMasks = typedlit((0 until 64).map(j => 1L << j))
    val votes = aggregate(hs, typedlit(Seq.fill(64)(0)),
      (acc, h) => zip_with(acc, bitMasks, (c, m) =>
        c + when(h.bitwiseAND(m) =!= 0L, 1).otherwise(-1)))
    aggregate(zip_with(votes, bitMasks,
      (v, m) => when(v > 0, m).otherwise(0L)),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: bucket on 4 x 16-bit bands of the
    * simhash (any pair within Hamming distance 3 shares at least one
    * band), verify with full Hamming distance <= maxDist. Same
    * one-scan bucket-combinations shape as [[minhashCandidates]]. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3,
                      maxBucketSize: Int = 1000): DataFrame =
    simhashNearDupsFromHashes(
      spread(reg(docs), col(idCol)).select(col(idCol).as("doc_id"),
        simhash(col(textCol)).as("sh")),
      maxDist, maxBucketSize)

  /** Banding/verify stage of [[simhashNearDups]] over a precomputed
    * `(doc_id, sh)` frame — callers that already materialize per-doc
    * hashes for their own verify joins pass them in instead of paying
    * a second full corpus scan + simhash pass. */
  def simhashNearDupsFromHashes(sh: DataFrame, maxDist: Int = 3,
                                maxBucketSize: Int = 1000): DataFrame = {
    // maxDist=0 requires IDENTICAL hashes — banding adds nothing but a
    // 4x explosion and giant 16-bit-band buckets (low-entropy corpora
    // share band values far more often than whole hashes). Bucket on
    // the full simhash instead: only true duplicates ever collide.
    val banded =
      if (maxDist == 0)
        sh.select(col("doc_id"), col("sh"),
          lit(0).as("band"), col("sh").as("bucket"))
      else sh.select(col("doc_id"), col("sh"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sh"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bucket"))): _*)).as("bk"))
        .select(col("doc_id"), col("sh"), col("bk.band"), col("bk.bucket"))
    val buckets = pinKeyed(banded, col("band"), col("bucket"))
      .groupBy("band", "bucket")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sh"))))
        .as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
    buckets
      .select(explode(bucketPairs(col("members"), (x, y) => struct(
        x.getField("doc_id").as("id_a"),
        y.getField("doc_id").as("id_b"),
        hamming(x.getField("sh"), y.getField("sh")).as("dist"))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.dist").as("dist"))
      .filter(col("dist") <= maxDist)
      .groupBy("id_a", "id_b").agg(min("dist").as("dist"))
  }
}
