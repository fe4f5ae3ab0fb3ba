package graft.llm

import graft.Materializer.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-call corpus cleaning — the C4/Gopher-style pipeline a
  * training-data run applies before tokenization:
  * quality filter → language filter → exact dedup → near-dup removal.
  *
  * Every stage is a deterministic DataFrame transform; the near-dup
  * stage is the banded-LSH path (no all-pairs anywhere), so the whole
  * pipeline is two keyed shuffles regardless of corpus size. */
object Clean {

  case class Config(
      minTokens: Int = 5,
      maxTokens: Int = 1000000,
      minStopwordDecile: Int = 0,
      langs: Option[Seq[String]] = None,     // None = keep all
      nearDupThreshold: Double = 0.9,
      shingleK: Int = 5,
      numHashes: Int = 128,
      bands: Int = 32,
      // optional published filter batteries, applied BEFORE the token
      // gate: C4 first (it rewrites text to its kept lines), then the
      // Gopher rules on the cleaned text
      c4: Option[C4.Config] = None,
      gopher: Option[Gopher.Config] = None)

  /** Token/stopword-based keep predicate (quality gate). */
  def qualityKeep(text: Column, cfg: Config): Column = {
    val tc = Text.tokenCount(text)
    // null (row dropped) for a token-free doc in both ANSI modes: an
    // unguarded x / 0 is null with ANSI off and DIVIDE_BY_ZERO with it on
    val decile = when(tc > 0,
      floor((Text.stopwordCount(text) * 10).cast("double") / tc))
    tc.between(cfg.minTokens, cfg.maxTokens) &&
      (decile >= cfg.minStopwordDecile)
  }

  /** Run the full pipeline; returns the cleaned corpus (same schema). */
  def corpus(docs: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config(),
             langCol: Option[String] = None): DataFrame = {
    var d = docs
    cfg.c4.foreach(c => d = C4.clean(d, textCol, c))
    cfg.gopher.foreach(g => d = Gopher.filterCorpus(d, textCol, g))
    d = d.filter(qualityKeep(col(textCol), cfg))
    (cfg.langs, langCol) match {
      case (Some(ls), Some(lc)) => d = d.filter(col(lc).isin(ls: _*))
      case _ =>
    }
    // Materialize the gate survivors: the exact stage's min-agg AND
    // its semi-join probe both read them, so the (C4/Gopher/token)
    // gate — normalize+tokenize string work over the full corpus —
    // otherwise runs twice before near-dup even starts. LAZY: the
    // exact-survivor checkpoint below is lazy too, so the first eager
    // consumer is `Dedup.nearDuplicates`' checkpoint of its verified
    // pairs (with a prefilter margin, its earlier signature
    // checkpoint): that job's shingle/signature stage fills both
    // checkpoints' blocks, with no separate scheduled pass. A
    // broadcast build running as its own job beside the other side
    // waits on the first writer of a block in one JVM rather than
    // computing it again (MaterializerSpec counts one compute).
    d = d.materialized("clean_gate_survivors")
    // exact dedup: keep the smallest id per identical text — the
    // skew-safe min(id)-agg + semi-join shape (see
    // [[Dedup.dropExactDuplicates]]; a row_number window serializes a
    // mega-duplicated doc into one task)
    d = Dedup.dropExactDuplicates(d, idCol, textCol)
    // Materialize the exact-dedup survivors ONCE: the near-dup stage
    // reads them twice (shingle build + the final anti-join probe),
    // and without this each read re-ran the whole upstream chain —
    // the C4/Gopher/token quality gate over the raw corpus plus the
    // md5-agg + semi-join of the exact stage (quality gate evaluated
    // 4x, exact-dedup shuffle 2x in the executed plan). One
    // corpus-sized local materialization — the same order of bytes
    // the exact stage's own shuffle already moves — replaces those
    // repeated corpus passes; rows are identical either way. LAZY:
    // the near-dup stage's shingle persist populate is the first
    // consumer and fills these blocks in-job; the final anti-join
    // reads them back.
    d = d.materialized("clean_exact_survivors")
    // near-dup removal (greedy keep-lowest-id)
    Dedup.dropNearDuplicates(d, idCol, textCol, cfg.nearDupThreshold,
      cfg.shingleK, cfg.numHashes, cfg.bands)
  }

  /** Train/test contamination REPORT — the overlap fraction every
    * training-data paper publishes (GPT-3 appendix C style): for each
    * training doc, how many of its distinct word k-shingles appear
    * anywhere in the evaluation corpus. [[decontaminate]] drops on
    * ANY shared shingle; this measures, so callers can threshold
    * (`n_contaminated * 100 > pct * n_shingles`) or audit.
    *
    * Same scale shape as decontaminate: 64-bit shingle hashes, the
    * test side reduced to its distinct hash set, one keyed shuffle of
    * 8-byte keys on the train side, exact integer outputs. */
  def contaminationReport(train: DataFrame, test: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 8): DataFrame = {
    graft.GraftFunctions.register(train.sparkSession)
    val testGrams = test
      .select(explode(Dedup.shingleHashes(col(textCol), k)).as("__g"))
      .distinct()
      .withColumn("__hit", lit(1L))
    // explode_outer + count(non-null): a null-text doc (null shingle
    // array) still reports one (0, 0) row — plain explode would drop
    // it from the report, breaking the every-doc contract
    train
      .select(col(idCol).as("doc_id"),
        explode_outer(Dedup.shingleHashes(col(textCol), k)).as("__g"))
      .join(testGrams, Seq("__g"), "left")
      .groupBy("doc_id")
      .agg(count(col("__g")).cast("long").as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).cast("long")
          .as("n_contaminated"))
  }

  /** Train/test decontamination: drop training docs sharing ANY word
    * k-shingle with the evaluation corpus — the standard guard against
    * benchmark leakage into training data.
    *
    * Scale shape: shingles travel as 64-bit hashes (the native
    * [[Dedup.shingleHashes]] expression — measured 4x vs shuffling
    * shingle strings), the test side reduces to its DISTINCT hash set
    * (eval corpora are tiny next to training corpora, so this side
    * broadcasts or at worst shuffles a small set), and the train side
    * explodes to (id, hash) and LEFT SEMI joins — one keyed shuffle of
    * 8-byte keys, never an all-pairs comparison. A false drop needs a
    * 64-bit collision; training pipelines accept that rate. */
  def decontaminate(train: DataFrame, test: DataFrame, idCol: String,
                    textCol: String, k: Int = 8): DataFrame = {
    graft.GraftFunctions.register(train.sparkSession)
    val testGrams = test
      .select(explode(Dedup.shingleHashes(col(textCol), k)).as("__g"))
      .distinct()
    val contaminated = train
      .select(col(idCol),
        explode(Dedup.shingleHashes(col(textCol), k)).as("__g"))
      .join(testGrams, "__g")
      .select(idCol).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }
}
