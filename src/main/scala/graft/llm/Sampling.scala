package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** Deterministic, engine-independent sampling and dataset splits —
  * the reproducibility primitive a training-data pipeline needs:
  * the SAME row lands in the SAME split on every run, every engine,
  * every cluster size, with no seed state to thread through.
  *
  * Mechanism: bucket each row by leading hex nibbles of `md5(key)` —
  * a pure column computation (codegen'd, no shuffle, no RNG), stable
  * across Spark/DuckDB/anything with md5. Rates are expressed in
  * 1/256ths (two nibbles) — fine enough for real split ratios while
  * staying exactly representable.
  *
  * This deliberately differs from `df.sample`/`sampleBy` (seeded
  * per-partition RNG: deterministic only for a fixed partitioning,
  * and not reproducible outside Spark). Hash-bucket sampling is the
  * standard technique for dataset versioning and train/test splits
  * (e.g. every web-scale corpus pipeline splits by URL hash).
  */
object Sampling {

  /** Bucket 0..255 from the first two hex digits of md5(key) —
    * native [[graft.expr.Md5PrefixExpr]], value-identical to the
    * conv/substring/md5 chain without the hex-string round-trip. */
  def bucket256(key: Column): Column =
    call("md5_prefix", key.cast("string"), lit(2)).cast("int")

  /** Keep ~`num`/256 of rows, deterministically by key. */
  def deterministicSample(df: DataFrame, key: Column, num: Int): DataFrame = {
    require(num >= 0 && num <= 256, s"num/256 rate out of range: $num")
    df.filter(bucket256(key) < num)
  }

  /** Assign 'train' / 'val' / 'test' by key hash: buckets
    * [0, trainUpTo) → train, [trainUpTo, valUpTo) → val, rest test.
    * Disjoint, exhaustive, reproducible — and stable under corpus
    * growth (a row's split never depends on other rows). */
  def split(key: Column, trainUpTo: Int = 230, valUpTo: Int = 243): Column = {
    require(0 < trainUpTo && trainUpTo <= valUpTo && valUpTo <= 256,
      s"bad split bounds ($trainUpTo, $valUpTo)")
    when(bucket256(key) < trainUpTo, "train")
      .when(bucket256(key) < valUpTo, "val")
      .otherwise("test")
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-Res): each row gets rank key
    * `ln(u) / w` with `u` a hash-derived uniform in (0, 1), and the
    * `n` largest keys win — every row's selection probability is
    * proportional to its weight, with NO RNG state: the same rows win
    * on every engine, run, and cluster size. The importance-sampling
    * primitive of corpus curation ("sample 10M docs biased by quality
    * score").
    *
    * Scale shape: the key is a per-row expression; global top-n is
    * TakeOrderedAndProject (per-partition heaps, no full sort, no
    * shuffle of the corpus). Rows with non-positive weight never
    * qualify (dropped up front, matching w→0 probability). */
  def weightedSample(df: DataFrame, key: Column, weight: Column,
                     n: Int): DataFrame = {
    require(n > 0, s"weightedSample needs n > 0, got $n")
    // uniform from the first 8 md5 hex digits, offset to avoid ln(0)
    val u = (call("md5_prefix", key.cast("string"), lit(8))
      .cast("double") + 0.5) / 4294967296.0
    df.filter(weight > 0)
      .withColumn("__wk", log(u) / weight.cast("double"))
      .orderBy(col("__wk").desc, key.cast("string"))
      .limit(n)
      .drop("__wk")
  }

  /** Deterministic weighted sampling without replacement when weights
    * arrive in LOG domain (Gumbel-top-k): rank key `s + g(u)` with
    * `g = −ln(−ln u)` a standard Gumbel from the same hash-derived
    * uniform as [[weightedSample]] — the `n` largest keys are an exact
    * sample with P(select) ∝ exp(s) (Gumbel-max trick), equivalent to
    * `weightedSample(w = exp(s))` but stable at any score magnitude
    * (`exp` overflows past |s| ≈ 709, where importance scores of long
    * documents routinely live). The resampling step of DSIR
    * ([[Dsir]]): feed `score_e6 / 1e6` straight in, no exp. Same
    * zero-RNG determinism and TakeOrderedAndProject scale shape (per-
    * partition heaps — no corpus shuffle, no full sort). */
  def logWeightedSample(df: DataFrame, key: Column, logWeight: Column,
                        n: Int): DataFrame = {
    require(n > 0, s"logWeightedSample needs n > 0, got $n")
    val u = (call("md5_prefix", key.cast("string"), lit(8))
      .cast("double") + 0.5) / 4294967296.0
    df.withColumn("__gk", logWeight.cast("double") - log(-log(u)))
      .orderBy(col("__gk").desc, key.cast("string"))
      .limit(n)
      .drop("__gk")
  }

  /** Deterministic per-group cap: keep at most `n` rows per group,
    * chosen by md5-rank of the key — the per-domain/source cap of
    * corpus curation ("no more than N docs from any one site"),
    * reproducible across engines, runs, and cluster sizes, and stable
    * under re-partitioning (rank depends only on the key).
    *
    * Scale shape: a per-partition bounded heap first reduces each
    * group to ≤ n rows per input partition, so the per-group ranking
    * window never sees a giant group — the same skew defense as
    * [[graft.llm.Similarity]]'s localTopK. One keyed shuffle. */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                  n: Int): DataFrame = {
    require(n > 0, s"capPerGroup needs n > 0, got $n")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.expressions.Window
    val withRank = df.withColumn("__mk", md5(col(keyCol).cast("string")))
    val sch = withRank.schema
    val gi = sch.fieldIndex(groupCol)
    val mi = sch.fieldIndex("__mk")
    // heap head = current WORST (largest md5) = eviction candidate;
    // ties broken arbitrarily in the pre-pass — safe, because tied
    // rows share (group, key) and the final window's output columns
    // cannot distinguish them
    val byBadness: Ordering[Row] = new Ordering[Row] {
      override def compare(a: Row, b: Row): Int =
        a.getString(mi).compareTo(b.getString(mi))
    }
    val partial = withRank.mapPartitions { rows =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[Row]]
      rows.foreach { r =>
        val h = heaps.getOrElseUpdate(r.get(gi),
          scala.collection.mutable.PriorityQueue.empty[Row](byBadness))
        if (h.size < n) h.enqueue(r)
        else if (byBadness.compare(r, h.head) < 0) { h.dequeue(); h.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }(RowEncoder.encoderFor(sch))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__mk"), col(keyCol).cast("string"))
    partial.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn", "__mk")
  }
}
