package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** Domain-mixture materialization — turn per-source target weights
  * into an actual training corpus with deterministic, reproducible
  * row-level sampling. This is the "data mixture" step of a training
  * pipeline: given sources with counts c_s and relative weights w_s,
  * emit each document of source s
  *
  *     r_s = targetRows · (w_s / Σw) / c_s
  *
  * times: ⌊r_s⌋ full copies (epoch-style up-sampling) plus one more
  * iff md5-fraction(id) < frac(r_s) (fractional epoch / down-sampling).
  *
  * Determinism: the accept decision is a pure column computation on the
  * row key (same md5-bucket mechanism as [[Sampling]]) — the SAME rows
  * are chosen on every run, engine, and cluster size, and a document's
  * fate never depends on other rows (stable under corpus growth within
  * a source only via the rate; the rate is recomputed from counts).
  *
  * Scale shape: per-source counts are one tiny aggregation broadcast
  * back onto the corpus; copy emission is a row-local
  * `explode(sequence(...))` — the whole mixture is one scan + one
  * broadcast join, no shuffle of the corpus itself.
  */
object Mixing {

  /** Uniform fraction in [0,1) from the first 8 hex digits of
    * md5(key): 2^32 buckets, exactly representable in a double —
    * DuckDB and Spark compute the identical value. */
  def frac32(key: Column): Column =
    call("md5_prefix", key.cast("string"), lit(8))
      .cast("double") / 4294967296.0

  /** Materialize the mixture. Output = input columns + `copy`
    * (1-based copy index). Sources absent from `weights` get weight 0
    * and are dropped. `targetRows` is hit in expectation (each row's
    * emission count is deterministic; the expectation is over the md5
    * buckets, which are uniform). */
  def materializeMixture(docs: DataFrame, idCol: String, sourceCol: String,
                         weights: Map[String, Double],
                         targetRows: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0.0),
      "materializeMixture: weights must be non-negative")
    val wSum = weights.values.sum
    require(wSum > 0.0, "materializeMixture: all weights are zero")
    // tiny: one row per source, broadcast back onto the corpus
    val counts = docs.groupBy(col(sourceCol)).agg(count(lit(1)).as("c_s"))
    val wCol = weights.foldLeft(lit(0.0)) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    val rate = (lit(targetRows.toDouble) * (wCol / wSum)) / col("c_s")
    val nWhole = floor(rate).cast("int")
    val extra = (frac32(col(idCol)) < (rate - floor(rate))).cast("int")
    val nCopies = (nWhole + extra).as("n_copies")
    docs.join(broadcast(counts), sourceCol)
      .withColumn("n_copies", nCopies)
      .where(col("n_copies") >= 1)
      .withColumn("copy",
        explode(sequence(lit(1), col("n_copies"))))
      .drop("n_copies", "c_s")
  }
}
