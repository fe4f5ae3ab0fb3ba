package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** Corpus-level set similarity from mergeable MinHash sketches — the
  * production use of [[graft.expr.MinhashUnionAgg]]: estimate
  * `jaccard(elements(groupA), elements(groupB))` for every group pair
  * WITHOUT ever joining element sets pairwise.
  *
  * Scale shape: one keyed shuffle builds a signature per group
  * (map-side partial min-folds — the sketch is a join-semilattice, so
  * Catalyst's partial aggregation IS the union), then all pair
  * estimates are computed over |groups| rows of 8·numHashes bytes.
  * The exact alternative (distinct-element self-join) shuffles the
  * whole element universe per pair; this shuffles it once, total.
  * Sketches persist as plain array columns, so per-slice signatures
  * written today answer cross-slice similarity questions later
  * (min-merge == union — same pattern as the HLL/KLL/CMS family).
  *
  * Estimator: agreement fraction of the two union signatures
  * (`sig_agree / numHashes`), unbiased for true Jaccard with
  * σ = sqrt(J(1−J)/numHashes) ≤ 0.5/sqrt(numHashes).
  */
object GroupSimilarity {

  /** One MinHash signature + distinct-element count per group.
    * `elem` may repeat within a group (min is idempotent); the count
    * is over distinct elements. One keyed shuffle. */
  def groupSignatures(elems: DataFrame, groupCol: String, elemCol: String,
                      numHashes: Int = 128): DataFrame =
    elems
      .select(col(groupCol).as("group"),
        call("minhash_sig",
          array(xxhash64(col(elemCol))), lit(numHashes)).as("sig"),
        col(elemCol).as("elem"))
      .groupBy("group")
      .agg(call("minhash_union", col("sig")).as("sig"),
        countDistinct(col("elem")).cast("bigint").as("n_distinct"))

  /** Jaccard estimate for every unordered group pair from the group
    * signatures (output of [[groupSignatures]] — or of several runs
    * unioned, after an extra `minhash_union` per group). The pair join
    * is over |groups| sketch rows only — never over elements. */
  def sketchJaccard(sigs: DataFrame, numHashes: Int = 128): DataFrame = {
    val a = sigs.select(col("group").as("group_a"), col("sig").as("sig_a"),
      col("n_distinct").as("n_a"))
    val b = sigs.select(col("group").as("group_b"), col("sig").as("sig_b"),
      col("n_distinct").as("n_b"))
    a.join(b, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        (call("sig_agree", col("sig_a"), col("sig_b"))
          .cast("double") / numHashes).as("jaccard_est"))
  }

  /** [[groupSignatures]] + [[sketchJaccard]] in one call. */
  def setJaccard(elems: DataFrame, groupCol: String, elemCol: String,
                 numHashes: Int = 128): DataFrame =
    sketchJaccard(groupSignatures(elems, groupCol, elemCol, numHashes),
      numHashes)
}
