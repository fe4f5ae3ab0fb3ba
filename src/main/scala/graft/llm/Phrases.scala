package graft.llm

import graft.Materializer.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PMI phrase mining: score adjacent word pairs by pointwise mutual
  * information — the classic collocation signal behind phrase
  * detection ("new york" vs "of the") in corpus preprocessing.
  *
  * Scale shape: ONE tokenize + posexplode pass feeds both count
  * tables — bigrams come from a `lead()` window over the doc-keyed
  * exchange (the Winnow lesson: array-HOF zips run interpreted and
  * O(words²) on long docs; the window shares one shuffle), unigrams
  * from a plain word groupBy of the same exploded frame. All counts
  * are exact integers; PMI = ln(n_ab·N / (n_a·n_b)) runs in double on
  * those exact integers, so scores are reproducible on any
  * engine/partitioning. The corpus-total N is a 1-row aggregate
  * crossed back over |bigrams| rows (the vetted single-row-build
  * shape, O(n) not quadratic).
  */
object Phrases {

  /** Adjacent-bigram PMI over a corpus.
    *
    * @param minCount drop bigrams rarer than this (PMI is noise at
    *                 tiny counts — the standard guard)
    * @return (a, b, n_ab, pmi) — pmi rounded 6dp
    */
  def pmiBigrams(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 5L): DataFrame = {
    val toks = docs
      .where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc"),
        posexplode(graft.expr.NormWords(col(textCol))).as(Seq("pos", "w")))

    val w = Window.partitionBy("doc").orderBy("pos")
    val bigrams = toks
      .withColumn("nxt", lead(col("w"), 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy(col("w").as("a"), col("nxt").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)

    // vocab-sized, materialized once: three consumers (both PMI join
    // sides and the total) would otherwise each re-run the corpus
    // tokenize+explode pipeline feeding it — 4 full corpus passes for
    // a query that needs 2 (bigram counts + unigram counts)
    val unigrams = toks.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
      .materialized("pmi_unigrams", eager = true)
    val total = unigrams.agg(sum(col("n_w")).as("n_total"))

    bigrams
      .join(unigrams.select(col("w").as("a"), col("n_w").as("n_a")), "a")
      .join(unigrams.select(col("w").as("b"), col("n_w").as("n_b")), "b")
      .crossJoin(total)
      .select(col("a"), col("b"), col("n_ab"),
        round(log((col("n_ab").cast("double") * col("n_total").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double"))), 6).as("pmi"))
  }
}
