package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Dsir

class DsirSpec extends SparkSuite {
  import spark.implicits._

  private def rows(df: DataFrame) =
    df.orderBy("doc_id").collect().toSeq

  test("importance scores rank target-like documents above " +
    "off-target ones; empty docs produce no row") {
    val raw = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "the quick brown fox likes the quick brown cat"),
      (4L, "1234 5678 !!!"), // zero alpha tokens -> no row
      (10L, "the quick brown fox and the quick brown hare")
    ).toDF("doc_id", "text")
    val scored = Dsir.importanceScoresSubset(raw, col("doc_id") === 10L,
      "doc_id", "text", nBuckets = 256).orderBy("doc_id").collect()
    assert(scored.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 10L))
    val byId = scored.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2))).toMap
    // doc 1/3 share the target's ngrams; doc 2 shares none — its
    // per-ngram average importance must be strictly lower
    def avg(id: Long): Double =
      byId(id)._2.toDouble / byId(id)._1
    assert(avg(1) > avg(2), s"${avg(1)} vs ${avg(2)}")
    assert(avg(3) > avg(2), s"${avg(3)} vs ${avg(2)}")
    // ngram count = unigrams + bigrams = 2·tokens − 1
    assert(byId(1L)._1 == 9 + 8)
    assert(byId(2L)._1 == 8 + 7)
  }

  test("scores are exact integers: partition-invariant and " +
    "replayable from a persisted weight table") {
    val docs = (0 until 50).map(i =>
      (i.toLong, s"tok${i % 7} tok${i % 5} tok${i % 3} tok${i % 11}"))
      .toDF("doc_id", "text")
    val pred = col("doc_id") % 2 === 0
    val a = rows(Dsir.importanceScoresSubset(docs, pred, "doc_id", "text",
      128))
    val b = rows(Dsir.importanceScoresSubset(docs.repartition(7), pred,
      "doc_id", "text", 128))
    assert(a == b)
    // train-once-score-later: the weight table round-trips
    val w = Dsir.train(docs, docs.filter(pred), "text", 128)
    val c = rows(Dsir.score(docs, w, "doc_id", "text", 128))
    assert(a == c)
    // the weight domain is total: all 128 buckets present
    assert(w.count() == 128)
  }

  test("importanceScoresSubset equals score(raw, train(raw, " +
    "raw.filter(pred))) exactly when ids are unique, not otherwise") {
    val words = Seq("river", "stone", "cloud", "maple", "ember", "quartz",
      "harbor", "lantern", "meadow", "signal", "timber", "violet")
    val raw = (0 until 60).map(i =>
      (i.toLong, Seq.tabulate(3 + i % 6)(j =>
        words((i * 7 + j * j) % words.length)).mkString(" ")))
      .toDF("doc_id", "text")
    val pred = col("text").contains("quartz")
    def reference(df: DataFrame) =
      rows(Dsir.score(df, Dsir.train(df, df.filter(pred), "text", 64),
        "doc_id", "text", 64))
    val got = rows(Dsir.importanceScoresSubset(raw, pred, "doc_id",
      "text", 64))
    assert(got.length == 60)
    assert(got == reference(raw))
    // a duplicate id whose second row misses the predicate: the subset
    // form rolls target mass up per id, so that row counts as target
    val dup = raw.unionByName(Seq((11L, "harbor lantern meadow signal"))
      .toDF("doc_id", "text"))
    assert(raw.filter(col("doc_id") === 11L && pred).count() == 1)
    assert(rows(Dsir.importanceScoresSubset(dup, pred, "doc_id", "text",
      64)) != reference(dup))
  }
}
