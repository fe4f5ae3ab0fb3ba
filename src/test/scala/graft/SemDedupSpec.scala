package graft

import graft.llm.Similarity
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkSuite {
  import spark.implicits._

  // three well-separated directions in R^4, unit-norm members
  private def v(x: Double*): Seq[Double] = {
    val n = math.sqrt(x.map(a => a * a).sum)
    x.map(_ / n)
  }
  private val corpus = Seq(
    (1L, v(1, 0, 0, 0.00)),
    (2L, v(1, 0, 0, 0.01)),  // ~1.0 cosine with 1
    (3L, v(1, 0, 0, 0.02)),  // chains to 2 (and 1) — one cluster {1,2,3}
    (10L, v(0, 1, 0, 0)),
    (11L, v(0, 1, 0, 0.01)), // cluster {10, 11}
    (20L, v(0, 0, 1, 0))     // singleton
  ).toDF("vec_id", "embedding")

  test("clusters resolve to min-id labels with keep on the minimum") {
    val out = Similarity.semanticDedup(corpus, threshold = 0.999,
      nCentroids = 3, assignTop = 1)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true)))
  }

  test("multi-assignment changes candidates, not the verified answer") {
    val single = Similarity.semanticDedup(corpus, threshold = 0.999,
      nCentroids = 3, assignTop = 1).orderBy("vec_id").collect().toSeq
    val dual = Similarity.semanticDedup(corpus, threshold = 0.999,
      nCentroids = 3, assignTop = 2).orderBy("vec_id").collect().toSeq
    assert(single == dual)
  }

  test("result is partitioning-independent") {
    val a = Similarity.semanticDedup(corpus, threshold = 0.999,
      nCentroids = 3, assignTop = 2).orderBy("vec_id").collect().toSeq
    val b = Similarity.semanticDedup(corpus.repartition(5),
      threshold = 0.999, nCentroids = 3, assignTop = 2)
      .orderBy("vec_id").collect().toSeq
    assert(a == b)
  }

  test("a high threshold keeps everything") {
    val out = Similarity.semanticDedup(
      corpus.filter(col("vec_id").isin(1L, 10L, 20L)),
      threshold = 0.9999999, nCentroids = 2, assignTop = 1)
    assert(out.filter(col("keep")).count() == 3)
    assert(out.filter(col("cluster_id") =!= col("vec_id")).count() == 0)
  }

  test("exact-collapse: clone families, zero vectors, and chains " +
    "through clones resolve exactly like the uncollapsed algorithm") {
    val c = Seq(
      (5L, v(1, 0, 0, 0)), (3L, v(1, 0, 0, 0)), (9L, v(1, 0, 0, 0)),
      (4L, v(1, 0, 0, 0.01)), // near-dup bridges INTO the clone family
      (30L, Seq(0.0, 0.0, 0.0, 0.0)), // zero-norm twins never edge
      (31L, Seq(0.0, 0.0, 0.0, 0.0)),
      (40L, v(0, 1, 0, 0))) // singleton
      .toDF("vec_id", "embedding")
    // the collapse rides the scale path (k >= hierK): force it on at
    // this tiny k so the pre-pass itself is what's under test — and
    // pin that the flat small-k path gives the SAME answer
    spark.conf.set("spark.graft.semdedup.hierK", "2")
    val out =
      try Similarity.semanticDedup(c, threshold = 0.999,
        nCentroids = 2, assignTop = 2)
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      finally spark.conf.unset("spark.graft.semdedup.hierK")
    val expected = Seq(
      (3L, 3L, true), (4L, 3L, false), (5L, 3L, false), (9L, 3L, false),
      (30L, 30L, true), (31L, 31L, true), // zeros stay singletons
      (40L, 40L, true))
    assert(out == expected)
    val flat = Similarity.semanticDedup(c, threshold = 0.999,
      nCentroids = 2, assignTop = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(flat == expected, "flat path diverged from the scale path")
  }

  test("a zero-norm vector is its own cluster beside cell-mates, never " +
    "a division error") {
    val c = corpus.unionByName(
      Seq((30L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding"))
    // one centroid: every vector, the zero one included, shares a cell
    val out = Similarity.semanticDedup(c, threshold = 0.999,
      nCentroids = 1, assignTop = 1)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true), (30L, 30L, true)))
  }

  test("a NaN-element vector never glues clusters (NaN cosine " +
    "compares largest under Spark's ordering — must be rejected)") {
    val c = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(1, 0, 0, 0.01)), // true pair
      (10L, v(0, 1, 0, 0)), // separate direction
      (99L, Seq(Double.NaN, 0.0, 0.0, 0.0))) // corrupt row
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(c, threshold = 0.999,
      nCentroids = 2, assignTop = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    // without the isnan guard, 99's NaN cosine passes >= threshold
    // against every cell-mate and merges everything into cluster 1
    assert(out == Seq((1L, 1L, true), (2L, 1L, false),
      (10L, 10L, true), (99L, 99L, true)))
  }

  test("threshold = 1.0 preserves the base algorithm exactly: the " +
    "collapse pre-pass stays OFF (float cosine of identical vectors " +
    "is not reliably 1.0)") {
    // [1,1]/sqrt(2) twice: cosine computes 2/2.0000000000000004 < 1.0
    // in the base algorithm — identical vectors must NOT merge at
    // threshold 1.0 unless the float round-trip lands exactly on 1.0
    val c = Seq((1L, Seq(1.0, 1.0, 0.0, 0.0)),
      (2L, Seq(1.0, 1.0, 0.0, 0.0)),
      (3L, Seq(3.0, 4.0, 0.0, 0.0)), // 3/4/5: norms round-trip exactly
      (4L, Seq(3.0, 4.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    // force the scale path so ONLY the threshold term gates collapse
    spark.conf.set("spark.graft.semdedup.hierK", "2")
    val out =
      try Similarity.semanticDedup(c, threshold = 1.0,
        nCentroids = 2, assignTop = 2).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      finally spark.conf.unset("spark.graft.semdedup.hierK")
    assert(out(2L) == 2L, "sqrt(2)-normed clones must stay split at 1.0")
    assert(out(4L) == 3L, "exact-norm clones merge at 1.0 (cosine == 1)")
  }

  test("scale path with NaN vectors in the corpus: codebook trains " +
    "clean, NaN rows exit as self-representatives, clusters unchanged") {
    // force the hierarchical path at tiny k so the NaN rows WOULD have
    // poisoned the Lloyd's sample (their ids md5-sort wherever — the
    // sample filter must exclude them regardless) and the router would
    // have funneled everything into the NaN cell (r13 ADVICE find)
    val clean = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(1, 0, 0, 0.01)), // true pair
      (10L, v(0, 1, 0, 0)), (11L, v(0, 1, 0, 0.01)), // second pair
      (20L, v(0, 0, 1, 0))) // singleton
    val nans = Seq(
      (90L, Seq(Double.NaN, 0.0, 0.0, 0.0)),
      (91L, Seq(0.0, Double.NaN, 0.0, 0.0)))
    spark.conf.set("spark.graft.semdedup.hierK", "2")
    val (withNan, without) =
      try {
        val a = Similarity.semanticDedup(
          (clean ++ nans).toDF("vec_id", "embedding"),
          threshold = 0.999, nCentroids = 4, assignTop = 2)
          .orderBy("vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
        val b = Similarity.semanticDedup(
          clean.toDF("vec_id", "embedding"),
          threshold = 0.999, nCentroids = 4, assignTop = 2)
          .orderBy("vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
        (a, b)
      } finally spark.conf.unset("spark.graft.semdedup.hierK")
    assert(withNan ==
      without ++ Seq((90L, 90L, true), (91L, 91L, true)))
  }

  test("hierarchical router (k >= HierK): same clusters as the flat " +
    "path on a separable corpus; deterministic under repartitioning") {
    // 600 well-separated base directions in R^16 (deterministic LCG),
    // every 5th with a near-clone (cosine ~ 1-1e-6) and every 7th with
    // an exact clone — recall through the coarse→fine route must catch
    // all of them; random 16-dim directions never reach 0.999 cosine
    // by accident at this count
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(s => s * 6364136223846793005L +
        1442695040888963407L).drop(1)
    val rows = (0 until 600).flatMap { i =>
      val raw = lcg(i * 7919L + 1).take(16)
        .map(s => ((s >>> 20) % 2000).toDouble / 1000.0 - 1.0).toSeq
      val base = v(raw: _*)
      val id = i.toLong
      val member = Seq((id, base))
      val near = if (i % 5 == 0)
        Seq((id + 10000L, v(raw.updated(0, raw.head + 1e-4): _*)))
      else Nil
      val clone = if (i % 7 == 0) Seq((id + 20000L, base)) else Nil
      member ++ near ++ clone
    }
    val df = rows.toDF("vec_id", "embedding")
    assert(Similarity.HierK <= 512) // the probe below must cross it
    val out = Similarity.semanticDedup(df, threshold = 0.999,
      nCentroids = 512, assignTop = 2).cache()
    val clusters = out.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (i <- 0 until 600) {
      if (i % 5 == 0)
        assert(clusters(i + 10000L) == clusters(i.toLong),
          s"near-clone of $i missed by the hierarchical route")
      if (i % 7 == 0)
        assert(clusters(i + 20000L) == clusters(i.toLong),
          s"exact clone of $i split from its base")
    }
    // no false merges: every cluster is exactly {base, its variants}
    val sizes = out.groupBy("cluster_id").count().collect()
      .map(_.getLong(1)).groupBy(identity).view.mapValues(_.length).toMap
    assert(sizes.keySet.subsetOf(Set(1L, 2L, 3L)), s"cluster sizes $sizes")
    // partitioning-independence holds through the router too
    val b = Similarity.semanticDedup(df.repartition(7),
      threshold = 0.999, nCentroids = 512, assignTop = 2)
      .orderBy("vec_id").collect().toSeq
    assert(out.orderBy("vec_id").collect().toSeq == b)
  }
}
