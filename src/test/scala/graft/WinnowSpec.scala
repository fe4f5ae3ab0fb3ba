package graft

import graft.llm.Winnow
import org.apache.spark.sql.functions._

class WinnowSpec extends SparkSuite {
  import spark.implicits._

  private val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  private def docOf(ix: Seq[Int]): String = ix.map(words).mkString(" ")

  test("winnowing guarantee: a shared run of w+k-1 words shares a fingerprint") {
    // k=3, w=4: any shared run of 6 words must yield >= 1 shared fp hash
    val shared = Seq(3, 7, 11, 2, 19, 5) // 6 words
    val docs = Seq(
      (1L, docOf(Seq(0, 1, 2, 4) ++ shared ++ Seq(6, 8))),
      (2L, docOf(Seq(9, 10, 12) ++ shared ++ Seq(13, 14, 15)))
    ).toDF("doc_id", "text")
    val fp = Winnow.fingerprints(docs, "doc_id", "text")
    val a = fp.filter($"doc_id" === 1L).select("fp_hash")
      .as[Long].collect().toSet
    val b = fp.filter($"doc_id" === 2L).select("fp_hash")
      .as[Long].collect().toSet
    assert(a.intersect(b).nonEmpty,
      "documents sharing a 6-word run must share a winnowed fingerprint")
  }

  test("fingerprint density and determinism under repartitioning") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 50L)
      .map(i => (i, docOf(Seq.fill(40)(rnd.nextInt(words.size)))))
      .toDF("doc_id", "text")
    val once = Winnow.fingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val again = Winnow.fingerprints(docs.repartition(13), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(once == again, "selection must not depend on partitioning")
    // density ~ 2/(w+1): 38 grams, w=4 -> expect roughly 8-24 fps/doc
    val perDoc = once.groupBy(_._1).map(_._2.size)
    assert(perDoc.forall(n => n >= 4 && n <= 30), s"density off: $perDoc")
  }

  test("short docs (< k words) fingerprint the whole text once") {
    val docs = Seq((1L, "alpha bravo"), (2L, "alpha bravo"), (3L, "solo"))
      .toDF("doc_id", "text")
    val fp = Winnow.fingerprints(docs, "doc_id", "text").collect()
    assert(fp.count(_.getLong(0) == 1L) == 1)
    assert(fp.filter(_.getLong(0) <= 2L).map(_.getLong(2)).distinct.length == 1,
      "identical short docs must share their single fingerprint")
    assert(fp.forall(_.getLong(1) == 0L))
  }

  test("identical docs pair; hot fingerprints are capped out") {
    val body = docOf(Seq(1, 5, 9, 13, 17, 2, 6, 10, 14, 18, 3, 7))
    val boiler = docOf(Seq(0, 4, 8, 12, 16)) // appears in EVERY doc
    // docs 1..30: shared boilerplate + per-doc UNIQUE vocabulary, so the
    // ONLY cross-doc overlap among them is the (hot) boilerplate
    val docs = ((1L to 30L).map(i =>
      (i, s"$boiler ${(1 to 8).map(j => s"uniq${i}x$j").mkString(" ")}")) ++
      Seq((101L, body), (102L, body))).toDF("doc_id", "text")
    val pairs = Winnow.sharedFingerprintPairs(docs, "doc_id", "text",
      minShared = 2, maxDocFreq = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((101L, 102L)),
      s"boilerplate must be capped out, dup pair kept; got $pairs")
  }

  test("lead-window grams are bit-identical to the HOF twin") {
    val rnd = new scala.util.Random(11)
    val docs = ((1L to 40L).map { i =>
      val n = rnd.nextInt(12) // includes 0,1,2-word docs (< k fallback)
      (i, docOf(Seq.fill(math.max(n, 0))(rnd.nextInt(words.size))))
    } :+ (41L, "  padded   whitespace\t doc  ")).toDF("doc_id", "text")
    val a = Winnow.fingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = SpecTwins.fingerprintsHof(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("hash parity pin: md5-prefix-32 matches the DuckDB packing") {
    // DuckDB: ('0x'||substr(md5('abc'),1,8))::BIGINT = 2416005272
    val h = spark.range(1).select(
      conv(substring(md5(lit("abc")), 1, 8), 16, 10).cast("long"))
      .as[Long].head()
    assert(h == 2416005272L)
  }

  test("fingerprint catalog round-trips parquet; batch match finds the " +
    "clone, reversed text matches nothing, boilerplate capped at build") {
    val rnd = new scala.util.Random(5)
    val corpus = (1L to 30L).map { i =>
      (i, Seq.fill(40)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("fpcat").toString
    Winnow.fingerprintCatalog(corpus, "doc_id", "text", maxDocFreq = 5)
      .write.mode("overwrite").parquet(dir)
    val catalog = spark.read.parquet(dir)
    val cloneText = corpus.filter($"doc_id" === 3L)
      .select("text").as[String].head()
    val reversedText = cloneText.split(" ").reverse.mkString(" ")
    val batch = Seq((101L, cloneText), (102L, reversedText))
      .toDF("doc_id", "text")
    val out = Winnow.matchAgainstCatalog(batch, "doc_id", "text",
      catalog, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.exists(t => t._1 == 101L && t._2 == 3L && t._3 >= 3L),
      s"clone must match doc 3 on >= 3 fingerprints; got ${out.toSeq}")
    assert(!out.exists(_._1 == 102L),
      s"order-sensitive grams: reversed text must match nothing; got ${out.toSeq}")
    // boilerplate: a hash in > maxDocFreq docs is absent from the catalog
    val dfBound = catalog.groupBy("fp_hash").count()
      .agg(max("count")).head().getLong(0)
    assert(dfBound <= 5L, s"catalog df cap violated: $dfBound")
  }

  test("gram positions past 2^20 are truncated, never corrupt the packing") {
    // A doc longer than PosCap words: positions >= PosCap would make
    // (PosCap-1-pos) negative and borrow from the hash field (fp_hash
    // off by one, fp_pos aliased mod 2^20). The cap must clamp gram
    // starts at PosCap-1 and leave everything below bit-identical to
    // the same prefix as its own document.
    val n = Winnow.PosCap.toInt + 50
    val longText = (0 until n).map(i => words(i % words.size)).mkString(" ")
    val prefixText = (0 until 5000).map(i => words(i % words.size)).mkString(" ")
    val docs = Seq((1L, longText), (2L, prefixText)).toDF("doc_id", "text")
    val fp = Winnow.fingerprints(docs, "doc_id", "text").cache()
    val longFp = fp.filter($"doc_id" === 1L)
      .select("fp_pos", "fp_hash")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(longFp.nonEmpty)
    assert(longFp.forall { case (pos, hash) =>
      pos >= 0 && pos < Winnow.PosCap && hash >= 0 && hash <= 0xFFFFFFFFL },
      "all positions in [0, PosCap), all hashes 32-bit — no field borrow")
    // the 5000-word prefix doc is a prefix of the long doc: every
    // fingerprint it selects strictly inside its windows (pos safely
    // below its own tail region) must appear identically in the long
    // doc's set — selection below the cap is unaffected by the tail
    val longSet = longFp.toSet
    val prefixInner = fp.filter($"doc_id" === 2L)
      .select("fp_pos", "fp_hash")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 < 5000 - 10)
    assert(prefixInner.nonEmpty && prefixInner.forall(longSet.contains),
      "sub-cap selection must be byte-identical to the shared prefix")
    fp.unpersist()
  }
}
