package graft

import graft.llm.Dedup

/** Pins [[Dedup.removeRepeatedSpans]] — the ExactSubstr removal of Lee
  * et al. 2022, winnowing-sampled — against a sequential reference
  * implementation and hand-computed semantic cases. The load-bearing
  * property (new in r10): sampling is CONTENT-defined, so a shared
  * region of `span + w - 1`+ chars is detected and removed at EVERY
  * byte alignment — the old stride-16 grid caught a shifted repeat
  * only when the shift was ≡ 0 mod 16 (~1/16 of cross-doc
  * boilerplate). */
class SpanRemovalSpec extends SparkSuite {

  import spark.implicits._

  private val Span = 64
  private val W = 31
  private val PosCap = 1L << 20

  /** Sequential winnow selection: 1-based selected window positions of
    * the normalized text — md5-prefix hash packed with rightmost-pos
    * tiebreak, min of every w-window of consecutive positions. */
  private def sample(n: String): Seq[Int] = {
    if (n.length < Span) return Seq.empty
    val nPos = math.min(n.length - Span + 1, PosCap.toInt)
    val enc = (1 to nPos).map { p =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(n.substring(p - 1, p - 1 + Span)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = md.take(4).map(b => f"${b & 0xFF}%02x").mkString
      java.lang.Long.parseLong(hex, 16) * PosCap + (PosCap - 1 - (p - 1))
    }
    (0 to math.max(nPos - W, 0))
      .map(s => enc.slice(s, math.min(s + W, nPos)).min)
      .distinct
      .map(sel => (PosCap - sel % PosCap).toInt)
  }

  /** Sequential reference: winnow-sample windows, group by exact
    * content, drop every site but the global (doc_id, pos) minimum,
    * cut with a running-cursor sweep. */
  private def ref(docs: Seq[(Int, String)]): Map[Int, (String, Long)] = {
    val norm = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.replaceAll("\\s+", " ") }
    val wins = for {
      (id, n) <- norm
      p <- sample(n)
    } yield (id, p, n.substring(p - 1, p - 1 + Span))
    val cuts = wins.groupBy(_._3).filter(_._2.size >= 2).values
      .flatMap(sites => sites.sortBy(s => (s._1, s._2)).tail)
      .groupBy(_._1)
      .map { case (id, ss) => id -> ss.map(_._2).toSeq.sorted }
    norm.map { case (id, n) =>
      val sb = new StringBuilder
      var cursor = 1
      for (p <- cuts.getOrElse(id, Seq.empty)) {
        if (p > cursor) sb.append(n.substring(cursor - 1, p - 1))
        cursor = math.max(cursor, p + Span)
      }
      sb.append(n.substring(math.min(cursor - 1, n.length)))
      id -> (sb.toString, (n.length - sb.length).toLong)
    }.toMap
  }

  private def run(docs: Seq[(Int, String)]): Map[Int, (String, Long)] =
    Dedup.removeRepeatedSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", Span, W)
      .collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap

  private def check(docs: Seq[(Int, String)]): Map[Int, (String, Long)] = {
    val got = run(docs)
    val want = ref(docs)
    assert(got === want)
    got
  }

  private def letters(len: Int, seed: Int): String =
    TestText.letters(len, seed)

  // shared block longer than Span + W - 1 = 94: detection guaranteed
  private val Block = letters(110, 3)

  test("alignment-free: a shifted planted block is removed at EVERY " +
    "offset 0..15 (stride sampling caught ~1/16 of these)") {
    val docs = (0 to 15).map { off =>
      (off + 1) -> (letters(off, 11 + off) + Block + letters(40, 50 + off))
    }
    val got = check(docs)
    assert(got(1)._2 === 0L) // keeper doc (lowest id) intact
    (2 to 16).foreach { id =>
      assert(got(id)._2 >= Span.toLong,
        s"doc $id (offset ${id - 1}) kept its copy of the block")
    }
  }

  test("detector sees the shifted block in every doc too") {
    val docs = (0 to 15).map { off =>
      (off + 1L) -> (letters(off, 11 + off) + Block + letters(40, 50 + off))
    }
    val hot = Dedup.repeatedSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", Span, W)
      .filter(org.apache.spark.sql.functions.col("n_sites") >= 16)
      .select("doc_id").distinct().count()
    assert(hot === 16L) // every doc holds at least one 16-site window
  }

  test("cross-doc repeat: keeper doc intact, later doc loses the block") {
    val docs = Seq(1 -> (Block + letters(40, 5)), 2 -> (Block + letters(40, 17)))
    val got = check(docs)
    assert(got(1) === ((Block + letters(40, 5)), 0L)) // keeper untouched
    assert(got(2)._2 >= Span.toLong)
  }

  test("within-doc repeat: second copy of a long block is cut") {
    val got = check(Seq(1 -> (Block + Block)))
    assert(got(1)._2 >= Span.toLong)
    assert(got(1)._1.startsWith(Block.take(Span))) // first copy's head kept
  }

  test("exact full-doc duplicate: later doc loses all selected windows") {
    val d = letters(300, 9)
    val got = check(Seq(1 -> d, 2 -> d))
    assert(got(1) === ((d, 0L)))
    // selected positions have gaps <= W < Span, so interior cuts merge:
    // at most W-1 chars survive at each end of doc 2
    assert(got(2)._2 >= (300 - 2 * (W - 1)).toLong)
  }

  test("docs shorter than the span and unique docs pass through") {
    val docs = Seq(1 -> "tiny doc", 2 -> letters(80, 1),
      3 -> (Block + letters(40, 21)))
    val got = check(docs)
    assert(got.values.forall(_._2 === 0L))
    assert(got(1)._1 === "tiny doc")
  }

  test("normalization: matching is case/whitespace-insensitive") {
    val spaced = Block.grouped(10).mkString("  ") // doubled spaces
    val docs = Seq(
      1 -> (Block.replace(" ", "") + " " + letters(40, 5)),
      2 -> (Block.toUpperCase + " " + letters(40, 17)),
      3 -> (spaced.toUpperCase + " " + letters(40, 23)))
    // Block has no spaces (pure letters), so all three normalize to a
    // text containing Block verbatim... doc 3's doubled spaces collapse
    // to single — but grouped-mkString INSERTS spaces, changing content.
    // Only docs 1 and 2 share the literal block.
    val got = check(docs)
    assert(got(2)._2 >= Span.toLong)
  }

  test("maxSites hands mega-boilerplate to filtering instead of surgery") {
    val docs = (1 to 12).map(id => id -> (Block + letters(40, id)))
    val kept = Dedup.removeRepeatedSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", Span, W, minSites = 2, maxSites = 5)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    // every in-block window occurs at ~12 sites > maxSites=5: no cuts
    assert(kept.values.forall(_ === 0L))
  }

  test("native span_anchors == declarative HOF twin (incl. non-ASCII)") {
    val docs = Seq(
      1 -> (Block + letters(40, 5)),
      2 -> ("héllo wörld ünïcode zahl " * 8 + Block), // 2-byte chars
      3 -> letters(200, 7),
      4 -> "short",
      5 -> ("日本語テキストのサンプル文字列です " * 12)) // 3-byte chars
      .toDF("doc_id", "text")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    val native = collect(
      Dedup.sampledSpanWindows(docs, "doc_id", "text", Span, W))
    val hof = collect(
      SpecTwins.sampledSpanWindowsHof(docs, "doc_id", "text", Span, W))
    assert(native === hof)
    assert(native.exists(_._1 == 2) && native.exists(_._1 == 5))
  }

  test("randomized corpora match the sequential reference") {
    // seeded: word soup over a small vocab (natural repeats) plus
    // planted shared blocks at arbitrary (non-aligned) offsets
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    def soup(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val block = soup(40).take(120)
    for (round <- 1 to 5) {
      val docs = (1 to 12).map { id =>
        val body =
          if (rnd.nextBoolean()) soup(rnd.nextInt(40) + 5)
          else soup(rnd.nextInt(10)) + " " + block + " " + soup(rnd.nextInt(10))
        id -> body
      }
      check(docs) // asserts Spark == sequential reference
    }
  }

  test("catalog spans: batch text matching the corpus is cut at any " +
    "alignment; batch-only repeats survive") {
    import org.apache.spark.sql.functions.col
    val corpus = Seq(100 -> (Block + letters(40, 91))).toDF("doc_id", "text")
    val batchBlock = letters(110, 55) // repeats ONLY within the batch
    val batch = Seq(
      1 -> (letters(7, 31) + Block + letters(40, 32)), // shifted corpus hit
      2 -> (batchBlock + letters(40, 33)),
      3 -> (batchBlock + letters(40, 34)),
      4 -> letters(150, 35)) // untouched
      .toDF("doc_id", "text")
    val catalog = Dedup.spanCatalog(corpus, "doc_id", "text", Span, W)
    val got = Dedup.removeCatalogSpans(batch, "doc_id", "text",
      catalog, Span, W)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got(1) >= Span.toLong) // corpus span excised, offset 7
    assert(got(2) === 0L && got(3) === 0L) // within-batch: not this op
    assert(got(4) === 0L)
    // composing with removeRepeatedSpans handles the within-batch pair
    val within = Dedup.removeRepeatedSpans(batch, "doc_id", "text", Span, W)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(within(3) >= Span.toLong)
    assert(catalog.filter(col("n_sites") < 1).count() === 0)
  }

  test("three-way repeat: one keeper, two removals") {
    val docs = Seq(3 -> (Block + letters(40, 2)), 1 -> (Block + letters(40, 4)),
      2 -> (Block + letters(40, 6)))
    val got = check(docs)
    assert(got(1)._2 === 0L) // global min doc_id wins regardless of order
    assert(got(2)._2 >= Span.toLong)
    assert(got(3)._2 >= Span.toLong)
  }
}
