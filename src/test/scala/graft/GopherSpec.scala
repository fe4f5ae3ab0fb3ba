package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.llm.Gopher

/** Pins the Gopher rule battery (Rae et al. 2021 Appendix A) against
  * hand-computed measurements, including the line/paragraph rules the
  * parquet fixtures cannot exercise (their text has no newlines). */
class GopherSpec extends SparkSuite {

  import spark.implicits._

  private def reportOf(text: String): Row =
    Seq(text).toDF("text")
      .select(Gopher.report(col("text")).as("r"))
      .select("r.*").collect().head

  private def keepOf(text: String): (Boolean, Boolean, Boolean) = {
    val r = Seq(text).toDF("text")
      .select(Gopher.report(col("text")).as("r"))
      .select(Gopher.keep(col("r")).as("k"),
        Gopher.keepQuality(col("r")).as("kq"),
        Gopher.keepRepetition(col("r")).as("kr"))
      .collect().head
    (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2))
  }

  // 60 distinct-ish words, 2 required stopwords, mean word len in range
  private val cleanDoc = (1 to 60)
    .map(i => s"word$i")
    .updated(0, "the").updated(1, "with").mkString(" ")

  test("clean document passes every rule") {
    val (k, kq, kr) = keepOf(cleanDoc)
    assert(kq && kr && k)
  }

  test("word-count measurements are exact") {
    val r = reportOf("The quick  Brown fox\n jumps")
    assert(r.getAs[Long]("word_count") === 5)
    // the+quick+brown+fox+jumps = 3+5+5+3+5
    assert(r.getAs[Long]("sum_word_chars") === 21)
    assert(r.getAs[Long]("alpha_words") === 5)
    assert(r.getAs[Long]("stopword_hits") === 1) // only "the"
    // normalized: "the quick brown fox jumps"
    assert(r.getAs[Long]("total_chars") === 25)
  }

  test("stopword rule: fewer than 2 of the required 8 fails") {
    val oneStop = (1 to 60).map(i => s"word$i").updated(0, "the")
      .mkString(" ")
    val (_, kq, _) = keepOf(oneStop)
    assert(!kq)
    assert(keepOf(cleanDoc)._2)
  }

  test("word count below 50 or above bounds fails quality") {
    assert(!keepOf("the with small doc")._2)
  }

  test("mean word length out of [3, 10] fails") {
    // 60 words of length 2 -> mean 2 < 3
    val short = (1 to 60).map(_ => "ab").updated(0, "the")
      .updated(1, "with").mkString(" ")
    assert(!keepOf(short)._2)
  }

  test("symbol ratio: hash-heavy text fails") {
    val hashy = (1 to 60).map(i =>
      if (i % 5 == 0) "####" else s"word$i")
      .updated(0, "the").updated(1, "with").mkString(" ")
    // 12 hash words x 4 hashes = 48 hashes vs 60 words > 10%
    assert(!keepOf(hashy)._2)
  }

  test("alpha-word rule: >20% non-alphabetic words fails") {
    val numeric = (1 to 60).map(i =>
      if (i % 3 == 0) i.toString else s"word$i")
      .updated(0, "the").updated(1, "with").mkString(" ")
    assert(!keepOf(numeric)._2)
  }

  test("line rules: dup lines and bullet lines measured per line") {
    val doc = Seq("alpha beta", "alpha beta", "alpha beta",
      "- bullet one", "gamma delta").mkString("\n")
    val r = reportOf(doc)
    assert(r.getAs[Long]("n_lines") === 5)
    assert(r.getAs[Long]("dup_lines") === 2)      // 2 beyond-first
    assert(r.getAs[Long]("dup_line_chars") === 20) // 2 x "alpha beta"
    assert(r.getAs[Long]("bullet_lines") === 1)
    // 2/5 = 40% dup lines > 30% -> repetition fails
    assert(!keepOf(doc)._3)
  }

  test("bullet-line rule: >90% bullet-initial lines fails quality") {
    val bullets = ((1 to 55).map(i => s"- item number $i word") :+
      "the with plain line").mkString("\n")
    // 55/56 > 90% bullet lines
    assert(!keepOf(bullets)._2)
  }

  test("ellipsis-line rule: >30% ellipsis-terminal lines fails") {
    val dots = ((1 to 30).map(i => s"line number $i trails off...") ++
      (1 to 30).map(i => s"the with solid line $i here")).mkString("\n")
    assert(!keepOf(dots)._2)
    val r = reportOf(dots)
    assert(r.getAs[Long]("ellipsis_lines") === 30)
    assert(r.getAs[Long]("ellipsis_count") === 30)
  }

  test("paragraph rules measured on blank-line splits") {
    val doc = Seq("para one text", "para one text", "para two text")
      .mkString("\n\n")
    val r = reportOf(doc)
    assert(r.getAs[Long]("n_paras") === 3)
    assert(r.getAs[Long]("dup_paras") === 1)
    assert(r.getAs[Long]("dup_para_chars") === 13)
    // lines see the SAME segments here (blank lines dropped)
    assert(r.getAs[Long]("n_lines") === 3)
  }

  test("top n-gram char fraction: one dominant bigram fails") {
    // "spam ham" repeated 30x: top 2-gram "spam ham" covers ~50% of chars
    val doc = (1 to 30).map(_ => "spam ham").updated(0, "the")
      .updated(1, "with").mkString(" ") +
      " " + (1 to 30).map(i => s"filler$i").mkString(" ")
    val r = reportOf(doc)
    val top2 = r.getAs[Long]("top2_chars")
    val total = r.getAs[Long]("total_chars")
    assert(top2 * 100 > total * 20, s"top2=$top2 total=$total")
    assert(!keepOf(doc)._3)
  }

  test("top2 chars = occurrences x gram length, hand-checked") {
    val r = reportOf("aa bb aa bb aa")
    // bigrams: "aa bb" x2, "bb aa" x2 -> top = 2 x 5 = 10
    assert(r.getAs[Long]("top2_chars") === 10)
    // dup5 over 5 words: 1 distinct 5-gram, count 1 -> 0
    assert(r.getAs[Long]("dup5_chars") === 0)
  }

  test("dup n-gram chars: repeated 5-grams counted with all occurrences") {
    val five = "v w x y z"
    val r = reportOf(s"$five $five")  // 10 words
    // 5-grams: positions 1..6; "v w x y z" occurs at 1 and 6 -> 2x9=18
    assert(r.getAs[Long]("dup5_chars") === 18)
  }

  test("degenerate inputs: empty and whitespace-only fail cleanly") {
    for (t <- Seq("", "   ", "\n\n\n")) {
      val r = reportOf(t)
      assert(r.getAs[Long]("word_count") === 0)
      assert(r.getAs[Long]("n_lines") === 0)
      val (k, _, kr) = keepOf(t)
      assert(!k)
      assert(kr) // no repetition evidence either way
    }
  }

  test("native gopher_report is bit-identical to the HOF twin") {
    val docs = Seq(
      cleanDoc,
      "",
      "   ",
      "\t\n mixed\tws   doc \n",
      "the quick brown fox",
      "UPPER Case  With   Spaces",
      Seq("alpha beta", "alpha beta", "- b1", "* b2", "• b3",
        "ends in dots...", "ends in u-ellipsis…").mkString("\n"),
      "p1 text\n\np1 text\n\np2 other",
      (1 to 80).map(i => s"w$i").mkString(" "),
      (1 to 40).map(_ => "spam ham").mkString(" "),
      "### #hash# tags # everywhere ###",
      "unicode … mixed ... dots …... tail",
      "emoji 😀 word café naïve",
      "a\n\n\nb\n\nc\nd",
      "v w x y z v w x y z v w x y z")
    val df = docs.toDF("text")
    val native = df.select(Gopher.report(col("text")).as("r"))
      .select("r.*").collect()
    val hof = df.select(SpecTwins.reportHof(col("text")).as("r"))
      .select("r.*").collect()
    assert(native.toSeq === hof.toSeq)
  }

  test("randomized texts: native report equals the HOF twin") {
    val rnd = new scala.util.Random(7)
    val pieces = Vector("the", "word", "##", "…", "...", "-", "*",
      "•", "1234", "café", "😀", "\n", "\n\n", "\t", "a", "be",
      "verylongwordhere", "x.", "spam ham")
    val docs = (1 to 60).map { _ =>
      Seq.fill(rnd.nextInt(30) + 1)(pieces(rnd.nextInt(pieces.size)))
        .mkString(" ")
    }.toDF("text")
    val native = docs.select(Gopher.report(col("text")).as("r"))
      .select("r.*").collect().toSeq
    val hof = docs.select(SpecTwins.reportHof(col("text")).as("r"))
      .select("r.*").collect().toSeq
    assert(native === hof)
  }

  test("config edges: empty threshold maps pass; out-of-range n fails") {
    val noGrams = Gopher.Config(maxTopGramCharPct = Map.empty,
      maxDupGramCharPct = Map.empty)
    // a doc failing only the n-gram rules now passes repetition
    val rep = (1 to 40).map(_ => "spam ham").updated(0, "the")
      .updated(1, "with").mkString(" ")
    val kr = Seq(rep).toDF("text")
      .select(Gopher.report(col("text")).as("r"))
      .select(Gopher.keepRepetition(col("r"), noGrams).as("kr"))
      .collect().head.getBoolean(0)
    assert(kr)
    intercept[IllegalArgumentException] {
      Gopher.keepRepetition(col("r"),
        Gopher.Config(maxDupGramCharPct = Map(11 -> 9)))
    }
  }

  test("native gopher_keep agrees with keep(report(...)) everywhere") {
    val rnd = new scala.util.Random(13)
    val pieces = Vector("the", "with", "word", "##", "...", "-",
      "spam ham", "1234", "\n", "filler")
    val docs = ((1 to 50).map { _ =>
      Seq.fill(rnd.nextInt(90) + 1)(pieces(rnd.nextInt(pieces.size)))
        .mkString(" ")
    } :+ cleanDoc :+ "").toDF("text")
    for (cfg <- Seq(Gopher.Config(),
        Gopher.Config(maxTopGramCharPct = Map.empty,
          maxDupGramCharPct = Map(7 -> 13)),
        Gopher.Config(minWords = 10, minStopwordHits = 1))) {
      val viaStruct = docs
        .select(col("text"), Gopher.report(col("text")).as("r"))
        .select(col("text"), Gopher.keep(col("r"), cfg).as("k"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      val viaFilter = Gopher.filterCorpus(docs, "text", cfg)
        .collect().map(_.getString(0)).toSet
      docs.collect().map(_.getString(0)).foreach { t =>
        assert(viaFilter.contains(t) === viaStruct(t),
          s"cfg=$cfg text='${t.take(40)}'")
      }
    }
  }

  test("filterCorpus keeps exactly the keep=true documents") {
    val docs = Seq(
      (1, cleanDoc),
      (2, "too short"),
      (3, (1 to 40).map(_ => "spam ham").mkString(" "))).toDF("id", "text")
    val kept = Gopher.filterCorpus(docs, "text").select("id")
      .collect().map(_.getInt(0)).toSeq
    assert(kept === Seq(1))
  }
}
