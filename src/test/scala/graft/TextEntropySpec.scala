package graft

import org.apache.spark.sql.functions._
import graft.llm.Text

/** Pins char_entropy_stats: hand-computed integers, the HOF twin
  * bit-equality (incl. supplementary code points), and the derived
  * entropy ordering gibberish > text > filler. */
class TextEntropySpec extends SparkSuite {

  import spark.implicits._

  private def statsOf(t: String): (Long, Long) = {
    val r = Seq(t).toDF("text")
      .select(Text.charEntropy(col("text")).as("e"))
      .select("e.*").collect().head
    (r.getLong(0), r.getLong(1))
  }

  test("hand-computed: counts and ln-quantized sum") {
    // "aab": a=2 b=1 -> n=3, sum = 2*round(ln2*1e6) + 1*0 = 1386294
    assert(statsOf("aab") === (3L, 1386294L))
    // uniform "abcd": every count 1 -> sum 0 (max entropy ln n)
    assert(statsOf("abcd") === (4L, 0L))
    // single repeated char: sum = n*round(ln(n)*1e6) -> entropy 0
    assert(statsOf("zzzz") === (4L, 4L * 1386294L))
    assert(statsOf("") === (0L, 0L))
  }

  test("native expression is bit-identical to the HOF twin") {
    val docs = Seq("", "aab", "the quick brown fox", "zzzzzz",
      "emoji 😀😀 café", "a\nb\tc a\nb\tc", "0123456789abcdef" * 4)
      .toDF("text")
    val native = docs.select(Text.charEntropy(col("text")).as("e"))
      .select("e.*").collect().toSeq
    val hof = docs.select(SpecTwins.charEntropyHof(col("text")).as("e"))
      .select("e.*").collect().toSeq
    assert(native === hof)
  }

  test("randomized strings: native equals HOF twin") {
    val rnd = new scala.util.Random(3)
    // code-point alphabet (indexing a raw string could split the
    // emoji's surrogate pair into invalid lone surrogates)
    val alphabet = Vector("a", "b", "c", " ", "#", ".", "\n", "…",
      "😀", "é", "0", "1")
    val docs = (1 to 50).map { _ =>
      val n = rnd.nextInt(60)
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size)))
        .mkString
    }.toDF("text")
    val native = docs.select(Text.charEntropy(col("text")).as("e"))
      .select("e.*").collect().toSeq
    val hof = docs.select(SpecTwins.charEntropyHof(col("text")).as("e"))
      .select("e.*").collect().toSeq
    assert(native === hof)
  }

  test("entropy orders gibberish above text above filler") {
    def entropy(t: String): Double = {
      val (n, sum) = statsOf(t)
      math.log(n.toDouble) - sum.toDouble / (n * 1e6)
    }
    val filler = "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"
    val prose = "the quick brown fox jumps over the lazy dog again"
    val junk = "q7w3e9r1t5y2u8i4o6p0a3s7d1f9g5h2"
    assert(entropy(filler) < 0.01)
    assert(entropy(prose) > entropy(filler))
    assert(entropy(junk) > entropy(prose))
  }
}
