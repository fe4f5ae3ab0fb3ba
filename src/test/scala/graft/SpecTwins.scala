package graft

import graft.llm.{Similarity, Text}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative HOF twins of the native kernels: the executable spec
  * [[NativeExprSpec]] compares each native expression against. The
  * product never runs these forms.
  *
  * The four hash twins (`shingleHashesHof`, `minhashSignatureHof`,
  * `simhashHof`, `fingerprintHof`) are Horner folds and affine
  * permutations over 64-bit words: they wrap on overflow like every
  * hash library, which SQL arithmetic does only with ANSI off, so
  * their comparisons run inside `withConf("spark.sql.ansi.enabled" ->
  * "false")`. The others hold under the session default. */
object SpecTwins {

  private def wordHashes(text: Column): Column =
    transform(Text.words(Text.normalize(text)), w => xxhash64(w))

  /** Twin of `Dedup.shingleHashes`. */
  def shingleHashesHof(text: Column, k: Int): Column = {
    val w = wordHashes(text)
    val n = size(w)
    val M = lit(1000003L)
    // Shifted zip_with chain: acc_j[i] = poly(w[i..i+j-1]). Arrays are
    // referenced only OUTSIDE lambda bodies — indexing an outer array
    // inside a transform lambda re-evaluates that array per element
    // (O(n^2) per doc; measured 3x slower even vs string shingles).
    val acc = (2 to k).foldLeft(w) { (a, j) =>
      zip_with(a, slice(w, lit(j), greatest(n - j + 1, lit(0))),
        (x, y) => x * M + y)
    }
    when(n >= k, array_distinct(slice(acc, lit(1), n - k + 1)))
      .otherwise(array(aggregate(w, lit(0L), (a, h) => a * M + h)))
  }

  /** Twin of `Dedup.minhashSignature`: ONE fold over the hash array
    * with an `array<long>` accumulator — the naive `numHashes x
    * array_min(transform(...))` form re-evaluates the whole shingle
    * pipeline per permutation (no CSE inside a projection), which
    * measured ~60x slower. */
  def minhashSignatureHof(hashes: Column, numHashes: Int): Column = {
    // array<struct<_1:a, _2:b>>
    val ps = typedlit(graft.expr.MinhashCore.perms(numHashes))
    val init = typedlit(Seq.fill(numHashes)(Long.MaxValue))
    aggregate(hashes, init, (acc, h) =>
      zip_with(acc, ps, (m, p) =>
        least(m, h * p.getField("_1") + p.getField("_2"))))
  }

  /** Twin of `Dedup.simhash`: ONE fold with a 64-wide vote accumulator
    * (a per-bit fold would re-evaluate the token-hash pipeline 64x —
    * same trap as the minhash signature). Bit j is tested via
    * bitwiseAND with 1L<<j. */
  def simhashHof(text: Column): Column = {
    val bitMasks = typedlit((0 until 64).map(j => 1L << j))
    val votes = aggregate(wordHashes(text), typedlit(Seq.fill(64)(0)),
      (acc, h) => zip_with(acc, bitMasks, (c, m) =>
        c + when(h.bitwiseAND(m) =!= 0L, 1).otherwise(-1)))
    aggregate(zip_with(votes, bitMasks,
      (v, m) => when(v > 0, m).otherwise(0L)),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Twin of `Text.fingerprint`. */
  def fingerprintHof(text: Column): Column =
    aggregate(Text.words(Text.normalize(text)), lit(0L),
      (acc, w) => acc * lit(1000003L) + xxhash64(w))

  private def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Twin of `Similarity.dot`. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  /** Twin of `Similarity.cosine`: NULL on a zero-norm side. */
  def cosineHof(a: Column, b: Column): Column =
    try_divide(dotHof(a, b), Similarity.norm(a) * Similarity.norm(b))

  /** Twin of `Similarity.lshBucket`. */
  def lshBucketHof(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotHof(vec, typedlit(p)) >= 0, lit(1L) * lit(1L << i))
        .otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** (regex, datetime pattern) strategies of `Dates.extractDates`, in
    * priority order. All four are anchored on a preceding `_` or `-`
    * exactly like the reference (`regex.py:36-41`). */
  private val dateStrategies: Seq[(String, String)] = Seq(
    ("(?:_|-)(\\d{4}-\\d{2}-\\d{2})", "yyyy-MM-dd"),
    ("(?:_|-)(\\d{8})", "yyyyMMdd"),
    ("(?:_|-)(\\d{6})", "yyyyMM"),
    ("(?:_|-)(\\d{4})", "yyyy"))

  /** Twin of `Dates.extractDates`: the 4-regex cascade. The first
    * strategy with any hit wins; an unparseable hit in it NULLs the
    * whole struct — the reference's ValueError (`regex.py:51-53`
    * strptime). */
  def extractDatesDecl(filename: Column, datetimeRange: Column): Column = {
    val dates = coalesce(dateStrategies.map { case (pattern, format) =>
      val hits = regexp_extract_all(filename, lit(pattern), lit(1))
      when(size(hits) > 0,
        transform(hits, s => try_to_timestamp(s, lit(format))))
    }: _*)
    val n = size(dates)
    val single = element_at(dates, 1)
    val widen = datetimeRange.isNotNull
    // reference `regex.py:14-20`: month → first day / last day
    // (`relativedelta(day=31)`), year → Jan 1 / Dec 31, at midnight
    val ws = when(datetimeRange === "month", date_trunc("month", single))
      .when(datetimeRange === "year", date_trunc("year", single))
    val we = when(datetimeRange === "month", to_timestamp(last_day(single)))
      .when(datetimeRange === "year", to_timestamp(
        concat(year(single).cast("string"), lit("-12-31")), "yyyy-MM-dd"))
    when(dates.isNotNull && !exists(dates, d => d.isNull), struct(
      when(n > 1, array_min(dates)).when(n === 1 && widen, ws)
        .as("start_datetime"),
      when(n > 1, array_max(dates)).when(n === 1 && widen, we)
        .as("end_datetime"),
      when(n === 1 && !widen, single).as("single_datetime")))
  }
}
