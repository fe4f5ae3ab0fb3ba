package graft

import graft.llm.{Similarity, Text, Winnow}
import graft.llm.Winnow.PosCap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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

  /** Run-length fold over a SORTED string array: returns
    * struct(top: long, dup: long) where top = max over distinct
    * values of occurrences x len(value) and dup = the same product
    * summed over values occurring 2+ times. One pass, O(n). */
  private def runLengthCharStats(sorted: Column): Column = {
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("top"), lit(0L).as("dup"))
    def close(acc: Column): (Column, Column) = {
      val chars = acc.getField("run") * length(acc.getField("prev"))
      (greatest(acc.getField("top"), chars),
        acc.getField("dup") +
          when(acc.getField("run") >= 2, chars).otherwise(0L))
    }
    aggregate(sorted, init,
      (acc, g) => {
        val (t, d) = close(acc)
        when(g === acc.getField("prev"),
          struct(acc.getField("prev").as("prev"),
            (acc.getField("run") + 1L).as("run"),
            acc.getField("top").as("top"), acc.getField("dup").as("dup")))
          .otherwise(struct(g.as("prev"), lit(1L).as("run"),
            t.as("top"), d.as("dup")))
      },
      acc => { val (t, d) = close(acc); struct(t.as("top"), d.as("dup")) })
  }

  /** Dup-count stats over a SORTED string array:
    * struct(n: long, dup: long, chars: long, dup_chars: long) —
    * total entries, entries beyond each distinct value's first, total
    * characters, characters in the beyond-first entries. */
  private def dupStats(sorted: Column): Column = {
    val init = struct(lit("").as("prev"), lit(false).as("seen"),
      lit(0L).as("n"), lit(0L).as("dup"),
      lit(0L).as("chars"), lit(0L).as("dup_chars"))
    aggregate(sorted, init,
      (acc, v) => {
        val isDup = acc.getField("seen") && v === acc.getField("prev")
        struct(v.as("prev"), lit(true).as("seen"),
          (acc.getField("n") + 1L).as("n"),
          (acc.getField("dup") + when(isDup, 1L).otherwise(0L)).as("dup"),
          (acc.getField("chars") + length(v)).as("chars"),
          (acc.getField("dup_chars") +
            when(isDup, length(v).cast("long")).otherwise(0L))
            .as("dup_chars"))
      },
      acc => struct(acc.getField("n").as("n"), acc.getField("dup").as("dup"),
        acc.getField("chars").as("chars"),
        acc.getField("dup_chars").as("dup_chars")))
  }

  /** Non-overlapping occurrence count of a literal marker
    * (`Text.substringCount`, widened). */
  private def markerCount(text: Column, marker: String): Column =
    Text.substringCount(text, marker).cast("long")

  private val BulletPrefixes = Seq("•", "-", "*")

  /** Twin of `Gopher.report` — the executable specification GopherSpec
    * pins the native expression against bit-for-bit. */
  def reportHof(text: Column): Column = {
    val lowered = lower(trim(text))
    Text.bindOnce(filter(split(lowered, "\\s+"), w => w =!= "")) { ws =>
      val wordCount = size(ws).cast("long")
      val sumWordChars = aggregate(ws, lit(0L), (a, w) => a + length(w))
      val alphaWords =
        size(filter(ws, w => w.rlike("[a-z]"))).cast("long")
      val stopwordHits = size(array_intersect(array_distinct(ws),
        typedlit(graft.expr.GopherCore.RequiredStopwords))).cast("long")
      val hashCount = markerCount(lowered, "#")
      val ellipsisCount =
        markerCount(lowered, "…") + markerCount(lowered, "...")
      val totalChars = length(Text.normalize(text)).cast("long")

      def gramStats(n: Int): Column = runLengthCharStats(sort_array(
        when(size(ws) >= n,
          transform(sequence(lit(1), size(ws) - (n - 1)),
            i => array_join(slice(ws, i, lit(n)), " ")))
          .otherwise(typedlit(Seq.empty[String]))))

      def segStats(seps: Column): Column = dupStats(sort_array(
        filter(transform(seps, s => trim(s)), s => s =!= "")))
      val lines = segStats(split(lowered, "\n"))
      val paras = segStats(split(lowered, "\n\n"))

      val rawLines = filter(transform(split(lowered, "\n"),
        s => trim(s)), s => s =!= "")
      val bulletLines = size(filter(rawLines, l =>
        BulletPrefixes.map(b => l.startsWith(b)).reduce(_ || _)))
        .cast("long")
      val ellipsisLines = size(filter(rawLines, l =>
        l.endsWith("…") || l.endsWith("..."))).cast("long")

      val gs = (2 to 10).map(n => n -> gramStats(n)).toMap
      struct(
        wordCount.as("word_count"),
        sumWordChars.as("sum_word_chars"),
        alphaWords.as("alpha_words"),
        stopwordHits.as("stopword_hits"),
        hashCount.as("hash_count"),
        ellipsisCount.as("ellipsis_count"),
        totalChars.as("total_chars"),
        lines.getField("n").as("n_lines"),
        lines.getField("dup").as("dup_lines"),
        lines.getField("chars").as("line_chars"),
        lines.getField("dup_chars").as("dup_line_chars"),
        paras.getField("n").as("n_paras"),
        paras.getField("dup").as("dup_paras"),
        paras.getField("chars").as("para_chars"),
        paras.getField("dup_chars").as("dup_para_chars"),
        bulletLines.as("bullet_lines"),
        ellipsisLines.as("ellipsis_lines"),
        gs(2).getField("top").as("top2_chars"),
        gs(3).getField("top").as("top3_chars"),
        gs(4).getField("top").as("top4_chars"),
        gs(5).getField("dup").as("dup5_chars"),
        gs(6).getField("dup").as("dup6_chars"),
        gs(7).getField("dup").as("dup7_chars"),
        gs(8).getField("dup").as("dup8_chars"),
        gs(9).getField("dup").as("dup9_chars"),
        gs(10).getField("dup").as("dup10_chars"))
    }
  }

  /** Twin of `Text.charEntropy`: code-point extraction via Java-regex
    * `(?s).`, one sorted run-length fold. */
  def charEntropyHof(text: Column): Column = {
    val sorted = sort_array(regexp_extract_all(text, lit("(?s)."), lit(0)))
    def term(run: Column): Column =
      run * round(log(run.cast("double")) * lit(1000000.0)).cast("long")
    val init = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("n"), lit(0L).as("sum"))
    aggregate(sorted, init,
      (acc, c) => when(c === acc.getField("prev"),
        struct(acc.getField("prev").as("prev"),
          (acc.getField("run") + 1L).as("run"),
          (acc.getField("n") + 1L).as("n"),
          acc.getField("sum").as("sum")))
        .otherwise(struct(c.as("prev"), lit(1L).as("run"),
          (acc.getField("n") + 1L).as("n"),
          (acc.getField("sum") +
            when(acc.getField("run") > 0, term(acc.getField("run")))
              .otherwise(0L)).as("sum"))),
      acc => struct(acc.getField("n").as("n_chars"),
        (acc.getField("sum") +
          when(acc.getField("run") > 0, term(acc.getField("run")))
            .otherwise(0L)).as("sum_clnc_e6")))
  }

  /** Twin of `Winnow.fingerprints`: grams as array_join(slice(words))
    * over a sequence transform. */
  def fingerprintsHof(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, w: Int = 4): DataFrame = {
    // same 2^20 gram-start cap as `Winnow.selected`; tokens bound once
    // (slice with an inline tokenizer re-runs it per gram start —
    // Text.bindOnce scaladoc)
    val grams = Text.bindOnce(Text.words(Text.normalize(col(textCol)))) {
      ws =>
        when(size(ws) >= k,
            transform(sequence(lit(0),
              least(size(ws) - k, lit(PosCap - 1))),
              i => array_join(slice(ws, i + 1, lit(k)), " ")))
          .otherwise(array(array_join(ws, " ")))
    }
    val hash32 = conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long")
    val enc = docs
      .select(col(idCol), posexplode(grams).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"),
        (hash32 * PosCap + (lit(PosCap - 1) - col("pos"))).as("enc"))
    val byDoc = Window.partitionBy(col(idCol))
    val frame = byDoc.orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    enc
      .withColumn("m", count(lit(1)).over(byDoc))
      .withColumn("sel", min(col("enc")).over(frame))
      .filter(col("pos") <= greatest(col("m") - w, lit(0)))
      .select(col(idCol),
        (lit(PosCap - 1) - pmod(col("sel"), lit(PosCap))).as("fp_pos"),
        floor(col("sel") / PosCap).cast("long").as("fp_hash"))
      .distinct()
  }

  /** Twin of `Dedup.sampledSpanWindows` (interpreted per-element
    * evaluation makes it ~50x the native expression): the same winnow
    * selection as nested bound-once HOFs over the position array. */
  def sampledSpanWindowsHof(docs: DataFrame, idCol: String,
                            textCol: String, spanChars: Int,
                            w: Int): DataFrame = {
    val posCap = Winnow.PosCap
    // every array is lambda-bound once (Text.bindOnce) — an inlined
    // normalize/hash chain would re-evaluate per ELEMENT inside the
    // HOFs: O(chars²) regexps per doc, the measured Dsir trap
    val selArr = Text.bindOnce(Text.normalize(col(textCol))) { n =>
      Text.bindOnce(transform(
        sequence(lit(1),
          least(length(n) - (spanChars - 1), lit(posCap.toInt))),
        p => conv(substring(md5(call_function("substring", n, p,
          lit(spanChars))), 1, 8), 16, 10).cast("long") * posCap +
          (lit(posCap - 1) - (p - 1)))) { e =>
        array_distinct(transform(
          sequence(lit(0), greatest(size(e) - w, lit(0))),
          s => array_min(slice(e, s + 1, lit(w)))))
      }
    }
    docs
      .select(col(idCol).as("doc_id"),
        Text.normalize(col(textCol)).as("__norm"),
        selArr.as("__sels"))
      .filter(length(col("__norm")) >= spanChars)
      .select(col("doc_id"), col("__norm"), explode(col("__sels")).as("__sel"))
      .select(col("doc_id"), col("__norm"),
        (lit(posCap) - pmod(col("__sel"), lit(posCap))).cast("int").as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(call_function("substring", col("__norm"), col("pos"),
          lit(spanChars))).as("span_key"))
  }

  /** F7 `pairwise`: flat token array → array of [x, y] pairs
    * (reference `stac.py:164-170`). An odd trailing token is dropped,
    * exactly like `zip(a, a)`; a non-numeric token reads as null. */
  def pairwise(tokens: Column): Column = {
    // even/odd split + zip (truncated to the shorter side) — indexing
    // the outer array inside a transform lambda would re-evaluate the
    // token pipeline per element (see Dedup.shingleHashes)
    val xs = filter(tokens, (_, i) => i % 2 === 0)
    val ys = filter(tokens, (_, i) => i % 2 === 1)
    val zipped = zip_with(xs, ys,
      (a, b) => array(a.try_cast("double"), b.try_cast("double")))
    slice(zipped, lit(1), size(ys))
  }

  /** G2 `get_bbox`: coords (array of [x,y]) → [minx, miny, maxx, maxy]
    * (reference `stac.py:173-184`; sorting to find extrema is
    * incidental — min/max is the semantics). */
  def bbox(coords: Column): Column = {
    val xs = transform(coords, c => element_at(c, 1))
    val ys = transform(coords, c => element_at(c, 2))
    array(array_min(xs), array_min(ys), array_max(xs), array_max(ys))
  }

  /** F9: 2 corner points → closed 5-point rectangle ring, inserting at
    * positions 1, 3 and 4 like the reference (`stac.py:202-206`). */
  private def closedBoxRing(c: Column): Column = {
    val c0 = element_at(c, 1)
    val c1 = element_at(c, 2)
    array(
      c0,
      array(element_at(c1, 1), element_at(c0, 2)),
      c1,
      array(element_at(c0, 1), element_at(c1, 2)),
      c0)
  }

  /** Twin of `Geo.cmrGeometry`. */
  def cmrGeometryHof(polygons: Column, boxes: Column,
                     reverseCoords: Column): Column = {
    // Python .split() semantics: split on whitespace runs, discard
    // empty tokens (so leading/trailing whitespace of any kind never
    // yields a token), and an all-whitespace source → [] → null result
    // (`if not str_coords: None`, stac.py:199-200)
    def pySplit(src: Column): Column = {
      val toks = filter(split(src, "\\s+"), t => length(t) > 0)
      when(size(toks) > 0, toks)
    }
    // an empty first polygon has no token string: NULL, like the kernel
    val polyTokens =
      pySplit(try_element_at(element_at(polygons, 1), lit(1)))
    val tokens =
      when(polygons.isNotNull && size(polygons) > 0,
        when(coalesce(reverseCoords, lit(false)), reverse(polyTokens))
          .otherwise(polyTokens))
      .when(boxes.isNotNull && size(boxes) > 0,
        pySplit(element_at(boxes, 1)))
    val coords = pairwise(tokens)
    val ring = when(size(coords) === 2, closedBoxRing(coords)).otherwise(coords)
    when(tokens.isNotNull,
      struct(array(ring).as("coordinates"), lit("Polygon").as("type")))
  }

  /** Twin of `Geo.geometryBbox`. */
  def geometryBboxHof(geometry: Column): Column =
    when(geometry.isNotNull, bbox(element_at(geometry.getField("coordinates"), 1)))
}
