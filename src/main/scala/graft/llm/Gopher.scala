package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** The full Gopher quality-rule battery (Rae et al. 2021, "Scaling
  * Language Models: Methods, Analysis & Insights from Training
  * Gopher", Appendix A) — the standard web-corpus document filter a
  * training-data pipeline applies before dedup. Two rule families:
  *
  *  - quality: word count in [50, 100000], mean word length in
  *    [3, 10], hash/ellipsis symbol-to-word ratio <= 0.1, <= 90% of
  *    lines bullet-initial, <= 30% of lines ellipsis-terminal,
  *    >= 80% of words containing an alphabetic character, and at
  *    least 2 of the 8 required stopwords (the, be, to, of, and,
  *    that, have, with) present;
  *  - repetition: duplicate line / paragraph fraction <= 0.30,
  *    duplicate line / paragraph CHARACTER fraction <= 0.20, top
  *    {2,3,4}-gram character fraction <= {0.20, 0.18, 0.16}, and
  *    duplicate {5..10}-gram character fraction <=
  *    {0.15, 0.14, 0.13, 0.12, 0.11, 0.10}.
  *
  * Exact measurement definitions (replayed verbatim by the DuckDB
  * oracle, so they are pinned cross-engine):
  *
  *  - tokens: lowercased text split on whitespace, empty strings
  *    dropped; an n-gram is n consecutive tokens joined by one space;
  *    `total_chars` is the length of the whitespace-normalized text.
  *  - top n-gram char fraction: occurrences(top gram) x len(gram) /
  *    total_chars — the characters the single most repeated n-gram
  *    accounts for.
  *  - duplicate n-gram char fraction: sum over grams occurring 2+
  *    times of occurrences x len(gram) / total_chars, compared
  *    against its threshold directly (overlapping occurrences are
  *    all counted, so the sum can exceed 1; the comparison is what
  *    matters and it is exact integer arithmetic).
  *  - duplicate line/paragraph fraction: occurrences beyond each
  *    distinct line's first, over total lines; the char variant
  *    weighs each such occurrence by its length. Lines split on \n,
  *    paragraphs on \n\n, both trimmed with empties dropped.
  *
  * Everything is emitted as exact integer counts (no stored
  * fractions), so rule evaluation is integer cross-multiplication —
  * bit-identical on any engine and immune to float summation order.
  *
  * Scale shape: pure per-row work — one native pass per document
  * ([[graft.expr.GopherReportExpr]]), and no shuffle or UDF appears
  * anywhere. Filtering 100 TB with this is a single scan.
  */
object Gopher {

  /** Published thresholds; override fields to tune. Ratios are held
    * as integer percents so rule checks stay in integer arithmetic. */
  case class Config(
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Int = 3,
      maxMeanWordLen: Int = 10,
      maxSymbolWordPct: Int = 10,      // hash or ellipsis vs words
      maxBulletLinePct: Int = 90,
      maxEllipsisLinePct: Int = 30,
      minAlphaWordPct: Int = 80,
      minStopwordHits: Int = 2,
      maxDupLinePct: Int = 30,
      maxDupParaPct: Int = 30,
      maxDupLineCharPct: Int = 20,
      maxDupParaCharPct: Int = 20,
      maxTopGramCharPct: Map[Int, Int] = Map(2 -> 20, 3 -> 18, 4 -> 16),
      maxDupGramCharPct: Map[Int, Int] =
        Map(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10))

  /** All rule measurements for one document as a struct of exact
    * integer counts (field list in the Scaladoc above). Feed to
    * [[keep]] for the boolean verdict.
    *
    * Resolves to the native [[graft.expr.GopherReportExpr]] (one
    * tokenize + one JVM pass per n-gram size; the nine interpreted
    * HOF folds of its twin `SpecTwins.reportHof` measured ~2 ms/doc —
    * 9.6 s warm for the sf0.1 corpus vs ~0.5 s native). Works on any
    * session: no function registration is needed. */
  def report(text: Column): Column = call("gopher_report", text)

  /** Verdict over a [[report]] struct: true iff NO rule fires. All
    * comparisons are integer cross-multiplications of the exact
    * counts, so the verdict is engine-independent. Zero-line /
    * zero-word degenerate docs fail the word-count rule and need no
    * special casing elsewhere (0 > pct * 0 is false). */
  def keep(r: Column, cfg: Config = Config()): Column =
    keepQuality(r, cfg) && keepRepetition(r, cfg)

  /** The quality-family verdict alone (word count, mean word length,
    * symbol/bullet/ellipsis ratios, alpha words, stopwords). */
  def keepQuality(r: Column, cfg: Config = Config()): Column = {
    def f(name: String): Column = r.getField(name)
    val wc = f("word_count")
    val quality =
      wc >= cfg.minWords && wc <= cfg.maxWords &&
        f("sum_word_chars") >= wc * cfg.minMeanWordLen &&
        f("sum_word_chars") <= wc * cfg.maxMeanWordLen &&
        f("hash_count") * 100 <= wc * cfg.maxSymbolWordPct &&
        f("ellipsis_count") * 100 <= wc * cfg.maxSymbolWordPct &&
        f("bullet_lines") * 100 <= f("n_lines") * cfg.maxBulletLinePct &&
        f("ellipsis_lines") * 100 <=
          f("n_lines") * cfg.maxEllipsisLinePct &&
        f("alpha_words") * 100 >= wc * cfg.minAlphaWordPct &&
        f("stopword_hits") >= cfg.minStopwordHits
    quality
  }

  /** The repetition-family verdict alone (dup lines/paragraphs, top
    * and duplicate n-gram character fractions). */
  def keepRepetition(r: Column, cfg: Config = Config()): Column = {
    def f(name: String): Column = r.getField(name)
    val repetition =
      f("dup_lines") * 100 <= f("n_lines") * cfg.maxDupLinePct &&
        f("dup_paras") * 100 <= f("n_paras") * cfg.maxDupParaPct &&
        f("dup_line_chars") * 100 <=
          f("line_chars") * cfg.maxDupLineCharPct &&
        f("dup_para_chars") * 100 <=
          f("para_chars") * cfg.maxDupParaCharPct &&
        cfg.maxTopGramCharPct.toSeq.sortBy(_._1).map { case (n, pct) =>
          require(n >= 2 && n <= 4,
            s"top-gram thresholds support n in 2..4, got $n")
          f(s"top${n}_chars") * 100 <= f("total_chars") * pct
        }.foldLeft(lit(true))(_ && _) &&
        cfg.maxDupGramCharPct.toSeq.sortBy(_._1).map { case (n, pct) =>
          require(n >= 5 && n <= 10,
            s"dup-gram thresholds support n in 5..10, got $n")
          f(s"dup${n}_chars") * 100 <= f("total_chars") * pct
        }.foldLeft(lit(true))(_ && _)
    repetition
  }

  /** The 22-int threshold layout [[graft.expr.GopherCore.keep]]
    * consumes: the 13 scalar thresholds in Config order, then
    * top{2,3,4} and dup{5..10} gram percents with -1 for absent map
    * keys (rule disabled). */
  private[graft] def thresholds(cfg: Config): Seq[Int] = {
    cfg.maxTopGramCharPct.keys.foreach(n => require(n >= 2 && n <= 4,
      s"top-gram thresholds support n in 2..4, got $n"))
    cfg.maxDupGramCharPct.keys.foreach(n => require(n >= 5 && n <= 10,
      s"dup-gram thresholds support n in 5..10, got $n"))
    Seq(cfg.minWords, cfg.maxWords, cfg.minMeanWordLen,
      cfg.maxMeanWordLen, cfg.maxSymbolWordPct, cfg.maxBulletLinePct,
      cfg.maxEllipsisLinePct, cfg.minAlphaWordPct,
      cfg.minStopwordHits, cfg.maxDupLinePct, cfg.maxDupParaPct,
      cfg.maxDupLineCharPct, cfg.maxDupParaCharPct) ++
      (2 to 4).map(n => cfg.maxTopGramCharPct.getOrElse(n, -1)) ++
      (5 to 10).map(n => cfg.maxDupGramCharPct.getOrElse(n, -1))
  }

  /** Filter a corpus to the documents that pass every Gopher rule.
    *
    * Uses the native `gopher_keep(text, thresholds)` boolean — NOT
    * `keep(report(...))`: Catalyst pushes filter predicates back
    * through projections and re-inlines the alias once per rule
    * conjunct, and FilterExec does no common-subexpression
    * elimination, so the struct formulation re-runs the tokenize
    * pass ~20x per row however it is staged (a materializing
    * "projection first" variant measured 152 s vs 0.4 s on 2k docs).
    * GopherSpec pins gopher_keep == keep(report(...)) bit-for-bit. */
  def filterCorpus(docs: DataFrame, textCol: String,
                   cfg: Config = Config()): DataFrame = {
    docs.filter(call("gopher_keep", col(textCol),
      typedlit(thresholds(cfg))))
  }
}
