package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass core for the Gopher rule measurements (Rae et al. 2021
  * Appendix A). Semantics are pinned to the declarative HOF twin
  * `SpecTwins.reportHof` (test scope; GopherSpec asserts bit-equality):
  *
  *  - `trim` strips 0x20 spaces ONLY (Spark's `trim`, not Java's);
  *  - tokens = lowercased trimmed text split on java-regex `\s+`,
  *    empties dropped; all "char" counts are CODE POINTS (Spark
  *    `length`), not UTF-16 units;
  *  - n-gram keys are the exact space-joined token strings (no
  *    hashing — a hash collision would silently diverge from the
  *    declarative twin and the DuckDB oracle);
  *  - marker counts are leftmost non-overlapping, the same result as
  *    the `(len - len(replace)) / len(marker)` formula the twin uses.
  *
  * One tokenize + one pass per n-gram size per row, all in JVM code —
  * this replaces nine interpreted HOF folds that measured ~2 ms/doc
  * (9.6 s for the sf0.1 corpus); the native pass is ~50 us/doc. */
object GopherCore extends Serializable {

  /** The canonical Gopher required-stopword list (Rae et al. 2021). */
  val RequiredStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val Stopwords = RequiredStopwords.toArray

  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  private def cp(s: String): Long =
    s.codePointCount(0, s.length).toLong

  private def countMarker(s: String, m: String): Long = {
    var i = s.indexOf(m)
    var n = 0L
    while (i >= 0) { n += 1; i = s.indexOf(m, i + m.length) }
    n
  }

  /** n / beyond-first / cp chars / beyond-first cp chars of segments. */
  private def segStats(segs: Array[String]): (Long, Long, Long, Long) = {
    val seen = new java.util.HashSet[String]()
    var n = 0L; var dup = 0L; var chars = 0L; var dupChars = 0L
    var i = 0
    while (i < segs.length) {
      val s = segs(i)
      val c = cp(s)
      n += 1; chars += c
      if (!seen.add(s)) { dup += 1; dupChars += c }
      i += 1
    }
    (n, dup, chars, dupChars)
  }

  /** Report as 26 longs in the field order of the struct type. */
  def report(text: UTF8String): InternalRow =
    InternalRow(counts(text).map(_.asInstanceOf[Any]): _*)

  /** The 26 exact counts (same order as the struct schema). */
  def counts(text: UTF8String): Array[Long] = {
    val s = text.trim().toLowerCase.toString
    val ws = s.split("\\s+", -1).filter(_.nonEmpty)

    var sumWordChars = 0L
    var alphaWords = 0L
    val wordSet = new java.util.HashSet[String]()
    var i = 0
    while (i < ws.length) {
      val w = ws(i)
      sumWordChars += cp(w)
      var hasAlpha = false
      var j = 0
      while (j < w.length && !hasAlpha) {
        val c = w.charAt(j)
        if (c >= 'a' && c <= 'z') hasAlpha = true
        j += 1
      }
      if (hasAlpha) alphaWords += 1
      wordSet.add(w)
      i += 1
    }
    var stopwordHits = 0L
    i = 0
    while (i < Stopwords.length) {
      if (wordSet.contains(Stopwords(i))) stopwordHits += 1
      i += 1
    }

    val hashCount = countMarker(s, "#")
    val ellipsisCount = countMarker(s, "…") + countMarker(s, "...")
    val totalChars = cp(s.replaceAll("\\s+", " "))

    val lineSegs = s.split("\n", -1).map(trimSpaces).filter(_.nonEmpty)
    val paraSegs = s.split("\n\n", -1).map(trimSpaces).filter(_.nonEmpty)
    val (nLines, dupLines, lineChars, dupLineChars) = segStats(lineSegs)
    val (nParas, dupParas, paraChars, dupParaChars) = segStats(paraSegs)

    var bulletLines = 0L
    var ellipsisLines = 0L
    i = 0
    while (i < lineSegs.length) {
      val l = lineSegs(i)
      if (l.startsWith("•") || l.startsWith("-") ||
        l.startsWith("*")) bulletLines += 1
      if (l.endsWith("…") || l.endsWith("...")) ellipsisLines += 1
      i += 1
    }

    // per-n gram char stats: top = max occurrences x gram codepoints,
    // dup = that product summed over grams occurring 2+ times
    val wcp = ws.map(cp)
    val top = new Array[Long](11)
    val dup = new Array[Long](11)
    var n = 2
    while (n <= 10) {
      if (ws.length >= n) {
        val counts = new java.util.HashMap[String, Array[Long]]()
        val sb = new java.lang.StringBuilder
        var p = 0
        while (p + n <= ws.length) {
          sb.setLength(0)
          var gramCp = (n - 1).toLong
          var q = 0
          while (q < n) {
            if (q > 0) sb.append(' ')
            sb.append(ws(p + q))
            gramCp += wcp(p + q)
            q += 1
          }
          val key = sb.toString
          val e = counts.get(key)
          if (e == null) counts.put(key, Array(1L, gramCp))
          else e(0) += 1
          p += 1
        }
        val it = counts.values().iterator()
        while (it.hasNext) {
          val e = it.next()
          val prod = e(0) * e(1)
          if (prod > top(n)) top(n) = prod
          if (e(0) >= 2) dup(n) += prod
        }
      }
      n += 1
    }

    Array(ws.length.toLong, sumWordChars, alphaWords,
      stopwordHits, hashCount, ellipsisCount, totalChars,
      nLines, dupLines, lineChars, dupLineChars,
      nParas, dupParas, paraChars, dupParaChars,
      bulletLines, ellipsisLines,
      top(2), top(3), top(4),
      dup(5), dup(6), dup(7), dup(8), dup(9), dup(10))
  }

  /** The full keep verdict over [[counts]], with thresholds packed as
    * the 22-int array `graft.llm.Gopher.thresholds` builds (entries
    * 13..21 are the per-n top/dup gram percents, -1 = rule disabled).
    * Bit-for-bit the same integer arithmetic as the declarative
    * `Gopher.keep`; exists so a FILTER can evaluate the whole battery
    * in ONE native pass — Catalyst pushes filter predicates back
    * through projections and re-inlines per conjunct, so a
    * struct-field formulation re-runs gopher_report ~20x per row
    * inside FilterExec (no common-subexpression elimination there;
    * measured 152 s vs 0.4 s on 2k docs). */
  /** Entries the threshold array must carry — th(0)..th(21). */
  val NumThresholds = 22

  def keep(c: Array[Long], th: Array[Int]): Boolean = {
    val wc = c(0)
    val quality =
      wc >= th(0) && wc <= th(1) &&
        c(1) >= wc * th(2) && c(1) <= wc * th(3) &&
        c(4) * 100 <= wc * th(4) &&
        c(5) * 100 <= wc * th(4) &&
        c(15) * 100 <= c(7) * th(5) &&
        c(16) * 100 <= c(7) * th(6) &&
        c(2) * 100 >= wc * th(7) &&
        c(3) >= th(8)
    val repetition =
      c(8) * 100 <= c(7) * th(9) &&
        c(12) * 100 <= c(11) * th(10) &&
        c(10) * 100 <= c(9) * th(11) &&
        c(14) * 100 <= c(13) * th(12) &&
        (13 to 15).forall(i =>
          th(i) < 0 || c(17 + (i - 13)) * 100 <= c(6) * th(i)) &&
        (16 to 21).forall(i =>
          th(i) < 0 || c(20 + (i - 16)) * 100 <= c(6) * th(i))
    quality && repetition
  }

  def keepText(text: UTF8String, th: Array[Int]): Boolean =
    keep(counts(text), th)
}

/** `gopher_report(text)` → struct of the 26 exact integer counts the
  * Gopher rule battery evaluates (graft.llm.Gopher). */
case class GopherReportExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = GopherReportExpr.schema
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else GopherCore.report(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val core = ctx.addReferenceObj("gopherCore", GopherCore,
      GopherCore.getClass.getName)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $core.report(${t.value});
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherReportExpr {
  val schema: StructType = StructType(Seq(
    "word_count", "sum_word_chars", "alpha_words", "stopword_hits",
    "hash_count", "ellipsis_count", "total_chars",
    "n_lines", "dup_lines", "line_chars", "dup_line_chars",
    "n_paras", "dup_paras", "para_chars", "dup_para_chars",
    "bullet_lines", "ellipsis_lines",
    "top2_chars", "top3_chars", "top4_chars",
    "dup5_chars", "dup6_chars", "dup7_chars", "dup8_chars",
    "dup9_chars", "dup10_chars").map(StructField(_, LongType,
    nullable = false)))
}

/** `gopher_keep(text, thresholds)` → boolean: the whole Gopher rule
  * battery evaluated in one native pass per row — the FILTER-safe
  * form of the battery (see [[GopherCore.keep]] for why the struct
  * formulation must not be used inside a Filter). `thresholds` must
  * be a foldable int-array literal in the layout
  * `graft.llm.Gopher.thresholds` produces. */
case class GopherKeepExpr(text: Expression, thresholds: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = text
  override def right: Expression = thresholds
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = text.nullable

  private lazy val thArr: Array[Int] = {
    require(thresholds.foldable,
      "gopher_keep thresholds must be a constant array")
    val ev = thresholds.eval(null)
    require(ev != null, "gopher_keep thresholds must not be null")
    val arr = ev
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray()
    // GopherCore.keep indexes th(0)..th(21): fail ONCE with a usable
    // message instead of an ArrayIndexOutOfBounds per filtered row
    require(arr.length == GopherCore.NumThresholds,
      s"gopher_keep thresholds must have ${GopherCore.NumThresholds} " +
        s"entries, got ${arr.length}")
    arr
  }

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) null
    else GopherCore.keepText(t.asInstanceOf[UTF8String], thArr)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = text.genCode(ctx)
    val core = ctx.addReferenceObj("gopherCore", GopherCore,
      GopherCore.getClass.getName)
    val th = ctx.addReferenceObj("gopherTh", thArr, "int[]")
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        boolean ${ev.value} = false;
        if (!${ev.isNull}) {
          ${ev.value} = $core.keepText(${t.value}, $th);
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, thresholds = newRight)
}
