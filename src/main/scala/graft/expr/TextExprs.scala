package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native tokenizer kernels for the text-statistics hot path.
  *
  * - `alpha_tokens(text)` → array<string>: the maximal `[a-z]+` runs
  *   of `lower(text)` — value-identical to
  *   `regexp_extract_all(lower(text), '[a-z]+', 0)` (the LangModel /
  *   classifier / retrieval tokenizer), without a regex matcher, a
  *   lowered-string rescan, or per-match copies: `a-z` never occurs
  *   inside a UTF-8 multibyte sequence, so a byte walk over the
  *   lowered bytes finds exactly the regex's matches, and each token
  *   is a zero-copy slice of the lowered buffer.
  * - `ws_token_count(text)` → int: value-identical to
  *   `when(length(trim(text)) = 0, 0)
  *    .otherwise(size(split(trim(text), '\\s+')))` — Spark's split
  *   keeps leading/trailing empty segments (limit -1), so the count is
  *   (number of maximal `\s+` runs in the space-trimmed text) + 1, and
  *   0 for space-trimmed-empty input. One byte pass, zero allocation.
  * - `stopword_count(text)` → int: value-identical to
  *   `size(filter(split(trim(lower(text)), "\\s+"),
  *    w => array_contains(stopwords, w)))` — the maximal non-`\s` runs
  *   of the lowered text that equal a [[Stopwords]] entry (the empty
  *   segments split keeps are never stopwords, so the trim does not
  *   matter). Lowering stays Spark's own `lower` (the expression's
  *   child), so case mapping cannot drift; the kernel is one byte walk
  *   over the lowered bytes with no word array and no per-word string.
  *
  * All are pinned against their declarative twins by NativeExprSpec.
  */
object TextCore extends Serializable {

  /** The fluency stopwords behind `Text.stopwordCount`. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be")

  /** [[Stopwords]] as UTF-8 bytes, grouped by byte length. */
  private val stopwordsByLen: Array[Array[Array[Byte]]] = {
    val bytes = Stopwords.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Array.tabulate(bytes.map(_.length).max + 1)(n =>
      bytes.filter(_.length == n).toArray)
  }

  /** Words of the (already lowered) text that are [[Stopwords]]. */
  def stopwordCount(lowered: UTF8String): Int = {
    val b = lowered.getBytes
    val n = b.length
    @inline def isWs(x: Byte): Boolean =
      x == 0x20 || (x >= 0x09 && x <= 0x0D)
    var cnt = 0
    var i = 0
    while (i < n) {
      if (isWs(b(i))) i += 1
      else {
        val start = i
        while (i < n && !isWs(b(i))) i += 1
        val len = i - start
        if (len < stopwordsByLen.length) {
          val cands = stopwordsByLen(len)
          var c = 0
          while (c < cands.length) {
            val w = cands(c)
            var k = 0
            while (k < len && w(k) == b(start + k)) k += 1
            if (k == len) { cnt += 1; c = cands.length } else c += 1
          }
        }
      }
    }
    cnt
  }

  def alphaTokens(text: UTF8String): ArrayData = {
    val lowered = text.toLowerCase
    var b = lowered.getBytes
    // never alias a possibly-reused input row buffer: views below must
    // reference a buffer this row owns
    if (b.asInstanceOf[AnyRef] eq text.getBaseObject) b = b.clone()
    val n = b.length
    @inline def isAlpha(x: Byte): Boolean = x >= 'a' && x <= 'z'
    var cnt = 0
    var i = 0
    while (i < n) {
      if (isAlpha(b(i))) {
        cnt += 1
        while (i < n && isAlpha(b(i))) i += 1
      } else i += 1
    }
    val out = new Array[Any](cnt)
    var w = 0
    i = 0
    while (i < n) {
      if (isAlpha(b(i))) {
        val start = i
        while (i < n && isAlpha(b(i))) i += 1
        out(w) = UTF8String.fromBytes(b, start, i - start)
        w += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  /** Value-identical to `split(trim(regexp_replace(lower(trim(text)),
    * "\\s+", " ")), "\\s+")` — i.e. `Text.words(Text.normalize(text))`,
    * the word array under the winnowing / span / PMI / masking
    * operators: the maximal non-`\s` runs of `lower(trim(text))`
    * (collapse-then-split-on-single-space ≡ split-on-runs), `[""]`
    * when no word survives (split of an empty string). Zero-copy
    * slices of the lowered buffer. */
  def normWords(text: UTF8String): ArrayData = {
    val lowered = text.trim().toLowerCase
    var b = lowered.getBytes
    if (b.asInstanceOf[AnyRef] eq text.getBaseObject) b = b.clone()
    val n = b.length
    @inline def isWs(x: Byte): Boolean =
      x == 0x20 || (x >= 0x09 && x <= 0x0D)
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!isWs(b(i))) {
        cnt += 1
        while (i < n && !isWs(b(i))) i += 1
      } else i += 1
    }
    if (cnt == 0)
      return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    val out = new Array[Any](cnt)
    var w = 0
    i = 0
    while (i < n) {
      if (!isWs(b(i))) {
        val start = i
        while (i < n && !isWs(b(i))) i += 1
        out(w) = UTF8String.fromBytes(b, start, i - start)
        w += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  def wsTokenCount(text: UTF8String): Int = {
    val b = text.getBytes
    var lo = 0
    var hi = b.length - 1
    // SQL trim(): spaces (0x20) only, both ends
    while (lo <= hi && b(lo) == 0x20) lo += 1
    while (hi >= lo && b(hi) == 0x20) hi -= 1
    if (lo > hi) return 0
    @inline def isWs(x: Byte): Boolean =
      x == 0x20 || (x >= 0x09 && x <= 0x0D)
    // segments = \s+ runs + 1 (split keeps leading/trailing empties)
    var cnt = 1
    var i = lo
    var prevWs = false
    while (i <= hi) {
      val ws = isWs(b(i))
      if (ws && !prevWs) cnt += 1
      prevWs = ws
      i += 1
    }
    cnt
  }
}

/** Column-level entry points (no session-registry dependency). */
object AlphaTokens {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ExprColumn
  def apply(text: Column): Column =
    ExprColumn.column(AlphaTokensExpr(ExprColumn.expression(text)))
}

object WsTokenCount {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ExprColumn
  def apply(text: Column): Column =
    ExprColumn.column(WsTokenCountExpr(ExprColumn.expression(text)))
}

object StopwordCount {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lower
  import org.apache.spark.sql.graftbridge.ExprColumn
  def apply(text: Column): Column =
    ExprColumn.column(StopwordCountExpr(ExprColumn.expression(lower(text))))
}

object NormWords {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ExprColumn
  def apply(text: Column): Column =
    ExprColumn.column(NormWordsExpr(ExprColumn.expression(text)))
}

/** `norm_words(text)` → array<string>. */
case class NormWordsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else TextCore.normWords(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val core = ctx.addReferenceObj("textCore", TextCore,
      TextCore.getClass.getName)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $core.normWords(${t.value});
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `alpha_tokens(text)` → array<string>. */
case class AlphaTokensExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else TextCore.alphaTokens(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val core = ctx.addReferenceObj("textCore", TextCore,
      TextCore.getClass.getName)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $core.alphaTokens(${t.value});
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `ws_token_count(text)` → int. */
case class WsTokenCountExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else TextCore.wsTokenCount(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val core = ctx.addReferenceObj("textCore", TextCore,
      TextCore.getClass.getName)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        int ${ev.value} = 0;
        if (!${ev.isNull}) {
          ${ev.value} = $core.wsTokenCount(${t.value});
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `stopword_count(lower(text))` → int; the child is the lowered text
  * (see [[TextCore.stopwordCount]]). */
case class StopwordCountExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else TextCore.stopwordCount(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val core = ctx.addReferenceObj("textCore", TextCore,
      TextCore.getClass.getName)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        int ${ev.value} = 0;
        if (!${ev.isNull}) {
          ${ev.value} = $core.stopwordCount(${t.value});
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
