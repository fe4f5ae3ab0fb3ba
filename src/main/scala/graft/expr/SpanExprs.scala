package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing anchor selection for the repeated-span family
  * ([[graft.llm.Dedup.sampledSpanWindows]]): from every run of `w`
  * consecutive `spanChars`-character windows of the (already
  * normalized) text, select the window minimizing
  * `md5prefix32 * 2^20 + (2^20 - 1 - pos0)` — min hash, rightmost
  * position on 32-bit ties, the exact [[graft.llm.Winnow.PosCap]]
  * packing the DuckDB oracle replays with
  * `('0x' || substr(md5(span), 1, 8))::BIGINT`. Positions past 2^20
  * are not sampled (the packing cap).
  *
  * Why native: the HOF twin (kept in test scope as
  * `SpecTwins.sampledSpanWindowsHof` for the equivalence spec)
  * evaluates interpreted per window position — substring + md5-hex +
  * conv + a slice/array_min per window start — measured ~8 s for ~1M
  * positions at sf0.1; this loop hashes the UTF-8 byte windows
  * directly and takes the per-window minima with a w-slot monotonic
  * ring deque — O(chars) time, and the only position-proportional
  * allocation is the packed-encoding array (the output buffer is
  * density-sized, ~2/(w+1) of positions).
  *
  * Character (code point) semantics match Spark `substring` / DuckDB
  * `substr`: an ASCII fast path indexes bytes directly; otherwise a
  * code-point offset table maps char windows to byte ranges, so the
  * hashed bytes are exactly the UTF-8 encoding of the char window.
  */
object SpanCore extends Serializable {

  private val PosCap = graft.llm.Winnow.PosCap // 2^20

  private val mdLocal =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** 1-based char positions of the winnow-selected spanChars-windows,
    * in increasing order; empty when the text is shorter than
    * spanChars. */
  def anchors(text: UTF8String, spanChars: Int, w: Int): GenericArrayData = {
    val bytes = text.getBytes
    val nBytes = bytes.length
    // code-point offsets: offs(i) = byte offset of char i, offs(nChars)
    // = nBytes. ASCII fast path skips the table.
    val ascii = text.numChars() == nBytes
    val offs: Array[Int] =
      if (ascii) null
      else {
        val nc = text.numChars()
        val o = new Array[Int](nc + 1)
        var b = 0
        var i = 0
        while (i < nc) {
          o(i) = b
          b += UTF8String.numBytesForFirstByte(bytes(b))
          i += 1
        }
        o(nc) = nBytes
        o
      }
    val nChars = if (ascii) nBytes else offs.length - 1
    if (nChars < spanChars) return new GenericArrayData(Array.empty[Any])
    val nPos = math.min(nChars - spanChars + 1, PosCap.toInt)
    val md = mdLocal.get()
    val enc = new Array[Long](nPos)
    val digest = new Array[Byte](16)
    var p = 0
    while (p < nPos) {
      val start = if (ascii) p else offs(p)
      val end = if (ascii) p + spanChars else offs(p + spanChars)
      md.reset()
      md.update(bytes, start, end - start)
      md.digest(digest, 0, 16)
      val h32 = ((digest(0) & 0xFFL) << 24) | ((digest(1) & 0xFFL) << 16) |
        ((digest(2) & 0xFFL) << 8) | (digest(3) & 0xFFL)
      enc(p) = h32 * PosCap + (PosCap - 1 - p)
      p += 1
    }
    // sliding-window minima (monotonic RING deque of at most w live
    // entries — sizing it nPos would allocate megabytes per long
    // doc); window ends e cover [max(0, e-w+1), e] for e in
    // [min(w, nPos)-1, nPos): all full windows, or the single
    // truncated window when nPos < w. Argmins are non-decreasing
    // (all enc distinct), so consecutive dedup yields the distinct
    // selected positions in increasing order; expected output size
    // is 2·nPos/(w+1), so it grows in a buffer, not an nPos array.
    val cap = math.min(w, nPos) + 1
    val dq = new Array[Int](cap)
    var head = 0 // ring index of the front
    var size = 0
    val out = new scala.collection.mutable.ArrayBuffer[Any](
      2 * nPos / (w + 1) + 2)
    var lastSel = -1
    val firstEnd = math.min(w, nPos) - 1
    var e = 0
    while (e < nPos) {
      while (size > 0 && enc(dq((head + size - 1) % cap)) >= enc(e))
        size -= 1
      dq((head + size) % cap) = e
      size += 1
      if (dq(head) < e - w + 1) { head = (head + 1) % cap; size -= 1 }
      if (e >= firstEnd) {
        val m = dq(head)
        if (m != lastSel) {
          out += (m + 1) // 1-based
          lastSel = m
        }
      }
      e += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `span_anchors(text, spanChars, w)` → array<int> of 1-based selected
  * window positions (winnowing over spanChars-char windows). */
case class SpanAnchorsExpr(text: Expression, spanChars: Expression,
                           w: Expression) extends TernaryExpression {

  override def first: Expression = text
  override def second: Expression = spanChars
  override def third: Expression = w
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = text.nullable

  private def constInt(e: Expression, name: String): Int = {
    // foldability check BEFORE eval: a non-literal argument (e.g. a
    // column reference) would otherwise surface as an unbound-
    // reference NPE at plan time instead of this message
    if (!e.foldable) throw new IllegalArgumentException(
      s"span_anchors $name must be a constant integer, got ${e.sql}")
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"span_anchors $name must be a constant integer, got $other")
    }
  }
  private lazy val spanVal: Int = {
    val v = constInt(spanChars, "spanChars")
    require(v >= 1, s"span_anchors spanChars must be >= 1, got $v"); v
  }
  private lazy val wVal: Int = {
    val v = constInt(w, "w")
    require(v >= 1, s"span_anchors w must be >= 1, got $v"); v
  }

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) null
    else SpanCore.anchors(t.asInstanceOf[UTF8String], spanVal, wVal)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = text.genCode(ctx)
    val core = ctx.addReferenceObj("spanCore", SpanCore,
      SpanCore.getClass.getName)
    val (sv, wv) = (spanVal, wVal)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} =
          ${ev.isNull} ? null : $core.anchors(${t.value}, $sv, $wv);""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(text = newFirst, spanChars = newSecond, w = newThird)
}
