package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Character-distribution entropy stats — the gibberish/binary-blob
  * quality signal: natural text has character entropy ~2.5-4.3 nats,
  * base64/hex/binary junk sits near the alphabet ceiling, repeated
  * filler near zero.
  *
  * Emits exact integers (n_chars, sum over distinct chars of
  * count x round(ln(count) x 1e6)) so the per-doc numbers are
  * bit-stable on any engine; entropy in nats is then
  * `ln(n) - sum/(n x 1e6)` — one client-side division, while the
  * GATE comparisons (entropy bounds) can stay in exact integer
  * cross-multiplication: H >= t  <=>  round(ln(n) x 1e6) x n - sum >=
  * t x n x 1e6. Characters are CODE POINTS (Spark `length`
  * semantics); counting is over the raw text, no normalization.
  *
  * The declarative HOF twin lives in `SpecTwins.charEntropyHof`
  * (one sorted fold per row); TextEntropySpec pins bit-equality. */
object EntropyCore extends Serializable {

  /** (n_chars, sum of c * round(ln(c) * 1e6)) over code points. */
  def stats(text: UTF8String): InternalRow = {
    val s = text.toString
    val counts = new java.util.HashMap[Integer, Array[Long]]()
    var i = 0
    var n = 0L
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      val e = counts.get(cp)
      if (e == null) counts.put(cp, Array(1L)) else e(0) += 1
    }
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      sum += c * math.round(math.log(c.toDouble) * 1000000.0)
    }
    InternalRow(n, sum)
  }
}

/** `char_entropy_stats(text)` → struct<n_chars: long, sum_clnc_e6:
  * long>. */
case class CharEntropyExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = CharEntropyExpr.schema
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else EntropyCore.stats(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val core = ctx.addReferenceObj("entropyCore", EntropyCore,
      EntropyCore.getClass.getName)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $core.stats(${t.value});
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharEntropyExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("sum_clnc_e6", LongType, nullable = false)))
}
