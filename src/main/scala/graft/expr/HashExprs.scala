package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native `md5_prefix(str, nHex)` → BIGINT: the value of the first
  * `nHex` hex digits of `md5(str)` as an unsigned integer — exactly
  * `conv(substring(md5(str), 1, nHex), 16, 10)` (cast to BIGINT), the
  * deterministic bucket/rank key the sampling, mixing, DSIR and
  * winnowing operators all derive per row or per gram. The declarative
  * form materializes the full 32-char hex string, substrings it, and
  * string-parses the prefix back to an integer on EVERY evaluation;
  * this expression assembles the same value from the digest's leading
  * nibbles directly (one ThreadLocal MessageDigest, zero string
  * allocation). Hash-equivalence to the conv/substring/md5 chain is
  * pinned by NativeExprSpec.
  */
object HashCore extends Serializable {

  private val mdLocal =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Value of the first `nHex` hex nibbles of md5(text-bytes). */
  def md5Prefix(text: UTF8String, nHex: Int): Long = {
    val md = mdLocal.get()
    md.reset()
    md.update(text.getBytes)
    val d = md.digest()
    var acc = 0L
    var i = 0
    while (i < nHex) {
      val nib =
        if ((i & 1) == 0) (d(i >> 1) >> 4) & 0xF
        else d(i >> 1) & 0xF
      acc = (acc << 4) | nib
      i += 1
    }
    acc
  }
}

case class Md5PrefixExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable

  private lazy val nHex: Int = {
    if (!right.foldable) throw new IllegalArgumentException(
      s"md5_prefix nHex must be a constant integer, got ${right.sql}")
    val v = right.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"md5_prefix nHex must be a constant integer, got $other")
    }
    // 15 nibbles = 60 bits: the unsigned value always fits a BIGINT
    require(v >= 1 && v <= 15, s"md5_prefix nHex must be in [1, 15], got $v")
    v
  }

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) null
    else HashCore.md5Prefix(t.asInstanceOf[UTF8String], nHex)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = left.genCode(ctx)
    val core = ctx.addReferenceObj("hashCore", HashCore,
      HashCore.getClass.getName)
    val n = nHex
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        long ${ev.value} = 0L;
        if (!${ev.isNull}) {
          ${ev.value} = $core.md5Prefix(${t.value}, $n);
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
