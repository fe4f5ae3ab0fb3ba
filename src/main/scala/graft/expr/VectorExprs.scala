package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native evaluators for the embedding-similarity hot path. Semantics
  * are identical to the declarative forms in the test-scope
  * `graft.SpecTwins` (dot = left-to-right fold of elementwise products
  * after a double-cast; cosine = dot / (norm(a) * norm(b)); LSH bucket
  * bit i = sign of the dot against deterministic seed-7 gaussian
  * hyperplanes) — the HOF forms evaluate interpreted per element and
  * re-evaluate the bucket expression once per multiprobe neighbor. */
object VectorCore extends Serializable {

  /** Element i as double, or NaN boxed null semantics via exception-free
    * sentinel — callers check isNullAt first. */
  private def get(a: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case LongType => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case _ => throw new IllegalArgumentException(s"bad element type $et")
  }

  /** Left-to-right dot product; java.lang.Double (null when the HOF
    * twin would be null: length mismatch or null element — zip_with
    * pads and null products poison the fold). */
  def dot(a: ArrayData, aet: DataType, b: ArrayData,
          bet: DataType): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += get(a, aet, i) * get(b, bet, i)
      i += 1
    }
    acc
  }

  private def norm(a: ArrayData, et: DataType): java.lang.Double = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = get(a, et, i)
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  def cosine(a: ArrayData, aet: DataType, b: ArrayData,
             bet: DataType): java.lang.Double = {
    val d = dot(a, aet, b, bet)
    if (d == null) return null
    val na = norm(a, aet)
    val nb = norm(b, bet)
    if (na == null || nb == null) null
    // zero-norm vector: the declarative twin divides with try_divide,
    // which yields NULL on a 0.0 divisor — match that, never
    // NaN/Infinity
    else if (na.doubleValue() * nb.doubleValue() == 0.0) null
    else d.doubleValue() / (na.doubleValue() * nb.doubleValue())
  }

  /** Deterministic random hyperplanes (seed 7), cached per shape —
    * byte-identical to `Similarity.hyperplanes`. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  def planes(nBits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nBits, dim), { case (b, d) =>
      val rnd = new scala.util.Random(7)
      Array.fill(b)(Array.fill(d)(rnd.nextGaussian()))
    })

  /** Sign-pattern bucket: bit i set when dot(vec, plane_i) >= 0; a null
    * dot (length mismatch vs dim) leaves the bit 0, like the HOF
    * `when(...).otherwise(0)`. */
  def lshBucket(vec: ArrayData, et: DataType, nBits: Int, dim: Int): Long = {
    val ps = planes(nBits, dim)
    val n = vec.numElements()
    var bucket = 0L
    var i = 0
    while (i < nBits) {
      val p = ps(i)
      if (n == p.length) {
        var acc = 0.0
        var j = 0
        var ok = true
        while (j < n && ok) {
          if (vec.isNullAt(j)) ok = false
          else { acc += get(vec, et, j) * p(j); j += 1 }
        }
        if (ok && acc >= 0) bucket |= (1L << i)
      }
      i += 1
    }
    bucket
  }
}

private[expr] trait VecBinaryHelper { self: BinaryExpression =>
  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType
}

/** `vec_dot(a, b)` → double. */
case class VecDotExpr(left: Expression, right: Expression)
  extends BinaryExpression with VecBinaryHelper {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else VectorCore.dot(a.asInstanceOf[ArrayData], elemType(left),
      b.asInstanceOf[ArrayData], elemType(right))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val core = ctx.addReferenceObj("vectorCore", VectorCore,
      VectorCore.getClass.getName)
    val aet = ctx.addReferenceObj("aet", elemType(left))
    val bet = ctx.addReferenceObj("bet", elemType(right))
    ev.copy(code =
      code"""
        ${a.code}
        ${b.code}
        java.lang.Double ${ev.value}$$box = (${a.isNull} || ${b.isNull})
          ? null : $core.dot(${a.value}, $aet, ${b.value}, $bet);
        boolean ${ev.isNull} = ${ev.value}$$box == null;
        double ${ev.value} = ${ev.isNull} ? 0.0 : ${ev.value}$$box.doubleValue();""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `cosine_sim(a, b)` → double. */
case class CosineSimExpr(left: Expression, right: Expression)
  extends BinaryExpression with VecBinaryHelper {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else VectorCore.cosine(a.asInstanceOf[ArrayData], elemType(left),
      b.asInstanceOf[ArrayData], elemType(right))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val core = ctx.addReferenceObj("vectorCore", VectorCore,
      VectorCore.getClass.getName)
    val aet = ctx.addReferenceObj("aet", elemType(left))
    val bet = ctx.addReferenceObj("bet", elemType(right))
    ev.copy(code =
      code"""
        ${a.code}
        ${b.code}
        java.lang.Double ${ev.value}$$box = (${a.isNull} || ${b.isNull})
          ? null : $core.cosine(${a.value}, $aet, ${b.value}, $bet);
        boolean ${ev.isNull} = ${ev.value}$$box == null;
        double ${ev.value} = ${ev.isNull} ? 0.0 : ${ev.value}$$box.doubleValue();""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `lsh_bucket(vec, nBits, dim)` → long. */
case class LshBucketExpr(vec: Expression, nBits: Expression, dim: Expression)
  extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = nBits
  override def third: Expression = dim
  override def dataType: DataType = LongType
  override def nullable: Boolean = vec.nullable
  // Pure, but declared non-deterministic so the bucket equi-join's
  // inferred `isnotnull(bucket)` is not alias-substituted below the
  // projection — that pushdown re-ran the nBits x dim hyperplane dot
  // pass per corpus row in a Filter AND the Project (q_ann_lsh /
  // q_embed_near_dups plans, guide §4.4 duplication).
  override lazy val deterministic: Boolean = false

  private def elemType: DataType =
    vec.dataType.asInstanceOf[ArrayType].elementType
  private def constInt(e: Expression, name: String): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"lsh_bucket $name must be a constant integer, got ${e.sql}")
    e.eval(null).asInstanceOf[Number].intValue()
  }
  private lazy val nBitsVal = {
    val v = constInt(nBits, "nBits")
    // bit i sets 1L << i: beyond 63 the shift wraps and bucket bits
    // silently alias — reject instead of losing LSH recall
    require(v >= 1 && v <= 63, s"lsh_bucket nBits must be in [1, 63], got $v")
    v
  }
  private lazy val dimVal = {
    val v = constInt(dim, "dim")
    require(v >= 1, s"lsh_bucket dim must be >= 1, got $v")
    v
  }

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null
    else VectorCore.lshBucket(v.asInstanceOf[ArrayData], elemType,
      nBitsVal, dimVal)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val core = ctx.addReferenceObj("vectorCore", VectorCore,
      VectorCore.getClass.getName)
    val et = ctx.addReferenceObj("et", elemType)
    ev.copy(code =
      code"""
        ${v.code}
        boolean ${ev.isNull} = ${v.isNull};
        long ${ev.value} = ${ev.isNull}
          ? 0L : $core.lshBucket(${v.value}, $et, $nBitsVal, $dimVal);""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vec = newFirst, nBits = newSecond, dim = newThird)
}
