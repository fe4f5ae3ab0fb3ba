package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native evaluators for the text-dedup hot path (shingle hashing,
  * MinHash signatures, SimHash). Semantics are IDENTICAL to the
  * declarative higher-order-function forms in the test-scope
  * `graft.SpecTwins` (`*Hof`, the equivalence spec) — but Spark's HOFs
  * (`transform`/`aggregate`/`zip_with`) evaluate interpreted with boxed
  * per-element lambdas, which made them ~10x the cost of these tight
  * primitive loops on the sf0.1 corpus.
  *
  * Tokenization mirrors `Text.words(Text.normalize(text))`:
  * `split(trim(collapse_ws(lower(trim(text)))), "\\s+")` with Spark's
  * UTF8String trim/toLowerCase, so byte-identical word boundaries.
  * Word hash = Spark's `xxhash64` (seed 42) over the word's UTF-8
  * bytes; k-shingle hash = Horner fold with M = 1000003 (wrap-around
  * Long arithmetic), distinct preserving first occurrence.
  */
object MinhashCore extends Serializable {

  val M = 1000003L

  /** Normalized word-hash array; [""]-semantics for blank text (one
    * empty word, exactly like split on an empty string).
    *
    * Byte-level twin of the original
    * `trim → lower → regex \s+→" " → String.trim → split(" ") →
    * xxhash64(word)` chain, hash-identical on (valid-UTF-8) input but
    * allocation-free past the lowercase: xxhash64 of a word equals
    * XXH64 over that word's byte range in the lowered string, so the
    * walk hashes slices in place — no regex pass, no UTF-16 decode,
    * no per-word String + re-encode. Equivalence notes: Java `\s` is
    * exactly {0x09..0x0D, 0x20} (no UNICODE flag), all single-byte in
    * UTF-8 and never a continuation byte, so a byte scan can't split
    * inside a multibyte char; `String.trim` strips chars ≤ 0x20 from
    * the ends (controls included), reproduced by the lo/hi clamp;
    * interior non-\s controls stay word bytes, exactly like
    * split-on-spaces after collapse. The whole-string toLowerCase is
    * kept so context-sensitive mappings (final sigma) match. Pinned
    * against the declarative twin by NativeExprSpec. */
  def wordHashes(text: UTF8String): Array[Long] = {
    val lowered = text.trim().toLowerCase()
    val b = lowered.getBytes
    var lo = 0
    var hi = b.length - 1
    while (lo <= hi && (b(lo) & 0xFF) <= 0x20) lo += 1
    while (hi >= lo && (b(hi) & 0xFF) <= 0x20) hi -= 1
    val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET
    if (lo > hi) // all-blank/empty: one empty word, like split("")
      return Array(XXH64.hashUnsafeBytes(b, off, 0, 42L))
    @inline def isWs(x: Byte): Boolean =
      x == 0x20 || (x >= 0x09 && x <= 0x0D)
    var cnt = 1
    var i = lo
    var prevWs = false
    while (i <= hi) {
      val ws = isWs(b(i))
      if (ws && !prevWs) cnt += 1
      prevWs = ws
      i += 1
    }
    val out = new Array[Long](cnt)
    var w = 0
    i = lo
    while (i <= hi) {
      val start = i
      while (i <= hi && !isWs(b(i))) i += 1
      out(w) = XXH64.hashUnsafeBytes(b, off + start, i - start, 42L)
      w += 1
      while (i <= hi && isWs(b(i))) i += 1
    }
    out
  }

  /** Distinct k-shingle Horner hashes; whole-text fold when fewer than
    * k words. Packed with `UnsafeArrayData.fromPrimitiveArray` — the
    * boxed `Array[Any]` form allocated one Long per shingle per row
    * on the hottest kernel of the dedup family. */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    val w = wordHashes(text)
    val n = w.length
    if (n < k) {
      var acc = 0L
      var i = 0
      while (i < n) { acc = acc * M + w(i); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(Array(acc))
    } else {
      // LinkedHashSet keeps first-occurrence order — the twin contract
      // (array_distinct) pins element order, not just the set
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i <= n - k) {
        var acc = w(i)
        var j = 1
        while (j < k) { acc = acc * M + w(i + j); j += 1 }
        seen.add(acc)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var p = 0
      while (it.hasNext) { out(p) = it.next().longValue(); p += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** Deterministic affine permutation constants (seed 42) — the single
    * source of truth for [[permArrays]] and the declarative spec. */
  def perms(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** Rolling-hash document fingerprint: Horner fold (M = 1000003) over
    * the normalized word hashes — `Text.fingerprint`'s semantics. */
  def fingerprint(text: UTF8String): Long = {
    val w = wordHashes(text)
    var acc = 0L
    var i = 0
    while (i < w.length) { acc = acc * M + w(i); i += 1 }
    acc
  }

  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  def permArrays(n: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(n, { m =>
      val ps = perms(m)
      (ps.map(_._1).toArray, ps.map(_._2).toArray)
    })

  /** MinHash signature: per permutation i, min over shingle hashes of
    * `a_i*h + b_i` (wrap-around). */
  def minhashSig(hashes: ArrayData, numHashes: Int): ArrayData = {
    val (as, bs) = permArrays(numHashes)
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = h * as(j) + bs(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    // primitive packing: 64 boxed Longs per DOCUMENT otherwise
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Equal positions between two signatures; a position past either
    * end or holding a null counts 0 (see [[SigAgreeExpr]]). */
  def sigAgree(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        c += 1
      i += 1
    }
    c
  }

  private def hasNull(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** The non-null elements of `a`, sorted, in a fresh primitive array. */
  private def sortedLongs(a: ArrayData, withNulls: Boolean): Array[Long] = {
    val out =
      if (!withNulls) a.toLongArray()
      else {
        val xs = scala.collection.mutable.ArrayBuilder.make[Long]
        var i = 0
        while (i < a.numElements()) {
          if (!a.isNullAt(i)) xs += a.getLong(i)
          i += 1
        }
        xs.result()
      }
    java.util.Arrays.sort(out)
    out
  }

  /** Exact set Jaccard |A∩B| / |A∪B| of two `array<long>` values —
    * the double `size(array_intersect(a, b)).cast("double") /
    * size(array_union(a, b))` gives: duplicates count once and a null
    * element counts as one member. NaN when both sets are empty (the
    * expression maps it to null). Sorted primitive copies and one
    * merge walk, where the set functions build an open hash set per
    * pair. */
  def setJaccard(a: ArrayData, b: ArrayData): Double = {
    val aNull = hasNull(a)
    val bNull = hasNull(b)
    val xs = sortedLongs(a, aNull)
    val ys = sortedLongs(b, bNull)
    var inter = if (aNull && bNull) 1 else 0
    var union = if (aNull || bNull) 1 else 0
    var i = 0
    var j = 0
    while (i < xs.length || j < ys.length) {
      val takeX = j == ys.length || (i < xs.length && xs(i) <= ys(j))
      val takeY = i == xs.length || (j < ys.length && ys(j) <= xs(i))
      val v = if (takeX) xs(i) else ys(j)
      if (takeX && takeY) inter += 1
      union += 1
      while (i < xs.length && xs(i) == v) i += 1
      while (j < ys.length && ys(j) == v) j += 1
    }
    if (union == 0) Double.NaN else inter.toDouble / union
  }

  /** 64-bit SimHash: bit j set when the sum over token hashes of
    * ±1 (bit j of the hash) is positive. */
  def simhash(text: UTF8String): Long = {
    val w = wordHashes(text)
    val votes = new Array[Int](64)
    var i = 0
    while (i < w.length) {
      val h = w(i)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) != 0L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }
}

/** `shingle_hashes(text, k)` → array<long>. */
/** `text_fingerprint(text)` → long (the per-doc rolling hash used as
  * the narrow verify-join key in the simhash pipeline). */
case class FingerprintExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else MinhashCore.fingerprint(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val core = ctx.addReferenceObj("minhashCore", MinhashCore,
      MinhashCore.getClass.getName)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        long ${ev.value} = ${ev.isNull}
          ? 0L : $core.fingerprint(${t.value});""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShingleHashesExpr(text: Expression, k: Expression)
  extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = k
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = text.nullable

  private lazy val kVal: Int = {
    // foldability BEFORE eval: a column reference would otherwise
    // die with an unbound-reference NPE at plan time (the
    // SpanAnchorsExpr.constInt pattern)
    if (!k.foldable) throw new IllegalArgumentException(
      s"shingle_hashes k must be a constant integer, got ${k.sql}")
    val v = k.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"shingle_hashes k must be a constant integer, got $other")
    }
    require(v >= 1, s"shingle_hashes k must be >= 1, got $v")
    v
  }

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) null
    else MinhashCore.shingleHashes(t.asInstanceOf[UTF8String], kVal)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = text.genCode(ctx)
    val core = ctx.addReferenceObj("minhashCore", MinhashCore,
      MinhashCore.getClass.getName)
    val kv = kVal
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $core.shingleHashes(${t.value}, $kv);
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, k = newRight)
}

/** `minhash_sig(hashes, n)` → array<long> (n running minima). */
case class MinhashSigExpr(hashes: Expression, n: Expression)
  extends BinaryExpression {

  override def left: Expression = hashes
  override def right: Expression = n
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = hashes.nullable

  private lazy val nVal: Int = {
    if (!n.foldable) throw new IllegalArgumentException(
      s"minhash_sig n must be a constant integer, got ${n.sql}")
    val v = n.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"minhash_sig n must be a constant integer, got $other")
    }
    require(v >= 1 && v <= 4096,
      s"minhash_sig n must be in [1, 4096], got $v")
    v
  }

  override def eval(input: InternalRow): Any = {
    val h = hashes.eval(input)
    if (h == null) null
    else MinhashCore.minhashSig(h.asInstanceOf[ArrayData], nVal)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val h = hashes.genCode(ctx)
    val core = ctx.addReferenceObj("minhashCore", MinhashCore,
      MinhashCore.getClass.getName)
    val nv = nVal
    ev.copy(code =
      code"""
        ${h.code}
        boolean ${ev.isNull} = ${h.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $core.minhashSig(${h.value}, $nv);
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(hashes = newLeft, n = newRight)
}

/** `simhash64(text)` → long. */
case class SimhashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val t = child.eval(input)
    if (t == null) null
    else MinhashCore.simhash(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    val core = ctx.addReferenceObj("minhashCore", MinhashCore,
      MinhashCore.getClass.getName)
    ev.copy(code =
      code"""
        ${t.code}
        boolean ${ev.isNull} = ${t.isNull};
        long ${ev.value} = 0L;
        if (!${ev.isNull}) {
          ${ev.value} = $core.simhash(${t.value});
        }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `sig_agree(a, b)` → int: positions where two minhash signatures
  * carry the same value — the numerator of the LSH agreement estimate
  * `sig_agree(a, b) / numHashes ≈ jaccard`. Semantics match the HOF
  * twin `aggregate(zip_with(a, b, (x, y) => when(x === y, 1)
  * .otherwise(0)), 0, _ + _)`: a length mismatch or null element is a
  * DISAGREEMENT (counts 0), never a null result — zip_with pads the
  * short side with nulls and `when` sends them to `otherwise(0)`.
  *
  * Why native: the candidate-verify prefilter evaluates this once per
  * candidate pair; on adversarial corpora (large borderline-similar
  * families) that is tens of millions of pairs, and the interpreted
  * HOF chain was the hot path. */
case class SigAgreeExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) null
    else MinhashCore.sigAgree(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val core = ctx.addReferenceObj("minhashCore", MinhashCore,
      MinhashCore.getClass.getName)
    ev.copy(code =
      code"""
        ${a.code}
        ${b.code}
        boolean ${ev.isNull} = ${a.isNull} || ${b.isNull};
        int ${ev.value} = 0;
        if (!${ev.isNull}) {
          ${ev.value} = $core.sigAgree(${a.value}, ${b.value});
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `set_jaccard(a, b)` → double: exact set Jaccard of two
  * `array<long>` values (see [[MinhashCore.setJaccard]]) — the
  * near-dup verify kernel, evaluated once per candidate pair. Null
  * when either array is null or both are empty (no 0/0, so ANSI mode
  * cannot throw). Pinned against the `array_intersect`/`array_union`
  * formula by NativeExprSpec. */
case class SetJaccardExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"set_jaccard expects two array<bigint> arguments, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val j = MinhashCore.setJaccard(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])
    if (j.isNaN) null else j
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val core = ctx.addReferenceObj("minhashCore", MinhashCore,
      MinhashCore.getClass.getName)
    ev.copy(code =
      code"""
        ${a.code}
        ${b.code}
        boolean ${ev.isNull} = ${a.isNull} || ${b.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = $core.setJaccard(${a.value}, ${b.value});
          ${ev.isNull} = Double.isNaN(${ev.value});
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
