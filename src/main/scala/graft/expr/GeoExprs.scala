package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native evaluators for G1/G2 (reference `stac.py:164-206`) — the
  * geometry pipeline was previously a tree of higher-order functions
  * (interpreted, re-evaluated once per derived output column since
  * CodegenFallback columns get no common-subexpression elimination);
  * this is the SURVEY §7.3-nominated custom-Expression form. Declarative
  * twins live in test scope (`SpecTwins.cmrGeometryHof`,
  * `geometryBboxHof`) for the equivalence spec. */
object GeoCore extends Serializable {

  private val WS = java.util.regex.Pattern.compile("\\s+")
  val PolygonType: UTF8String = UTF8String.fromString("Polygon")

  /** Spark-cast-compatible string→double; null on junk, like the HOF
    * form's `try_cast("double")`. */
  private def toDouble(s: String): Any =
    try java.lang.Double.parseDouble(s.trim)
    catch { case _: NumberFormatException => null }

  /** `stac.py:164-206`: polygons[0][0] tokens (optionally reversed) or
    * boxes[0] tokens → pairwise coords → (closed box ring when exactly
    * 2 coords) → GeoJSON Polygon struct. Returns null when neither
    * source is present (the reference's `return None`). */
  def cmrGeometry(polygons: ArrayData, boxes: ArrayData,
                  reverse: Boolean): InternalRow = {
    var tokenStr: UTF8String = null
    var fromPolygons = false
    if (polygons != null && polygons.numElements() > 0) {
      fromPolygons = true
      val inner = polygons.getArray(0)
      if (inner != null && inner.numElements() > 0)
        tokenStr = inner.getUTF8String(0)
    } else if (boxes != null && boxes.numElements() > 0) {
      tokenStr = boxes.getUTF8String(0)
    } else return null
    if (tokenStr == null) return null
    // Python .split() (no argument) discards empty tokens everywhere —
    // leading/trailing whitespace of ANY kind never yields a token, and
    // ''.split() == [] makes `if not str_coords: return None` fire
    // (stac.py:199-200)
    var tokens = WS.split(tokenStr.toString, -1).filter(_.nonEmpty)
    if (tokens.isEmpty) return null
    if (fromPolygons && reverse) tokens = tokens.reverse
    // pairwise with odd trailing token dropped (`zip(a, a)`)
    val nPairs = tokens.length / 2
    var coords = new Array[Any](nPairs)
    var i = 0
    while (i < nPairs) {
      coords(i) = new GenericArrayData(
        Array[Any](toDouble(tokens(2 * i)), toDouble(tokens(2 * i + 1))))
      i += 1
    }
    // 2 corner points → closed 5-point rectangle ring, inserting at
    // positions 1, 3, 4 (`stac.py:202-206`)
    if (nPairs == 2) {
      val c0 = coords(0).asInstanceOf[GenericArrayData]
      val c1 = coords(1).asInstanceOf[GenericArrayData]
      coords = Array[Any](
        c0,
        new GenericArrayData(Array[Any](c1.get(0, DoubleType), c0.get(1, DoubleType))),
        c1,
        new GenericArrayData(Array[Any](c0.get(0, DoubleType), c1.get(1, DoubleType))),
        c0)
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(Array[Any](new GenericArrayData(coords))),
      PolygonType))
  }

  /** G2 bbox of the first ring: [minx, miny, maxx, maxy], nulls in
    * coordinates ignored like `array_min`/`array_max`. */
  def geometryBbox(geometry: InternalRow): GenericArrayData = {
    val rings = geometry.getArray(0)
    if (rings == null || rings.numElements() == 0) return null
    val ring = rings.getArray(0)
    var minX, minY = java.lang.Double.MAX_VALUE
    var maxX, maxY = -java.lang.Double.MAX_VALUE
    var sawX, sawY = false
    var i = 0
    val n = ring.numElements()
    while (i < n) {
      val c = ring.getArray(i)
      if (c != null && c.numElements() >= 2) {
        if (!c.isNullAt(0)) {
          val x = c.getDouble(0)
          if (x < minX) minX = x
          if (x > maxX) maxX = x
          sawX = true
        }
        if (!c.isNullAt(1)) {
          val y = c.getDouble(1)
          if (y < minY) minY = y
          if (y > maxY) maxY = y
          sawY = true
        }
      }
      i += 1
    }
    new GenericArrayData(Array[Any](
      if (sawX) minX else null, if (sawY) minY else null,
      if (sawX) maxX else null, if (sawY) maxY else null))
  }
}

/** `cmr_geometry(polygons, boxes, reverse)` →
  * struct<coordinates: array<array<array<double>>>, type: string>. */
case class CmrGeometryExpr(polygons: Expression, boxes: Expression,
                           reverse: Expression)
  extends TernaryExpression {

  override def first: Expression = polygons
  override def second: Expression = boxes
  override def third: Expression = reverse
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("coordinates",
      ArrayType(ArrayType(ArrayType(DoubleType)))),
    StructField("type", StringType)))

  override def eval(input: InternalRow): Any = {
    val p = polygons.eval(input)
    val b = boxes.eval(input)
    val r = reverse.eval(input)
    GeoCore.cmrGeometry(
      p.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      r != null && r.asInstanceOf[Boolean])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val p = polygons.genCode(ctx)
    val b = boxes.genCode(ctx)
    val r = reverse.genCode(ctx)
    val core = ctx.addReferenceObj("geoCore", GeoCore,
      GeoCore.getClass.getName)
    ev.copy(code =
      code"""
        ${p.code}
        ${b.code}
        ${r.code}
        InternalRow ${ev.value} = $core.cmrGeometry(
          ${p.isNull} ? null : ${p.value},
          ${b.isNull} ? null : ${b.value},
          !${r.isNull} && ${r.value});
        boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(polygons = newFirst, boxes = newSecond, reverse = newThird)
}

/** `geometry_bbox(geom)` → array<double> [minx, miny, maxx, maxy]. */
case class GeometryBboxExpr(child: Expression) extends UnaryExpression {

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType)

  override def eval(input: InternalRow): Any = {
    val g = child.eval(input)
    if (g == null) null
    else GeoCore.geometryBbox(g.asInstanceOf[InternalRow])
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val g = child.genCode(ctx)
    val core = ctx.addReferenceObj("geoCore", GeoCore,
      GeoCore.getClass.getName)
    ev.copy(code =
      code"""
        ${g.code}
        org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} = null;
        if (!${g.isNull}) {
          ${ev.value} = $core.geometryBbox(${g.value});
        }
        boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
