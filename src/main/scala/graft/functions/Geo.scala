package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geometry helpers (F7, F8, F9, G1, G2) — all higher-order-function
  * column expressions over coordinate arrays; no UDFs, no shuffles. */
object Geo {

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

  /** G1 `generate_geometry_from_cmr` (reference `stac.py:187-206`):
    * `polygons[0][0]` tokens (optionally reversed, F8) else `boxes[0]`
    * tokens → GeoJSON Polygon struct; NULL when neither present.
    * Native [[graft.expr.CmrGeometryExpr]] — the HOF form below is the
    * equivalence-spec reference.
    *
    * @param polygons `array<array<string>>` CMR polygons
    * @param boxes    `array<string>` CMR boxes
    */
  def cmrGeometry(polygons: Column, boxes: Column,
                  reverseCoords: Column): Column =
    call_function("cmr_geometry", polygons, boxes, reverseCoords)

  /** Declarative HOF twin of [[cmrGeometry]] (spec reference only). */
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

  /** bbox of a Polygon geometry struct produced by [[cmrGeometry]] —
    * native [[graft.expr.GeometryBboxExpr]]. */
  def geometryBbox(geometry: Column): Column =
    call_function("geometry_bbox", geometry)

  /** Declarative HOF twin of [[geometryBbox]] (spec reference only). */
  def geometryBboxHof(geometry: Column): Column =
    when(geometry.isNotNull, bbox(element_at(geometry.getField("coordinates"), 1)))
}
