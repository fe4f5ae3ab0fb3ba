package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** Geometry columns (G1 with F7, F8, F9; G2) over the native
  * `cmr_geometry` and `geometry_bbox` kernels ([[graft.expr.GeoCore]]);
  * no UDFs, no shuffles. */
object Geo {

  /** G1 `generate_geometry_from_cmr` (reference `stac.py:187-206`):
    * `polygons[0][0]` tokens (optionally reversed, F8) else `boxes[0]`
    * tokens → GeoJSON Polygon struct; NULL when neither present.
    * Native [[graft.expr.CmrGeometryExpr]]; its declarative twin,
    * `SpecTwins.cmrGeometryHof` (test scope), is the equivalence spec.
    *
    * @param polygons `array<array<string>>` CMR polygons
    * @param boxes    `array<string>` CMR boxes
    */
  def cmrGeometry(polygons: Column, boxes: Column,
                  reverseCoords: Column): Column =
    call("cmr_geometry", polygons, boxes, reverseCoords)

  /** bbox of a Polygon geometry struct produced by [[cmrGeometry]] —
    * native [[graft.expr.GeometryBboxExpr]]. */
  def geometryBbox(geometry: Column): Column =
    call("geometry_bbox", geometry)
}
