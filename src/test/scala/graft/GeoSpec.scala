package graft

import graft.functions.Geo
import org.apache.spark.sql.functions._

/** G1/G2/F7/F8/F9 — example tests from the CMR fixture plus
  * property-style checks (bbox bounds all coords; box rings close)
  * over seeded random inputs. */
class GeoSpec extends SparkSuite {
  import spark.implicits._

  test("cmr box fixture -> closed 5-point ring + bbox (conftest example)") {
    // boxes from build-stac/tests/conftest.py cmr_json_example
    val df = Seq("-2.0677778 9.1694444 0.61 11.8641667").toDF("box")
    val geom = Geo.cmrGeometry(lit(null).cast("array<array<string>>"),
      array(col("box")), lit(false))
    val r = df.select(
      size(element_at(geom.getField("coordinates"), 1)).as("n"),
      Geo.geometryBbox(geom).as("bbox"),
      element_at(geom.getField("coordinates"), 1).as("ring"))
      .collect().head
    assert(r.getInt(0) == 5)
    assert(r.getAs[scala.collection.Seq[Double]](1) ==
      Seq(-2.0677778, 9.1694444, 0.61, 11.8641667))
    val ring = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](2)
    assert(ring.head == ring.last, "ring is closed")
    // insertion order per stac.py:202-206
    assert(ring(1) == Seq(0.61, 9.1694444))
    assert(ring(3) == Seq(-2.0677778, 11.8641667))
  }

  test("polygon path takes polygons[0][0]; reverse_coords flips tokens") {
    val df = Seq(1).toDF("x")
    val polys = array(array(lit("1 2 3 4 5 6 1 2")))
    val geom = Geo.cmrGeometry(polys, lit(null).cast("array<string>"),
      lit(true))
    val ring = df.select(element_at(geom.getField("coordinates"), 1))
      .collect().head.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](0)
    // reversed token list: 2 1 6 5 4 3 2 1 -> pairs
    assert(ring == Seq(Seq(2.0, 1.0), Seq(6.0, 5.0), Seq(4.0, 3.0),
      Seq(2.0, 1.0)))
  }

  test("neither polygons nor boxes -> NULL geometry (reference None)") {
    val df = Seq(1).toDF("x")
    val geom = Geo.cmrGeometry(lit(null).cast("array<array<string>>"),
      lit(null).cast("array<string>"), lit(false))
    assert(df.select(geom).collect().head.isNullAt(0))
  }

  test("property: bbox bounds every coordinate (seeded random)") {
    val rnd = new scala.util.Random(42)
    val cases = Seq.fill(40) {
      Seq.fill(1 + rnd.nextInt(12))(
        Array(math.rint(rnd.nextDouble() * 360 - 180) / 1,
          math.rint(rnd.nextDouble() * 180 - 90) / 1))
    }
    val df = cases.map(c => Tuple1(c.map(_.toArray).toArray))
      .toDF("coords")
    val rows = df.select(SpecTwins.bbox(col("coords"))).collect()
    cases.zip(rows).foreach { case (coords, row) =>
      val r = row.getAs[scala.collection.Seq[Double]](0)
      val xs = coords.map(_(0)); val ys = coords.map(_(1))
      assert(r(0) == xs.min && r(1) == ys.min &&
        r(2) == xs.max && r(3) == ys.max)
    }
  }

  test("property: pairwise halves token count, drops odd tail") {
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(30)(Seq.fill(1 + rnd.nextInt(15))(
      rnd.nextInt(199) - 99).mkString(" "))
    val df = cases.toDF("s")
    val rows = df.select(size(SpecTwins.pairwise(
      split(trim(col("s")), "\\s+")))).collect()
    cases.zip(rows).foreach { case (s, row) =>
      assert(row.getInt(0) == s.split("\\s+").length / 2)
    }
  }
}
