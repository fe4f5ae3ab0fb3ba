package graft

import graft.sources.GeoTiff
import java.nio.ByteOrder
import java.nio.file.Files

/** S5 — GeoTIFF header parser against a hand-assembled minimal
  * GeoTIFF (little-endian, tiled, EPSG + tiepoint/scale tags). */
class GeoTiffSpec extends SparkSuite {

  private def makeGeoTiff(order: ByteOrder): Array[Byte] =
    graft.sources.RasterFixtures.geoTiff(order)

  test("parses dimensions, tiling, EPSG, geotransform (both endians)") {
    for (order <- Seq(ByteOrder.LITTLE_ENDIAN, ByteOrder.BIG_ENDIAN)) {
      val m = GeoTiff.parse(makeGeoTiff(order))
        .fold(e => fail(s"$order: $e"), identity)
      assert(m.width == 512 && m.height == 256)
      assert(m.bitsPerSample == 8 && m.samplesPerPixel == 1)
      assert(m.tileWidth.contains(256L) && m.tileHeight.contains(256L))
      assert(m.epsg.contains(4326))
      assert(m.transform.contains(Seq(-180.0, 0.1, 0.0, 90.0, 0.0, -0.05)))
    }
  }

  test("BigTIFF inline LONG values parse in both byte orders") {
    // big-endian BigTIFF keeps count-1 LONG values in the HIGH half
    // of the 8-byte slot (left-justified) — both orders must yield
    // identical metadata
    for (order <- Seq(ByteOrder.LITTLE_ENDIAN, ByteOrder.BIG_ENDIAN)) {
      val m = GeoTiff.parse(graft.sources.RasterFixtures.bigTiff(order))
        .fold(e => fail(s"$order: $e"), identity)
      assert(m.width == 777 && m.height == 333, s"$order: $m")
      assert(m.bitsPerSample == 16)
      assert(m.tileWidth.contains(256L)) // LONG8 slot path
    }
  }

  test("non-TIFF bytes hit the metadata-only fallback (stac.py:88-93)") {
    assert(GeoTiff.parse("not a tiff at all".getBytes).isLeft)
    assert(GeoTiff.parse(Array[Byte]()).isLeft)
    assert(GeoTiff.parse("II".getBytes ++ Array[Byte](0, 0, 0, 0, 0, 0))
      .left.exists(_.contains("magic")))
  }

  /** Items for a readable raster (`good_2020`) and a non-raster file
    * (`bad_2021`), both with properties `k -> v`, enriched from their
    * scan after `prep`; returns each id's properties. */
  private def enrichedProps(
      prep: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
  : Map[String, scala.collection.Map[String, String]] = {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("rasters-enrich")
    Files.write(dir.resolve("good_2020.tif"),
      makeGeoTiff(ByteOrder.LITTLE_ENDIAN))
    Files.write(dir.resolve("bad_2021.tif"), "not a raster".getBytes)
    val media = graft.llm.Multimodal.readMedia(spark, s"file://$dir",
      glob = "*.tif")
    val urls = media.select("path").collect().map(_.getString(0)).sorted
    import spark.implicits._
    val objs = urls.toSeq.toDF("remote_fileurl")
      .withColumn("collection", lit("c"))
      .withColumn("properties", map(lit("k"), lit("v")))
      .withColumn("product_id", lit(null).cast("string"))
      .withColumn("assets", lit(null).cast("map<string,string>"))
    val ev = graft.model.PipelineEvent(collection = "c",
      assetName = Some("data"))
    val items = graft.operators.StacBuilder.regexItems(objs, ev)
    graft.operators.StacBuilder
      .enrichWithRaster(prep(items), GeoTiff.scanMetadata(media))
      .select(col("id"), col("properties")).collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1)).toMap
  }

  test("raster metadata enriches item properties; fallback rows untouched") {
    val enriched = enrichedProps(identity)
    val good = enriched("good_2020")
    assert(good("proj:epsg") == "4326")
    assert(good("proj:shape") == "256,512")
    assert(good("proj:transform") == "-180.0,0.1,0.0,90.0,0.0,-0.05")
    assert(good("raster:bits_per_sample") == "8")
    assert(good("k") == "v") // pre-existing properties survive the merge
    val bad = enriched("bad_2021")
    assert(!bad.contains("proj:epsg") && bad("k") == "v")
  }

  test("an item with an empty assets map passes through enrichment " +
    "with its properties untouched") {
    import org.apache.spark.sql.functions._
    // no asset to take a fallback href from: no raster join match
    val enriched = enrichedProps(_.withColumn("assets",
      when(col("id") === "good_2020",
        map_filter(col("assets"), (_, _) => lit(false)))
        .otherwise(col("assets"))))
    for (id <- Seq("good_2020", "bad_2021")) {
      val props = enriched(id)
      assert(props("k") == "v" && !props.keys.exists(k =>
        k.startsWith("proj:") || k.startsWith("raster:")), s"$id: $props")
    }
  }

  test("distributed scan over binaryFile source with fallback rows") {
    val dir = Files.createTempDirectory("rasters")
    Files.write(dir.resolve("good.tif"),
      makeGeoTiff(ByteOrder.LITTLE_ENDIAN))
    Files.write(dir.resolve("bad.tif"), "not a raster".getBytes)
    val media = graft.llm.Multimodal.readMedia(spark, s"file://$dir",
      glob = "*.tif")
    val rows = GeoTiff.scanMetadata(media).collect().sortBy(_.path)
    assert(rows.length == 2)
    val bad = rows.find(_.path.endsWith("bad.tif")).get
    val good = rows.find(_.path.endsWith("good.tif")).get
    assert(!bad.ok && bad.error.contains("not recognized"))
    assert(good.ok && good.width == 512 && good.epsg.contains(4326))
  }
}
