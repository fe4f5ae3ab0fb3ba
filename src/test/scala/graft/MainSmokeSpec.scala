package graft

import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Deployment smoke: the spark-submit entry point ([[Main.run]], the
  * session-independent body `graft.Main`'s main wraps) driven against
  * a CONFIG DIRECTORY of reference-style event JSONs — the
  * one-submit-per-config-drop shape OPERATING.md documents. Two
  * configs, two collections, one catalog: discovery → regex filter →
  * item build → partitioned catalog publish, plus the quarantine path
  * for an undateable row. */
class MainSmokeSpec extends SparkSuite {

  test("Main.run over a config directory publishes every collection " +
    "to one partitioned catalog and quarantines undateable rows") {
    val base = Files.createTempDirectory("mainsmoke")
    val confDir = Files.createDirectory(base.resolve("conf"))
    val catalogDir = base.resolve("catalog").toString
    val quarantineDir = base.resolve("quarantine").toString

    def inventory(name: String, rows: String*): String = {
      val f = base.resolve(name)
      Files.writeString(f, ("s3_path" +: rows).mkString("", "\n", "\n"))
      f.toString
    }
    val invA = inventory("a.csv",
      "s3://store/A/S50W070_BIOMASS-100m-2020-fv4.0.tif",
      "s3://store/A/N00E010_BIOMASS-100m-2020-fv4.0.tif",
      "s3://store/A/readme.txt")
    val invB = inventory("b.csv",
      "s3://store/B/GEDI_L4B_20210115_v2.tif",
      "s3://store/B/GEDI_L4B_nodate_v2.tif") // undateable → quarantine

    def event(collection: String, inv: String, regex: String): String =
      s"""{
         |  "collection": "$collection",
         |  "discovery": "inventory",
         |  "inventory_url": "$inv",
         |  "filename_regex": "$regex",
         |  "upload": false,
         |  "user_shared": false,
         |  "asset_roles": ["data"],
         |  "asset_media_type": {"tif": "image/tiff"},
         |  "asset_name": "tif",
         |  "cogify": false
         |}""".stripMargin
    Files.writeString(confDir.resolve("01_biomass.json"),
      event("SMOKE_BIOMASS_2020", invA, ".*BIOMASS.*\\\\.tif$$"))
    Files.writeString(confDir.resolve("02_gedi.json"),
      event("SMOKE_GEDI_L4B", invB, ".*GEDI.*\\\\.tif$$"))

    Main.run(spark, confDir.toString, catalogDir, quarantineDir)

    val cat = spark.read.parquet(catalogDir)
    val byColl = cat.groupBy("collection").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byColl == Map("SMOKE_BIOMASS_2020" -> 2L,
      "SMOKE_GEDI_L4B" -> 1L), s"catalog contents: $byColl")
    // partitioned-by-collection layout (T7/A1: the catalog IS the
    // per-collection grouping)
    val f = new org.apache.hadoop.fs.Path(catalogDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"$catalogDir/collection=SMOKE_BIOMASS_2020")))
    // ids + dated properties came through the full item build
    val ids = cat.select("id").collect().map(_.getString(0)).toSet
    assert(ids.contains("N00E010_BIOMASS-100m-2020-fv4.0"))
    assert(ids.contains("GEDI_L4B_20210115_v2"))
    // the undateable GEDI row quarantined (item-shaped DLQ rows)
    // instead of failing the run
    val q = spark.read.json(quarantineDir)
    val qIds = q.select("id").collect().map(_.getString(0)).toSet
    assert(qIds == Set("GEDI_L4B_nodate_v2"),
      s"quarantine contents: $qIds")
  }

  test("Main.run converts a cogify event's rasters: the published href " +
    "is a 256x256-tiled COG on disk and the input is left as it was") {
    val base = Files.createTempDirectory("mainsmoke_cog")
    val tif = base.resolve("strip_2020.tif")
    val px = 0 until 48
    val input = graft.sources.RasterFixtures.stripTiff(8, 6, px)
    Files.write(tif, input)
    val inv = base.resolve("inv.csv")
    Files.writeString(inv, s"s3_path\n$tif\n")
    Files.writeString(base.resolve("cog.json"),
      s"""{"collection": "SMOKE_COG", "discovery": "inventory",
         | "inventory_url": "$inv", "upload": false,
         | "cogify": true}""".stripMargin)
    val catalogDir = base.resolve("catalog").toString
    Main.run(spark, base.resolve("cog.json").toString, catalogDir,
      base.resolve("quarantine").toString)

    assert(Files.readAllBytes(tif).sameElements(input),
      "the source raster was rewritten")
    val cogDir = base.resolve("catalog_cogs/SMOKE_COG")
    val hrefs = spark.read.parquet(catalogDir)
      .select(explode(map_values(col("assets"))).as("a"))
      .select("a.href").collect().map(_.getString(0)).toSeq
    assert(hrefs == Seq(cogDir.resolve("strip_2020.tif").toString),
      s"published hrefs: $hrefs")
    val (m, samples) = graft.sources.GeoTiff.readSamples(
      Files.readAllBytes(Paths.get(hrefs.head))).fold(e => fail(e), identity)
    assert(m.tileWidth.contains(256L) && m.tileHeight.contains(256L), m)
    assert(samples.toSeq == px.map(_.toFloat))
    // the temp file the COG was written to was renamed, not left behind
    val left = Files.list(cogDir)
    try assert(left.iterator().asScala.map(_.getFileName.toString).toSeq ==
      Seq("strip_2020.tif"))
    finally left.close()
  }
}
