package graft

import graft.operators.Cogify
import graft.pipeline.{EventJson, Runner}
import graft.sources.Collections
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end pipeline runs driven by reference-shaped event JSON
  * (SURVEY §3.1 / §7.2: the ESACCI inventory slice), cogify dispatch,
  * and the collection dimension join. */
class RunnerSpec extends SparkSuite {

  test("ESACCI-shaped inventory event: discover -> cogify -> items (§7.2)") {
    val csv = Files.createTempFile("cci", ".csv")
    Files.writeString(csv,
      """s3_path
        |s3://maap/CCI/S50W070_BIOMASS-100m-2020-fv4.0.tif
        |s3://maap/CCI/N00E010_BIOMASS-100m-2020-fv4.0.tif
        |s3://maap/CCI/readme.txt
        |""".stripMargin)
    // shape of data/step_function_inputs/ESACCI_Biomass_...json
    val ev = EventJson.parse(
      s"""{
         |  "collection": "ESACCI_Biomass_L4_AGB_V4_100m_2020",
         |  "discovery": "inventory",
         |  "inventory_url": "$csv",
         |  "filename_regex": ".*BIOMASS.*\\\\.tif$$",
         |  "upload": true,
         |  "user_shared": false,
         |  "asset_roles": ["data"],
         |  "asset_media_type": {
         |    "tif": "image/tiff; application=geotiff; profile=cloud-optimized"
         |  },
         |  "asset_name": "tif",
         |  "cogify": true
         |}""".stripMargin)
    assert(ev.cogify && ev.upload &&
      ev.assetMediaTypeMap.contains("tif") &&
      ev.assetRolesList.contains(Seq("data")))

    val ctx = Runner.RunContext(
      cogifyTransform = PassthroughTransform,
      cogifyConfigs = Map(ev.collection ->
        Cogify.CollectionConfig(outputBucket = "nasa-store",
          outputDir = "file-staging")))
    val r = Runner.run(spark, ev, ctx)
    val items = r.items.orderBy("id").collect()
    assert(items.length == 2 && r.quarantined.isEmpty)
    val first = items.head
    // cogified url: uploaded under the canonical bucket, name + .tif
    val asset = first.getMap[String, Any](first.fieldIndex("assets"))
    assert(asset.keySet == Set("tif"))
    assert(first.getString(first.fieldIndex("id")) ==
      "N00E010_BIOMASS-100m-2020-fv4.0")
    // the cogified url contains "2020" twice (filename + collection dir)
    // -> the cascade returns a (start, end) range, exactly like the
    // reference running extract_dates on the full remote_fileurl
    assert(first.isNullAt(first.fieldIndex("datetime")))
    val props = first.getMap[String, String](first.fieldIndex("properties"))
    assert(props("start_datetime") == "2020-01-01T00:00:00Z")
    assert(props("end_datetime") == "2020-01-01T00:00:00Z")
  }

  test("undateable rows are quarantined, not fatal") {
    val csv = Files.createTempFile("inv2", ".csv")
    Files.writeString(csv,
      """s3_path
        |s3://b/file_2020.tif
        |s3://b/nodatehere.tif
        |""".stripMargin)
    val ev = EventJson.parse(
      s"""{"collection": "c", "discovery": "inventory",
         | "inventory_url": "$csv"}""".stripMargin)
    val r = Runner.run(spark, ev)
    assert(r.items.count() == 1)
    assert(r.quarantined.count() == 1)
  }

  test("cogify: suffix dispatch errors unsupported types; affine parses") {
    import spark.implicits._
    val objs = Seq(
      ("s3://b/a.he5", true), ("s3://b/b.tif", true),
      ("s3://b/c.xyz", true), ("s3://b/d.xyz", false))
      .toDF("remote_fileurl", "cogify")
      .withColumn("collection", lit("OMNO2d"))
      .withColumn("upload", lit(true))
    val cfg = Map("OMNO2d" -> Cogify.CollectionConfig(
      outputBucket = "store",
      affine = Some(Cogify.parseAffine("(xmin, xres, 0, ymax, 0, -yres)"))))
    val out = Cogify.run(objs, PassthroughTransform, cfg)
    val rows = out.collect().map(r => (
      r.getString(r.fieldIndex("remote_fileurl")),
      Option(r.getString(r.fieldIndex("cog_error"))))).toMap
    assert(rows("s3://store/file-staging/OMNO2d/a.he5.tif") == None)
    assert(rows("s3://store/file-staging/OMNO2d/b.tif.tif") == None)
    assert(rows("s3://b/c.xyz").get.contains("not supported"))
    assert(rows("s3://b/d.xyz") == None) // cogify=false passes through
    // the eval-replacement term language
    assert(Cogify.evalAffine(cfg("OMNO2d").affine.get,
      xmin = -180, ymax = 90, xres = 0.25, yres = 0.5) ==
      Seq(-180.0, 0.25, 0.0, 90.0, 0.0, -0.5))
    intercept[IllegalArgumentException](
      Cogify.parseAffine("(__import__, 1, 2, 3, 4, 5)"))
  }

  test("cogify run: failed conversions are quarantined with their " +
    "reason, never published") {
    val dir = Files.createTempDirectory("cogq")
    Files.write(dir.resolve("good_2020.tif"),
      graft.sources.RasterFixtures.stripTiff(5, 4, 0 until 20))
    Files.write(dir.resolve("corrupt_2020.tif"), Array.fill[Byte](64)(7))
    Files.writeString(dir.resolve("other_2020.xyz"), "x")
    val csv = dir.resolve("inv.csv")
    Files.writeString(csv, Seq("good_2020.tif", "corrupt_2020.tif",
      "other_2020.xyz").map(n => dir.resolve(n).toString)
      .mkString("s3_path\n", "\n", "\n"))
    val ev = EventJson.parse(
      s"""{"collection": "c", "discovery": "inventory",
         | "inventory_url": "$csv", "cogify": true}""".stripMargin)
    val r = Runner.run(spark, ev, Runner.RunContext(
      cogifyTransform = new Cogify.RasterCogTransform()))
    assert(!r.items.columns.contains("cog_error"))
    assert(r.items.select("id").collect().map(_.getString(0)).toSeq ==
      Seq("good_2020"))
    val q = r.quarantined.select("id", "cog_error").collect()
      .map(row => row.getString(0) -> row.getString(1)).toMap
    assert(q.keySet == Set("corrupt_2020", "other_2020"))
    assert(q("corrupt_2020").startsWith("cogify failed"), q)
    assert(q("other_2020").contains("not supported"), q)
  }

  test("a run computes once: every output and action reads one " +
    "build, under both materialization strategies") {
    val n = 12
    val csv = Files.createTempFile("once", ".csv")
    Files.writeString(csv, ((0 until n - 1).map(k => s"s3://b/f${k}_2020.tif")
      :+ "s3://b/nodate.tif").mkString("s3_path\n", "\n", "\n"))
    val ev = EventJson.parse(
      s"""{"collection": "c", "discovery": "inventory",
         | "inventory_url": "$csv", "cogify": true}""".stripMargin)
    def calls(): Int = {
      CountingTransform.calls.set(0)
      val r = Runner.run(spark, ev,
        Runner.RunContext(cogifyTransform = new CountingTransform))
      assert(r.items.collect().length == n - 1)
      assert(!r.quarantined.isEmpty)
      assert(r.quarantined.count() == 1)
      CountingTransform.calls.get
    }
    assert(calls() == n)
    val dir = Files.createTempDirectory("once_mat").toString
    Materializer.set(Materializer.PersistedTable(dir))
    try {
      assert(calls() == n)
      assert(new java.io.File(s"$dir/runner_items").isDirectory)
    } finally {
      Materializer.reset()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("run outputs keep their plan statistics, so joins on them " +
    "still broadcast") {
    val csv = Files.createTempFile("stats", ".csv")
    Files.writeString(csv, (0 until 20).map(k => s"s3://b/f${k}_2020.tif")
      .mkString("s3_path\n", "\n", "\n"))
    val ev = EventJson.parse(
      s"""{"collection": "c", "discovery": "inventory",
         | "inventory_url": "$csv"}""".stripMargin)
    // a checkpoint keeps the plan's statistics only when the analyzed
    // and optimized outputs have the same types
    for (e <- Seq(ev, ev.copy(assets = Map("meta" -> "s3://b/m.json")))) {
      val built = graft.operators.StacBuilder.regexItems(
        Runner.discover(spark, e), e).queryExecution
      assert(built.analyzed.schema.map(_.dataType) ==
        built.optimizedPlan.schema.map(_.dataType), e.assets)
    }
    val r = Runner.run(spark, ev)
    val size = r.items.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size < spark.sessionState.conf.autoBroadcastJoinThreshold, size)
    // the clash probe of CatalogOps.upsert over a catalog of these items
    val cat = Files.createTempDirectory("stats_cat").resolve("cat").toString
    graft.operators.CatalogOps.upsert(spark, cat, r.items)
    val keys = r.items.select(col("collection").as("__c"), col("id").as("__i"))
    val plan = graft.operators.CatalogOps.read(spark, cat).join(keys,
      col("collection") === col("__c") && col("id") === col("__i"),
      "left_semi").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("collection dimension: load, validate, broadcast join (J2)") {
    val dir = Files.createTempDirectory("colls")
    Files.writeString(dir.resolve("c1.json"),
      """{"id": "c1", "stac_version": "1.0.0", "type": "Collection",
        | "title": "Col One", "license": "CC0",
        | "extent": {"spatial": {"bbox": [[-180, -90, 180, 90]]},
        |   "temporal": {"interval": [["2020-01-01T00:00:00Z", null]]}},
        | "item_assets": {"tif": {"title": "COG", "type": "image/tiff",
        |   "roles": ["data"]}}}""".stripMargin)
    val colls = Collections.withValidity(
      Collections.load(spark, dir.toString))
    assert(colls.filter(col("valid")).count() == 1)
    import spark.implicits._
    val items = Seq(("c1", "i1"), ("nope", "i2"))
      .toDF("collection", "id")
    val joined = Collections.joinItems(items, colls)
    val got = joined.select("id", "collection_title", "license")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toMap
    assert(got("i1") == Some("Col One") && got("i2") == None)
    // the join must be a broadcast, not a sort-merge
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }
}

/** Test-double transform: emits `{filename}.tif` without raster IO
  * (the reference's naming, `handler.py:174`). */
object PassthroughTransform extends Cogify.FileTransform {
  def toCog(url: String, collection: String,
            config: Cogify.CollectionConfig): String = url + ".tif"
}

/** Passthrough conversion that counts its calls JVM-wide. */
object CountingTransform {
  val calls = new java.util.concurrent.atomic.AtomicInteger()
}

class CountingTransform extends Cogify.FileTransform {
  def toCog(url: String, collection: String,
            config: Cogify.CollectionConfig): String = {
    CountingTransform.calls.incrementAndGet()
    url + ".tif"
  }
}
