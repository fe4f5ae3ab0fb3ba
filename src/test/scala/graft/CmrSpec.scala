package graft

import graft.model.PipelineEvent
import graft.operators.{MultiAsset, StacBuilder}
import graft.sources.Cmr
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** CMR-path golden tests — ports of
  * `lambdas/build-stac/tests/test_cmr.py` (asset/link partitioning and
  * generate_stac_cmrevent) plus the `multi_asset_items` docstring
  * example from `lambdas/cmr-query/handler.py`. */
class CmrSpec extends SparkSuite {

  /** conftest.py cmr_json_example, written as a fixture file. */
  private lazy val granulePath: String = {
    val json =
      """{
        |  "boxes": ["-2.0677778 9.1694444 0.61 11.8641667"],
        |  "time_start": "2016-02-25T00:00:00.000Z",
        |  "updated": "2019-04-12T20:18:18.461Z",
        |  "dataset_id": "AfriSAR UAVSAR KZ",
        |  "data_center": "NASA_MAAP",
        |  "title": "uavsar_AfriSAR_v1-coreg_fine_lopenp_14043_16008_140_009_160225_kz.hdr",
        |  "time_end": "2016-02-25T23:59:59.000Z",
        |  "id": "G1200110083-NASA_MAAP",
        |  "original_format": "ECHO10",
        |  "browse_flag": false,
        |  "collection_concept_id": "C1200109243-NASA_MAAP",
        |  "online_access_flag": false,
        |  "links": [
        |    {"rel": "http://esipfed.org/ns/fedsearch/1.1/s3#",
        |     "title": "File to download", "hreflang": "en-US",
        |     "href": "s3://nasa-maap-data-store/file-staging/nasa-map/AfriSAR_UAVSAR_KZ___1/uavsar_AfriSAR_v1-coreg_fine_lopenp_14043_16008_140_009_160225_kz.hdr"},
        |    {"inherited": true,
        |     "rel": "http://esipfed.org/ns/fedsearch/1.1/data#",
        |     "hreflang": "en-US",
        |     "href": "s3://nasa-maap-data-store/file-staging/nasa-map/AfriSAR_UAVSAR_KZ___1"},
        |    {"inherited": true,
        |     "rel": "http://esipfed.org/ns/fedsearch/1.1/documentation#",
        |     "hreflang": "en-US",
        |     "href": "https://ieeexplore.ieee.org/document/8469014"}
        |  ]
        |}""".stripMargin
    val f = Files.createTempFile("granule", ".json")
    Files.writeString(f, json)
    f.toString
  }

  private val sampleAssets = Map(
    "bin" -> "s3://nasa-maap-data-store/file-staging/nasa-map/AfriSAR_UAVSAR_KZ___1/uavsar_AfriSAR_v1-coreg_fine_lopenp_14043_16008_140_009_160225_kz.bin",
    "hdr" -> "s3://nasa-maap-data-store/file-staging/nasa-map/AfriSAR_UAVSAR_KZ___1/uavsar_AfriSAR_v1-coreg_fine_lopenp_14043_16008_140_009_160225_kz.hdr",
    "vrt" -> "s3://nasa-maap-data-store/file-staging/nasa-map/AfriSAR_UAVSAR_KZ___1/uavsar_AfriSAR_v1-coreg_fine_lopenp_14043_16008_140_009_160225_kz.vrt")

  private val productId =
    "uavsar_AfriSAR_v1-coreg_fine_lopenp_14043_16008_140_009_160225_kz"

  private def event(withAssets: Boolean) = PipelineEvent(
    collection = "AfriSAR_UAVSAR_KZ",
    discovery = "cmr",
    mode = Some("cmr"),
    assetName = Some("data"),
    assetRolesList = Some(Seq("data")),
    assetMediaTypeScalar = Some("application/x-hdr"),
    assets = if (withAssets) sampleAssets else Map.empty)

  test("from_cmr_links: 1 link + assets partitioning (test_cmr.py:31-39)") {
    val granules = Cmr.granulesFromJson(spark, granulePath)
    val ev = event(withAssets = false)
    val r = granules.select(
      StacBuilder.cmrAssets(col("links"), ev).as("assets"),
      StacBuilder.cmrLinks(col("links")).as("links"))
      .collect().head
    val assets = r.getMap[String, Any](0)
    assert(assets.keySet == Set("data")) // s3# + dir-data# fold to one
    assert(r.getAs[scala.collection.Seq[Any]](1).size == 1)   // documentation link only
  }

  test("generate_stac_cmrevent: 3 assets, id = product_id (test_cmr.py:6-28)") {
    val granules = Cmr.granulesFromJson(spark, granulePath)
    val ev = event(withAssets = true)
    val objs = Cmr.discover(granules, ev)
      .withColumn("product_id", lit(productId))
    val items = StacBuilder.cmrItems(objs, granules, ev)
    // stable output types: a checkpoint of the build keeps its statistics
    for (e <- Seq(ev, event(withAssets = false))) {
      val qe = StacBuilder.cmrItems(objs, granules, e).queryExecution
      assert(qe.analyzed.schema.map(_.dataType) ==
        qe.optimizedPlan.schema.map(_.dataType), e.assets)
    }
    val r = items.select(col("id"), map_keys(col("assets")).as("ks"),
      date_format(col("datetime"), "yyyy-MM-dd").as("dt"),
      col("bbox")).collect().head
    assert(r.getString(0) == productId)
    assert(r.getAs[scala.collection.Seq[String]](1).sorted == Seq("bin", "hdr", "vrt"))
    assert(r.getString(2) == "2016-02-25")
    assert(r.getAs[scala.collection.Seq[Double]](3) ==
      Seq(-2.0677778, 9.1694444, 0.61, 11.8641667))
  }

  test("a malformed time_start gives its item a null datetime; the " +
    "other granules' items survive") {
    val good = Cmr.granulesFromJson(spark, granulePath)
    val granules = good.unionByName(good.withColumn("id", lit("G-bad"))
      .withColumn("time_start", lit("not-a-date")))
    val ev = event(withAssets = false)
    val objs = Cmr.discover(granules, ev)
      .withColumn("product_id", lit(productId))
    val got = StacBuilder.cmrItems(objs, granules, ev)
      .select(col("properties").getItem("concept_id"),
        date_format(col("datetime"), "yyyy-MM-dd"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map("G1200110083-NASA_MAAP" -> Some("2016-02-25"),
      "G-bad" -> None))
  }

  test("multi_asset_items docstring example (cmr-query/handler.py:10-101)") {
    import spark.implicits._
    val base = "s3://nasa-maap-data-store/file-staging/nasa-map/AfriSAR_UAVSAR_KZ___1/"
    val objs = Seq("bin", "hdr", "vrt")
      .map(ext => base + productId + "." + ext)
      .toDF("remote_fileurl")
    val out = MultiAsset.attach(objs, dataFile = "hdr",
      dataFileRegex = "uavsar_AfriSAR_v1-.*.{5}_.{5}_.{3}_.{3}_.{6}_kz")
    val rows = out.select(col("product_id"), col("assets")).collect()
    assert(rows.length == 1) // only the .hdr data-file row survives
    assert(rows.head.getString(0) == productId)
    val assets = rows.head.getMap[String, String](1)
    assert(assets.keys.toSeq.sorted == Seq("bin", "hdr", "vrt"))
    assert(assets("bin") == base + productId + ".bin")
  }

  test("endswith('data#') quirk: metadata# links also hit the data-asset branch") {
    // Python: "…/metadata#".endswith("data#") is True — a metadata link
    // that arrives FIRST becomes the data asset AND a metadata link
    // (stac.py:270-289). The fold preserves this exactly.
    import spark.implicits._
    val links = Seq(Tuple1(Seq(
      ("http://esipfed.org/ns/fedsearch/1.1/metadata#",
        "https://x/meta.xml", "application/xml", "Meta", "en-US", false))))
      .toDF("raw")
      .select(transform(col("raw"), t => struct(
        t.getField("_1").as("rel"), t.getField("_2").as("href"),
        t.getField("_3").as("type"), t.getField("_4").as("title"),
        t.getField("_5").as("hreflang"),
        t.getField("_6").as("inherited"))).as("links"))
    val ev = event(withAssets = false)
    val r = links.select(
      StacBuilder.cmrAssets(col("links"), ev).as("assets"),
      StacBuilder.cmrLinks(col("links")).as("ls")).collect().head
    val assets = r.getMap[String, org.apache.spark.sql.Row](0)
    assert(assets.keySet == Set("data"))
    assert(assets("data").getString(0) == "https://x/meta.xml")
    assert(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](1)
      .map(_.getString(0)) == Seq("metadata"))
  }

  test("link selection: LAST matching link wins; no-match granule -> null url") {
    import spark.implicits._
    val mk = (rel: String, href: String) => (rel, href)
    val granules = Seq(
      ("G1", Seq(
        mk("http://esipfed.org/ns/fedsearch/1.1/s3#", "s3://a/first.hdr"),
        mk("http://esipfed.org/ns/fedsearch/1.1/metadata#", "s3://a/skip.xml"),
        mk("http://esipfed.org/ns/fedsearch/1.1/s3#", "s3://a/last.hdr"))),
      ("G2", Seq(
        mk("http://esipfed.org/ns/fedsearch/1.1/browse#", "https://a/p.png"))))
      .toDF("id", "raw")
      .withColumn("links", expr(
        "transform(raw, r -> named_struct('rel', r._1, 'href', r._2, " +
          "'type', cast(null as string), 'title', cast(null as string), " +
          "'hreflang', cast(null as string), " +
          "'inherited', cast(null as boolean)))"))
      .drop("raw")
    val objs = Cmr.discover(granules, event(withAssets = false))
      .select("granule_id", "remote_fileurl").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // the reference reassigns file_obj per matching link -> last wins
    assert(objs("G1") == Some("s3://a/last.hdr"))
    // no matching link -> the reference's empty file_obj; here a null
    // url row that the pipeline quarantines downstream
    assert(objs("G2").isEmpty)
  }

  test("cmr discovery link selection: s3# rel wins; mode=stac picks stac.json") {
    val granules = Cmr.granulesFromJson(spark, granulePath)
    val objs = Cmr.discover(granules, event(withAssets = false))
    val urls = objs.select(col("remote_fileurl")).collect().map(_.getString(0))
    assert(urls.toSeq == Seq(sampleAssets("hdr")))
    val none = Cmr.discover(granules,
      event(withAssets = false).copy(mode = Some("stac")))
    // no https .../stac.json links in the fixture, but the reference's
    // `granules_to_insert.append(file_obj)` (handler.py:178) is
    // unconditional and file_obj is never populated in stac mode ->
    // exactly one empty (null-url) record per granule
    assert(none.count() == granules.count())
    assert(none.filter(col("remote_fileurl").isNotNull).count() == 0)
  }
}
