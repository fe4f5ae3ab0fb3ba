package graft.operators

import graft.functions.{Dates, Geo, Ids}
import graft.model.PipelineEvent
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** STAC item assembly — the core product (reference
  * `lambdas/build-stac/utils/stac.py`).
  *
  * Two paths, mirroring the reference's singledispatch on event type
  * (`stac.py:118-123`): [[regexItems]] (RegexEvent: dates from filename
  * regex cascade) and [[cmrItems]] (CmrEvent: geometry/assets/links from
  * CMR granule metadata, joined broadcast-style on granule_id — the S4
  * point lookup becomes a build-side join, never a per-row driver call).
  *
  * Everything is per-row column expressions: no UDFs, no shuffles
  * besides the cmr granule join. */
object StacBuilder {

  // ---------------------------------------------------------------- assets

  /** An asset struct (href, media_type, roles). */
  def asset(href: Column, mediaType: Column, roles: Column): Column =
    struct(href.as("href"), mediaType.as("media_type"), roles.as("roles"))

  /** P7 media-type dispatch `_content_type` (`stac.py:209-215`): map
    * config tries `.ext` then `ext`; scalar config passes through. */
  def contentType(href: Column, ev: PipelineEvent): Column =
    if (ev.assetMediaTypeMap.nonEmpty)
      Ids.extDispatch(href, ev.assetMediaTypeMap, None)
    else ev.assetMediaTypeScalar.map(lit).getOrElse(lit(null: String))

  /** P7 roles dispatch `_roles` (`stac.py:218-224`). */
  def rolesFor(href: Column, ev: PipelineEvent, default: Seq[String]): Column =
    if (ev.assetRolesMap.nonEmpty) {
      val entries = ev.assetRolesMap.toSeq.sortBy(_._1)
      val m = typedlit(entries.toMap)
      coalesce(
        element_at(m, concat(lit("."), Ids.ext(href))),
        element_at(m, Ids.ext(href)),
        typedlit(default))
    } else ev.assetRolesList.map(typedlit(_))
      .getOrElse(typedlit(default))

  /** Right-biased map merge with sorted keys (U1 — reference
    * `dict(sorted((left | right).items()))`, `stac.py:305-315`). Works
    * for any value type; keys unique on each side. */
  def rightBiasedSortedMerge(left: Column, right: Column): Column = {
    val keep = filter(map_entries(left),
      e => !map_contains_key(right, e.getField("key")))
    map_from_entries(sort_array(concat(keep, map_entries(right))))
  }

  private val assetMapType =
    "map<string,struct<href:string,media_type:string,roles:array<string>>>"

  /** Event-configured assets map (`{name → href}` config) as a
    * map<string, asset-struct> (reference `pystac_asset` lambdas,
    * `stac.py:75-86`/`stac.py:309-313`). */
  def eventAssets(ev: PipelineEvent): Column =
    if (ev.assets.isEmpty) lit(null).cast(assetMapType)
    else {
      val entries = ev.assets.toSeq.sortBy(_._1).map { case (name, href) =>
        struct(lit(name).as("key"),
          asset(lit(href), contentType(lit(href), ev),
            rolesFor(lit(href), ev, Seq("data"))).as("value"))
      }
      map_from_entries(array(entries: _*))
    }

  /** Assets from a per-row `{name → href}` map column (e.g. J1 sibling
    * maps) with roles/media dispatched per href. */
  def assetsFromMap(m: Column, ev: PipelineEvent): Column =
    when(m.isNotNull, map_from_entries(sort_array(
      transform(map_entries(m), e => struct(
        e.getField("key").as("key"),
        asset(e.getField("value"),
          contentType(e.getField("value"), ev),
          rolesFor(e.getField("value"), ev, Seq("data"))).as("value"))))))

  // ------------------------------------------------------------ regex path

  /** RegexEvent path (`stac.py:126-161` + `create_item`): dates from
    * event overrides else the F1 cascade; start/end serialized into
    * properties post-widening; default `cog_default` asset (what
    * rio-stac would emit — S5 raster tags are a metadata-only concern
    * here) merged right-biased with event assets and per-row asset maps.
    *
    * Rows where no date can be extracted get `datetime_error = true`
    * (the reference raises; callers route these to the DLQ, T2). */
  /** The start/end/single datetime struct for a file_obj row: event
    * overrides else the F1 cascade over `remote_fileurl`; NULL when no
    * date is extractable (the reference's raise — callers route those
    * rows to retry/DLQ). */
  def datetimes(ev: PipelineEvent): Column =
    (ev.startDatetime, ev.endDatetime, ev.singleDatetime) match {
      case (Some(s), Some(e), _) =>
        struct(lit(s).cast("timestamp").as("start_datetime"),
          lit(e).cast("timestamp").as("end_datetime"),
          lit(null).cast("timestamp").as("single_datetime"))
      case (_, _, Some(si)) =>
        struct(lit(null).cast("timestamp").as("start_datetime"),
          lit(null).cast("timestamp").as("end_datetime"),
          lit(si).cast("timestamp").as("single_datetime"))
      case _ => Dates.extractDates(col("remote_fileurl"), ev.datetimeRange)
    }

  /** RegexEvent path. `keep` names input columns carried through
    * unchanged after the item columns (a per-row stage error the
    * caller splits on). */
  def regexItems(objs: DataFrame, ev: PipelineEvent,
                 keep: Seq[String] = Nil): DataFrame = {
    val url = col("remote_fileurl")
    val dt = datetimes(ev)
    val start = dt.getField("start_datetime")
    val end = dt.getField("end_datetime")
    val single = dt.getField("single_datetime")
    val baseProps = coalesce(col("properties"),
      lit(null).cast("map<string,string>"))
    // start/end are added post-serialization to properties
    // (`stac.py:143-147`), single_datetime is not.
    val rangeProps = map(
      lit("start_datetime"), Dates.stacDatetime(start),
      lit("end_datetime"), Dates.stacDatetime(end))
    // right-biased like the reference's dict update (`stac.py:143-147`):
    // extracted datetimes overwrite pre-existing keys instead of hitting
    // map_concat's duplicate-key exception.
    val props = when(start.isNotNull && end.isNotNull,
        map_concat(
          map_filter(coalesce(baseProps, map()),
            (k, _) => k =!= "start_datetime" && k =!= "end_datetime"),
          rangeProps))
      .otherwise(baseProps)
    // concatenated with an empty map of the event/row asset type, the
    // default asset takes their wider nullability: a merge below that
    // folds away (a null-literal map) then leaves the column's type as
    // analyzed, and a checkpoint of the build (`Runner.run`) keeps its
    // statistics
    val defaultAsset = map_concat(map(
      lit(ev.assetName.getOrElse("cog_default")),
      asset(url,
        coalesce(contentType(url, ev),
          lit("image/tiff; application=geotiff; profile=cloud-optimized")),
        rolesFor(url, ev, Seq("data", "layer")))),
      map().cast(assetMapType))
    val rowAssets = assetsFromMap(col("assets"), ev)
    val evAssets = eventAssets(ev)
    // `dict(stac_record.assets | pystac_assets)` — config/row assets win
    // over the default (`stac.py:75-86`).
    val mergedAssets = Seq(evAssets, rowAssets)
      .foldLeft(defaultAsset) { (acc, a) =>
        when(a.isNotNull, rightBiasedSortedMerge(acc, a)).otherwise(acc)
      }
    objs.select(Seq(
      Ids.itemId(url, ev.idRegex, col("product_id")).as("id"),
      col("collection"),
      single.as("datetime"),
      start.as("start_datetime"),
      end.as("end_datetime"),
      lit(null).cast(graft.model.Schemas.geometry).as("geometry"),
      lit(null).cast("array<double>").as("bbox"),
      props.as("properties"),
      mergedAssets.as("assets"),
      array().cast(
        "array<struct<rel:string,href:string,type:string,title:string>>")
        .as("links"),
      dt.isNull.as("datetime_error")) ++ keep.map(col): _*)
  }

  /** S5 integration (`stac.py:53-114` `with_proj`/`with_raster`): merge
    * projection/raster fields parsed from the file headers
    * ([[graft.sources.GeoTiff.scanMetadata]]) into item properties,
    * right-biased like the reference's property update. Items whose
    * file wasn't raster-readable keep their properties untouched — the
    * reference's metadata-only fallback (`stac.py:88-93`). The join is
    * a keyed equi-join on the data-asset href (same cardinality both
    * sides — one row per file; never broadcast the raster side). */
  def enrichWithRaster(items: DataFrame,
                       raster: org.apache.spark.sql.Dataset[
                         graft.sources.GeoTiff.ScanResult]): DataFrame = {
    val dataHref = coalesce(
      element_at(col("assets"), "data").getField("href"),
      try_element_at(map_values(col("assets")), lit(1)).getField("href"))
    val meta = raster.toDF().filter(col("ok"))
      .select(col("path").as("__rpath"),
        map_filter(map(
          lit("proj:epsg"), col("epsg").cast("string"),
          lit("proj:shape"),
            concat_ws(",", col("height"), col("width")),
          lit("proj:transform"),
            when(col("transform").isNotNull,
              array_join(col("transform"), ",")),
          lit("raster:bits_per_sample"),
            col("bitsPerSample").cast("string"),
          lit("raster:bands"), col("samplesPerPixel").cast("string")),
          (_, v) => v.isNotNull).as("__rprops"))
    items
      .join(meta, dataHref === col("__rpath"), "left")
      .withColumn("properties",
        when(col("__rprops").isNotNull,
          rightBiasedSortedMerge(
            coalesce(col("properties"), map()), col("__rprops")))
          .otherwise(col("properties")))
      .drop("__rpath", "__rprops")
  }

  // -------------------------------------------------------------- cmr path

  /** `from_cmr_links` asset fold (`stac.py:268-317`) as a per-row
    * ordered fold over the links array — preserves the reference's
    * quirks exactly: `endswith("data#")` also matches `metadata#` rels;
    * `data#` is first-wins (U2) while `s3#` overwrites; `browse#`
    * assets are keyed by their href with `thumbnail` roles. */
  /** DDL of the CMR link array (fixture schema, Schemas.cmrGranule). */
  private val linkArrayDdl =
    "array<struct<rel:string,href:string,type:string,title:string," +
      "hreflang:string,inherited:boolean>>"

  def cmrAssets(links: Column, ev: PipelineEvent): Column = {
    val emptyAssets = map().cast(
      "map<string,struct<href:string,media_type:string,roles:array<string>>>")
    aggregate(coalesce(links, array().cast(linkArrayDdl)),
      emptyAssets,
      (acc, l) => {
        val rel = l.getField("rel")
        val href = l.getField("href")
        def mk(defaultRoles: Seq[String], forceRoles: Option[Seq[String]] = None) =
          asset(href,
            coalesce(l.getField("type"), contentType(href, ev)),
            forceRoles.map(typedlit(_)).getOrElse(rolesFor(href, ev, defaultRoles)))
        val afterData = when(
          rel.endsWith("data#") && !map_contains_key(acc, "data"),
          map_concat(acc, map(lit("data"), mk(Seq("data"))))).otherwise(acc)
        val afterS3 = when(rel.endsWith("s3#"),
          map_concat(map_filter(afterData, (k, _) => k =!= "data"),
            map(lit("data"), mk(Seq("data"))))).otherwise(afterData)
        when(rel.endsWith("browse#"),
          map_concat(map_filter(afterS3, (k, _) => k =!= href),
            map(href, mk(Seq("data"), forceRoles = Some(Seq("thumbnail"))))))
          .otherwise(afterS3)
      })
  }

  /** `metadata#`/`documentation#` links (`stac.py:286-301`). */
  def cmrLinks(links: Column): Column =
    transform(
      filter(coalesce(links, array().cast(linkArrayDdl)),
        l => l.getField("rel").endsWith("metadata#") ||
             l.getField("rel").endsWith("documentation#")),
      l => struct(
        when(l.getField("rel").endsWith("metadata#"), "metadata")
          .otherwise("documentation").as("rel"),
        l.getField("href").as("href"),
        l.getField("type").as("type"),
        l.getField("title").as("title")))

  /** CmrEvent path (`stac.py:327-367`): objs (with granule_id) joined to
    * the granule catalog — S4's per-row GranuleQuery point lookup becomes
    * a build-side equi-join (broadcast when the granule set is small).
    * `keep` as in [[regexItems]]. */
  def cmrItems(objs: DataFrame, granules: DataFrame,
               ev: PipelineEvent, keep: Seq[String] = Nil): DataFrame = {
    val g = granules.select(
      col("id").as("granule_id"), col("time_start"),
      col("polygons"), col("boxes"), col("links").as("cmr_links"),
      col("dataset_id"), col("data_center"), col("updated"),
      col("collection_concept_id"))
    val joined = objs.join(g, "granule_id")
    val url = col("remote_fileurl")
    val geometry = Geo.cmrGeometry(col("polygons"), col("boxes"),
      lit(ev.reverseCoords))
    val linkAssets = cmrAssets(col("cmr_links"), ev)
    val rowAssets = assetsFromMap(col("assets"), ev)
    // reference (`stac.py:305-315`): with configured/row assets, drop
    // the duplicate default `data` asset then merge right-biased, sorted.
    val withConfig = coalesce(rowAssets, eventAssets(ev))
    val mergedAssets = when(withConfig.isNotNull,
        rightBiasedSortedMerge(withConfig,
          map_filter(linkAssets, (k, _) => k =!= "data")))
      .otherwise(linkAssets)
    // properties: the granule metadata minus popped keys
    // (`stac.py:341-346`: id→concept_id, title/polygons/boxes/links popped)
    val props = map(
      lit("concept_id"), col("granule_id"),
      lit("dataset_id"), col("dataset_id"),
      lit("data_center"), col("data_center"),
      lit("updated"), col("updated"),
      lit("collection_concept_id"), col("collection_concept_id"),
      lit("time_start"), col("time_start"))
    joined.select(Seq(
      Ids.itemId(url, ev.idRegex, col("product_id")).as("id"),
      col("collection"),
      try_to_timestamp(col("time_start")).as("datetime"),
      lit(null).cast("timestamp").as("start_datetime"),
      lit(null).cast("timestamp").as("end_datetime"),
      geometry.as("geometry"),
      Geo.geometryBbox(geometry).as("bbox"),
      props.as("properties"),
      mergedAssets.as("assets"),
      cmrLinks(col("cmr_links")).as("links"),
      lit(false).as("datetime_error")) ++ keep.map(col): _*)
  }
}
