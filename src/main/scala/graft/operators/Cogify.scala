package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types.{BooleanType, StringType, StructField, StructType}

/** K3/S6/S7/F14/F15 — the cogify stage (reference
  * `lambdas/cogify/handler.py`).
  *
  * What is preserved exactly:
  *  - suffix dispatch: `.he5` → HDF5 conversion path, `.tif` → GeoTIFF
  *    COG translate, anything else is an error row
  *    (`handler.py:233-243` — the reference raises; here the row is
  *    flagged for the quarantine sink, T2)
  *  - per-collection config (`example.ini`): variable_name, group,
  *    x/y coordinate variables, src_crs, affine
  *  - the affine override is a PARSED 6-term tuple — the reference
  *    `eval`s a Python expression (`handler.py:147`), which is exactly
  *    the kind of thing not to port; the term language below covers
  *    every config the reference ships (`(xmin, xres, 0, ymax, 0,
  *    -yres)`)
  *  - output naming `{filename}.tif`, upload target
  *    `{output_dir}/{collection}/{filename}` (`handler.py:216-218`)
  *
  * What is pluggable: the actual raster IO ([[FileTransform]]).
  * [[RasterCogTransform]] converts in the JVM and is what `Runner`
  * runs unless its context names another transform. The
  * conversion is per-file local work inside `mapPartitions`, with no
  * shuffle (SURVEY §2.1/S6). Within one file, [[RasterCogTransform]]'s
  * writer ([[graft.sources.GeoTiffWriter]]) also compresses the tiles
  * in parallel on all of the executor's cores, as the reference's
  * `GDAL_NUM_THREADS=ALL_CPUS` does, so one large raster does not
  * hold the stage on a single task thread. */
object Cogify {

  /** F15 — affine geotransform term language (replaces the eval). */
  sealed trait AffineTerm
  case object Xmin extends AffineTerm
  case object Ymax extends AffineTerm
  case object Xres extends AffineTerm
  case object Yres extends AffineTerm
  case object NegXres extends AffineTerm
  case object NegYres extends AffineTerm
  final case class Const(v: Double) extends AffineTerm

  /** Parse the reference's ini tuple syntax, e.g.
    * `(xmin, xres, 0, ymax, 0, -yres)` → 6 terms. Unknown symbols are
    * rejected at config-load time, not evaluated. */
  def parseAffine(s: String): Seq[AffineTerm] = {
    val terms = s.trim.stripPrefix("(").stripSuffix(")").split(",")
      .map(_.trim.toLowerCase)
    require(terms.length == 6, s"affine needs 6 terms: $s")
    terms.toSeq.map {
      case "xmin" => Xmin
      case "ymax" => Ymax
      case "xres" => Xres
      case "yres" => Yres
      case "-xres" => NegXres
      case "-yres" => NegYres
      case n => Const(java.lang.Double.parseDouble(n))
    }
  }

  /** Evaluate a parsed affine against the grid envelope (the only
    * variables the reference exposes to its eval, `handler.py:143-147`). */
  def evalAffine(terms: Seq[AffineTerm], xmin: Double, ymax: Double,
                 xres: Double, yres: Double): Seq[Double] =
    terms.map {
      case Xmin => xmin
      case Ymax => ymax
      case Xres => xres
      case Yres => yres
      case NegXres => -xres
      case NegYres => -yres
      case Const(v) => v
    }

  /** F14 — ndarray transforms between read and write, keyed per
    * collection like the reference's hard-coded branches
    * (`handler.py:106-110`). Row-major (shape, data) in and out. */
  sealed trait GridOp extends Serializable
  /** `variable[0]`: first plane of a rank-3 array. */
  case object TakeFirstPlane extends GridOp
  /** `np.transpose` of a 2-D array. */
  case object Transpose extends GridOp
  /** `np.flipud`: reverse row order of a 2-D array. */
  case object FlipUd extends GridOp

  def applyGridOps(shape: Seq[Long], data: Array[Float],
                   ops: Seq[GridOp]): (Seq[Long], Array[Float]) =
    ops.foldLeft((shape, data)) { case ((sh, d), op) =>
      op match {
        case TakeFirstPlane =>
          require(sh.size == 3, s"take-first-plane needs rank 3, got $sh")
          (sh.tail, d.slice(0, (sh(1) * sh(2)).toInt))
        case Transpose =>
          require(sh.size == 2, s"transpose needs rank 2, got $sh")
          val h = sh.head.toInt; val w = sh(1).toInt
          val out = new Array[Float](d.length)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { out(x * h + y) = d(y * w + x); x += 1 }
            y += 1
          }
          (Seq(sh(1), sh.head), out)
        case FlipUd =>
          require(sh.size == 2, s"flipud needs rank 2, got $sh")
          val h = sh.head.toInt; val w = sh(1).toInt
          val out = new Array[Float](d.length)
          var y = 0
          while (y < h) {
            System.arraycopy(d, y * w, out, (h - 1 - y) * w, w)
            y += 1
          }
          (sh, out)
      }
    }

  /** Shape half of [[applyGridOps]] — what each op does to
    * `variable.shape` without touching data. The reference reads
    * `variable.shape` AFTER its transpose/flipud branches
    * (`handler.py:106-112`), so anything deriving dims from a
    * configured grid must size through this first. */
  def applyGridOpsShape(shape: Seq[Long], ops: Seq[GridOp]): Seq[Long] =
    ops.foldLeft(shape) { (sh, op) =>
      op match {
        case TakeFirstPlane =>
          require(sh.size == 3, s"take-first-plane needs rank 3, got $sh")
          sh.tail
        case Transpose =>
          require(sh.size == 2, s"transpose needs rank 2, got $sh")
          Seq(sh(1), sh.head)
        case FlipUd =>
          // same rank guard as the data half: a config that sizes here
          // must not be rejected later by applyGridOps on the same input
          require(sh.size == 2, s"flipud needs rank 2, got $sh")
          sh
      }
    }

  /** The reference's per-collection branches (`handler.py:106-110`),
    * expressed as config data instead of code. */
  def referenceGridOps(collection: String): Seq[GridOp] = collection match {
    case "GPM_3IMERGM" => Seq(TakeFirstPlane, Transpose)
    case "OMDOAO3e" => Seq(FlipUd)
    case _ => Nil
  }

  /** Per-collection conversion config (`example.ini` sections). */
  case class CollectionConfig(
      variableName: Option[String] = None,
      group: Option[String] = None,
      xVariable: Option[String] = None,
      yVariable: Option[String] = None,
      srcCrs: Option[String] = None,
      affine: Option[Seq[AffineTerm]] = None,
      outputBucket: String = "",
      outputDir: String = "file-staging",
      gridOps: Seq[GridOp] = Nil)

  /** S6 — derive the conversion grid for a NetCDF/HDF5 input from its
    * header bytes + the collection config: the exact inputs
    * `hdf5_to_cog` computes before reprojection (`handler.py:96-120` —
    * variable shape via group dispatch, `_FillValue`, x/y extent with
    * the global default) plus the evaluated affine override
    * (`handler.py:143-147`: `xres = (xmax-xmin)/width` etc against the
    * parsed 6-term language — never an eval). */
  def netcdfGrid(bytes: Array[Byte], cfg: CollectionConfig)
  : Either[String, (graft.sources.NetCdf.GridInfo, Option[Seq[Double]])] =
    cfg.variableName.toRight("no variable_name configured").flatMap { v =>
      graft.sources.NetCdf.gridInfo(bytes, v, cfg.group, cfg.xVariable,
        cfg.yVariable,
        shapeOp = applyGridOpsShape(_, cfg.gridOps)).map { g =>
        val affine = cfg.affine.map { terms =>
          val xres = (g.xmax - g.xmin) / g.width.toDouble
          val yres = (g.ymax - g.ymin) / g.height.toDouble
          evalAffine(terms, g.xmin, g.ymax, xres, yres)
        }
        (g, affine)
      }
    }

  /** K3 — real COG bytes for a classic-NetCDF input: grid data +
    * envelope from the parsed header ([[netcdfGrid]]), float32 (the
    * CF-unpacked grid is float, whatever the stored type)
    * tiled-deflate output via [[graft.sources.GeoTiffWriter]] (the JVM
    * replacement for the reference's GDAL `cog_translate` deflate
    * profile, `handler.py:151-220`). Georeferencing mirrors
    * `hdf5_to_cog` exactly: geotransform = the EPSG:3857
    * `calculate_default_transform` result ([[graft.sources.Reproject]])
    * unless an affine override is configured, while the CRS tag, dims
    * and pixel data stay in the source grid — the reference writes
    * `crs=src_crs, height=src_height, width=src_width` and never
    * resamples (`handler.py:150-162`). The `.tif` branch
    * ([[tiffToCog]]) correspondingly carries geo tags over unchanged:
    * `geotiff_to_cog` is a pure `cog_translate`, no CRS math
    * (`handler.py:186-220`). */
  def classicNetcdfToCog(bytes: Array[Byte], cfg: CollectionConfig,
                         tileSize: Int = 256)
  : Either[String, Array[Byte]] =
    graft.sources.NetCdf.parse(bytes).flatMap { meta =>
      val name = cfg.variableName.toRight("no variable_name configured")
      name.flatMap { vn =>
        val path = cfg.group.map(gr => s"$gr/$vn").getOrElse(vn)
        meta.vars.find(_.path == path).toRight(s"no variable $path")
          .flatMap { v =>
            // scaled = the reference's auto mask-and-scale read
            // (`src[var][:]`, handler.py:101): CF packed data unpacks
            // via scale_factor/add_offset, fill cells keep the raw
            // fill that becomes the COG's nodata
            graft.sources.NetCdf.readGridScaled(bytes, meta, path)
              .toRight(s"no readable data for $path").flatMap { raw =>
                // F14 ops first; the grid is sized AFTER them, exactly
                // like the reference (`variable.shape` read at
                // handler.py:112, after the transpose/flipud branches)
                val (shape, data) = applyGridOps(v.shape, raw, cfg.gridOps)
                if (shape.size != 2)
                  Left(s"$path is not 2-D after grid ops " +
                    s"(shape ${shape.mkString("x")})")
                else {
                  val h = shape.head.toInt; val w = shape(1).toInt
                  val xe = cfg.xVariable.flatMap(x =>
                    graft.sources.NetCdf.coordExtent(bytes, meta, x))
                  val ye = cfg.yVariable.flatMap(y =>
                    graft.sources.NetCdf.coordExtent(bytes, meta, y))
                  val (xmin, xmax) = xe.getOrElse((-180.0, 180.0))
                  val (ymin, ymax) = ye.getOrElse((-90.0, 90.0))
                  val xres = (xmax - xmin) / w
                  val yres = (ymax - ymin) / h
                  // the reference's georeferencing (handler.py:121-162):
                  // the geotransform is rasterio's EPSG:3857
                  // calculate_default_transform (affine config wins,
                  // handler.py:143-147) while CRS tag, dims and pixels
                  // all stay in the SOURCE grid — it never resamples,
                  // the "warp" is metadata-level; mirrored exactly
                  val srcCrs = cfg.srcCrs
                    .map(graft.sources.Reproject.parseSrcCrs)
                    .getOrElse(Right(graft.sources.Reproject.Geodetic))
                  srcCrs.flatMap { crs =>
                    val transformE = cfg.affine match {
                      case Some(terms) =>
                        Right(evalAffine(terms, xmin, ymax, xres, yres))
                      case None => graft.sources.Reproject
                        .calculateDefaultTransform(crs, w, h,
                          xmin, ymin, xmax, ymax).map(_._1)
                    }
                    transformE.map { transform =>
                      graft.sources.GeoTiffWriter.write(w, h, data,
                        graft.sources.GeoTiffWriter.Geo(transform,
                          epsg = crs.epsg),
                        v.fillValue, tileSize)
                    }
                  }
                }
              }
          }
      }
    }

  /** K3's `.tif` branch: decode a supported GeoTIFF and re-emit it as
    * a 256-block deflate COG, geo tags carried over — `cog_translate`
    * without GDAL. The output keeps the source's sample type (uint8,
    * uint16 or float32; 1 band or 3-band RGB, incl. JPEG browse
    * imagery decoded to uint8), as GDAL does (`handler.py:186-220`);
    * a nodata the type cannot hold is dropped. Unsupported encodings
    * are a `Left` (quarantine), never a silently wrong grid. */
  def tiffToCog(bytes: Array[Byte], tileSize: Int = 256)
  : Either[String, Array[Byte]] =
    graft.sources.GeoTiff.readBands(bytes).map { case (m, bands) =>
      // never FABRICATE georeferencing: a source with no geo tags
      // previously came out claiming WGS84 with an identity transform
      // — invented coordinates that downstream STAC items would
      // present as real. The output now carries geo tags only when
      // the source has BOTH a transform and a CRS (half of one would
      // fabricate the other half); otherwise the COG is written
      // without a geo block, exactly what cog_translate does.
      val geo = for { tr <- m.transform; e <- m.epsg }
        yield graft.sources.GeoTiffWriter.Geo(tr, e,
          epsgIsGeographic = m.epsgIsGeographic)
      // readBands decodes only 1 or 3 bands of the writer's three
      // sample types, so both checks hold before the tile batch
      graft.sources.GeoTiffWriter.writeBands(m.width.toInt,
        m.height.toInt, bands,
        graft.sources.GeoTiffWriter.SampleType(m.bitsPerSample,
          m.sampleFormat), geo, m.nodata, tileSize)
    }

  /** [[FileTransform]] doing the real conversion on both reference
    * dispatch branches (`handler.py:233-243`): `.tif` →
    * [[tiffToCog]] re-tile, anything else → [[classicNetcdfToCog]].
    * Output naming matches the reference: `{stem}.tif`
    * (`handler.py:174`), written to a temp file and moved into place,
    * so a failed write never leaves a truncated COG behind.
    *
    * With `outDir` the COG goes to `{outDir}/{collection}/{stem}.tif`
    * and the input is only read. Without it the COG goes next to the
    * input, which for a `.tif` input replaces the input itself: use
    * that only on a working copy the caller owns, as the reference
    * converts its /tmp download. */
  class RasterCogTransform(tileSize: Int = 256,
                           outDir: Option[String] = None)
    extends FileTransform {
    def toCog(url: String, collection: String,
              config: CollectionConfig): String = {
      val in = java.nio.file.Paths.get(url.stripPrefix("file://"))
      val bytes = java.nio.file.Files.readAllBytes(in)
      val cog = (if (url.endsWith(".tif")) tiffToCog(bytes, tileSize)
                 else classicNetcdfToCog(bytes, config, tileSize))
        .fold(e => throw new IllegalArgumentException(e), identity)
      val stem = in.getFileName.toString.replaceAll("\\.[^.]+$", "")
      val dir = outDir.map(d => java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(d.stripPrefix("file://"), collection)))
        .getOrElse(in.getParent)
      val out = dir.resolve(stem + ".tif")
      // a plain write (not createTempFile) keeps the umask's
      // permissions: the COG is as readable as any other output
      val tmp = dir.resolve(s".$stem.${java.util.UUID.randomUUID}.tmp")
      try {
        java.nio.file.Files.write(tmp, cog)
        java.nio.file.Files.move(tmp, out,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally java.nio.file.Files.deleteIfExists(tmp)
      out.toString
    }
  }

  /** One file conversion: local input → local COG output. Production
    * implementations shell out to GDAL / use JNI; the contract is
    * file-in/file-out so the Spark layer never sees raster bytes. */
  trait FileTransform extends Serializable {
    /** @return local path of the produced COG */
    def toCog(url: String, collection: String,
              config: CollectionConfig): String
  }

  private def outSchema(in: StructType) = StructType(in.fields ++ Seq(
    StructField("cog_error", StringType, nullable = true)))

  /** Run the cogify stage: suffix-dispatch each eligible row through
    * the transform, rewrite `remote_fileurl` to the upload target
    * (`s3://{bucket}/{dir}/{collection}/{file}`), flag unsupported
    * suffixes in `cog_error` for the DLQ. Rows with `cogify=false`
    * pass through untouched. */
  def run(objs: DataFrame, transform: FileTransform,
          configs: Map[String, CollectionConfig],
          defaultConfig: CollectionConfig = CollectionConfig())
  : DataFrame = {
    val schema = objs.schema
    val out = outSchema(schema)
    val urlIdx = schema.fieldIndex("remote_fileurl")
    val colIdx = schema.fieldIndex("collection")
    val cogIdx = schema.fieldIndex("cogify")
    val upIdx = schema.fieldIndex("upload")
    objs.mapPartitions { rows =>
      rows.map { row =>
        val base = row.toSeq
        def pass(err: String) = Row.fromSeq(base :+ err)
        if (row.isNullAt(cogIdx) || !row.getBoolean(cogIdx)) pass(null)
        else {
          val url = row.getString(urlIdx)
          val coll = row.getString(colIdx)
          val cfg = configs.getOrElse(coll, defaultConfig)
          if (!url.endsWith(".he5") && !url.endsWith(".tif"))
            pass(s"File type not supported: $url")
          else {
            val upload = !row.isNullAt(upIdx) && row.getBoolean(upIdx)
            if (upload && cfg.outputBucket.isEmpty)
              // an absent collection config would otherwise build a
              // malformed "s3:///..." target that only fails later at
              // upload time with no hint of the real cause
              pass(s"no output bucket configured for collection $coll")
            else
              // one bad file must land in cog_error (the quarantine
              // contract this file documents), never fail the task
              // 4x and abort the whole job
              try {
                val local = transform.toCog(url, coll, cfg)
                val newUrl =
                  if (upload) {
                    val name = local.split('/').last
                    s"s3://${cfg.outputBucket}/${cfg.outputDir}/$coll/$name"
                  } else local
                Row.fromSeq(base.updated(urlIdx, newUrl) :+ (null: String))
              } catch {
                case scala.util.control.NonFatal(e) =>
                  pass(s"cogify failed: ${e.getMessage}")
              }
          }
        }
      }
    }(RowEncoder.encoderFor(out))
    .toDF(out.fieldNames.toIndexedSeq: _*)
  }
}
