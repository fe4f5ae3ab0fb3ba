package graftbench

import graft.functions.Dates
import graft.model.PipelineEvent
import graft.operators.{Cogify, Publish, StacBuilder}
import graft.pipeline.Runner
import graft.sources.{GeoTiff, NetCdfFixtures, RasterFixtures}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.immutable.ArraySeq
import scala.util.Random

/** cogify_rasters — the per-byte codec layer: every request converts an
  * inventory of rasters to cloud-optimized GeoTIFFs and builds their
  * items with raster metadata.
  *
  * Closed loop, one client. One request is 12 files listed in a 4-part
  * CSV inventory: 8 strip GeoTIFFs (uint8, deflate / LZW / PackBits), 2
  * classic NetCDF grids, 1 straggler with over ten times the pixels
  * of the others, and 1 corrupt file that must land in `cog_error`.
  *
  * `Runner.run` with `cogify = true` chains `Runner.discover`,
  * `Cogify.run` and `StacBuilder.regexItems`, and drops `cog_error` on
  * the way. The request calls those three stages itself so the error rows
  * stay visible, materializes the converted rows once (the conversion
  * writes files), and then runs `StacBuilder.enrichWithRaster` over a
  * `GeoTiff.scanMetadata` of the outputs and `Publish.toCatalog`.
  * Conversion overwrites its `.tif` inputs in place, so the inputs are
  * copied into a fresh directory before each request, untimed. */
final class CogifyRasters(seed: Long, work: Path) extends ClosedLoop {
  import CogifyRasters._

  private val rnd = new Random(seed)
  private val srcDir = work.resolve("in/rasters")
  private val reqDir = work.resolve("req/rasters")
  private val invDir = work.resolve("in/inventory")
  private val catDir = work.resolve("out/catalog")
  private val qDir = work.resolve("out/quarantine")

  /** One input file; `pixels` is None for the corrupt one. */
  final case class Raster(name: String, width: Int, height: Int,
                          pixels: Option[Array[Float]]) {
    def reqPath: Path = reqDir.resolve(name)
    def url: String = "file://" + reqPath
    def outPath: Path = reqDir.resolve(Truth.stem(name) + ".tif")
  }

  private val rasters: Seq[Raster] = generate()

  private def generate(): Seq[Raster] = {
    def pattern(w: Int, h: Int): Array[Int] = {
      val (a, b) = (1 + rnd.nextInt(7), 1 + rnd.nextInt(7))
      Array.tabulate(w * h)(i => ((i % w) * a + (i / w) * b + rnd.nextInt(9)) & 0xFF)
    }
    val codecs = Seq[(Int, Array[Byte] => Array[Byte])](
      8 -> RasterFixtures.deflate, 5 -> RasterFixtures.lzwEncodeNaive,
      32773 -> RasterFixtures.packBitsEncode)
    def tiff(k: Int, w: Int, h: Int, codec: Int): Raster = {
      val px = pattern(w, h)
      val (code, enc) = codecs(codec)
      val name = s"cog$k${Truth.dateToken(rnd, k)}.tif"
      Fs.write(srcDir.resolve(name), RasterFixtures.stripTiffEncoded(w, h,
        ArraySeq.unsafeWrapArray(px), rowsPerStrip = 16, compression = code,
        encode = enc))
      Raster(name, w, h, Some(px.map(_.toFloat)))
    }
    def netcdf(k: Int, w: Int, h: Int): Raster = {
      val px = Array.tabulate(w * h)(i => ((i * 7 + k) % 1000) * 0.25f)
      val name = s"grid$k${Truth.dateToken(rnd, k)}.he5"
      Fs.write(srcDir.resolve(name), NetCdfFixtures.classic(
        dims = Seq("lat" -> h, "lon" -> w),
        vars = Seq(
          NetCdfFixtures.CVar("lat", Seq("lat"), 6,
            (0 until h).map(i => -60.0 + 120.0 * i / (h - 1))),
          NetCdfFixtures.CVar("lon", Seq("lon"), 6,
            (0 until w).map(i => -180.0 + 360.0 * i / (w - 1))),
          NetCdfFixtures.CVar("precip", Seq("lat", "lon"), 5,
            ArraySeq.unsafeWrapArray(px.map(_.toDouble)),
            attrs = Seq("_FillValue" -> Right(Seq(-9999.0)))))))
      Raster(name, w, h, Some(px))
    }
    // sizes and order are fixed so every seed does the same work; the
    // seed draws pixels, names and dates
    val small = Seq((420, 300), (260, 180), (500, 380), (340, 240), (200, 140),
      (460, 320), (300, 220), (380, 260)).zipWithIndex.map { case ((w, h), k) =>
      tiff(k, w, h, k % 3)
    }
    val grids = Seq(netcdf(8, 240, 120), netcdf(9, 280, 140))
    val straggler = tiff(10, 1200, 1100, 0)
    val corruptName = s"cog11${Truth.dateToken(rnd, 11)}.tif"
    // a TIFF header whose first IFD lies past the end of the file
    Fs.write(srcDir.resolve(corruptName), Array[Byte]('I', 'I', 42, 0, 0, 0, 1, 0) ++
      Array.fill[Byte](64)(rnd.nextInt(256).toByte))
    val all = small ++ grids :+ straggler :+ Raster(corruptName, 0, 0, None)
    all.grouped(3).zipWithIndex.foreach { case (part, j) =>
      Fs.write(invDir.resolve(s"part-$j.csv"),
        ("s3_path" +: part.map(_.url)).mkString("", "\n", "\n"))
    }
    all
  }

  private val ev = PipelineEvent(collection = "bench_cog",
    inventoryUrl = Some(invDir.toString), cogify = true)
  private val configs = Map("bench_cog" -> Cogify.CollectionConfig(
    variableName = Some("precip"), xVariable = Some("lon"), yVariable = Some("lat")))

  val cycle = 1
  def kind(i: Int): String = "cogify"
  def rows(i: Int): Long = rasters.size
  // the JIT is still speeding requests up after two (measured: the
  // first timed request ~30% slower than the last at two warm-ups)
  override def warmUpRequests: Seq[Int] = 0 until 6

  def prepare(spark: SparkSession, i: Int): Unit = {
    Fs.delete(catDir)
    Fs.delete(qDir)
    Fs.reset(reqDir)
    rasters.foreach(r => Files.copy(srcDir.resolve(r.name), r.reqPath))
  }

  /** COG outputs as `GeoTiff.scanMetadata` sees them, keyed by the plain
    * local path the conversion returns. */
  private def rasterScan(spark: SparkSession) =
    GeoTiff.scanMetadata(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tif").load(reqDir.toString)
      .withColumn("path", regexp_replace(col("path"), "^file:", "")))

  private def publish(items: DataFrame, failed: DataFrame): Unit = {
    Publish.toCatalog(items, catDir.toString)
    failed.write.mode(SaveMode.Append).json(qDir.toString)
  }

  def run(spark: SparkSession, i: Int, tracer: Option[Tracer]): Unit =
    tracer match {
      case None =>
        val cog = Cogify.run(Runner.discover(spark, ev),
          new Cogify.RasterCogTransform(), configs).localCheckpoint()
        val items = StacBuilder.regexItems(cog.filter(col("cog_error").isNull)
          .drop("cog_error"), ev)
        publish(StacBuilder.enrichWithRaster(
          items.filter(!col("datetime_error")).drop("datetime_error"),
          rasterScan(spark)), cog.filter(col("cog_error").isNotNull))
      case Some(t) =>
        t.span("pipeline.plan") {
          Runner.run(spark, ev, Runner.RunContext(
            cogifyTransform = new Cogify.RasterCogTransform(),
            cogifyConfigs = configs)).items.queryExecution.executedPlan
        }
        val objs = t.span("sources.discover") {
          Runner.discover(spark, ev).localCheckpoint()
        }
        t.record("sources.rows_listed", objs.count().toDouble)
        val cog = t.span("operators.cogify") {
          Cogify.run(objs, new TimedTransform(new Cogify.RasterCogTransform()),
            configs).localCheckpoint()
        }
        val files = Iterator.continually(CogTimes.poll()).takeWhile(_ != null).toSeq
        t.record("operators.cogify_file_ms_p50", Stats.median(files.map(_._1)))
        val converted = files.filter(_._3 > 0)
        t.record("operators.cogify_out_in_bytes",
          converted.map(_._3).sum.toDouble / math.max(1L, converted.map(_._2).sum))
        val failed = cog.filter(col("cog_error").isNotNull)
        t.record("operators.cogify_errors", failed.count().toDouble)
        val ok = cog.filter(col("cog_error").isNull).drop("cog_error")
        t.span("expr.extract_dates", probe = true) {
          ok.select(Dates.extractDates(col("remote_fileurl"), ev.datetimeRange))
            .write.format("noop").mode(SaveMode.Overwrite).save()
        }
        val items = t.span("operators.stac_build") {
          StacBuilder.regexItems(ok, ev).localCheckpoint()
        }
        val enriched = t.span("operators.enrich") {
          StacBuilder.enrichWithRaster(
            items.filter(!col("datetime_error")).drop("datetime_error"),
            rasterScan(spark)).localCheckpoint()
        }
        t.span("operators.publish")(publish(enriched, failed))
        t.record("operators.files_written",
          (Fs.count(catDir, ".parquet") + Fs.count(qDir, ".json")).toDouble)
    }

  /** Every output re-parses as a 256x256-tiled GeoTIFF whose pixels equal
    * the input's; items carry the dates and `proj:shape`; the corrupt
    * file, and only it, is in `cog_error`. */
  def check(spark: SparkSession, i: Int): Boolean = {
    val got = spark.read.parquet(catDir.toString).select(col("id"),
      col("datetime"), col("start_datetime"), col("end_datetime"),
      element_at(col("properties"), "proj:shape"),
      element_at(col("assets"), "cog_default").getField("href")).collect()
      .map(r => r.getString(0) -> r).toMap
    val good = rasters.filter(_.pixels.isDefined)
    val want = good.map(r => Truth.stem(r.name) ->
      (Truth.dates(r.outPath.toString, None), s"${r.height},${r.width}",
        r.outPath.toString)).toMap
    val have = got.map { case (id, r) => id ->
      (Some(Truth.Dates(Option(r.getTimestamp(2)).map(_.getTime),
        Option(r.getTimestamp(3)).map(_.getTime),
        Option(r.getTimestamp(1)).map(_.getTime))),
        r.getString(4), r.getString(5))
    }
    val pixelsOk = good.forall { r =>
      val bytes = Files.readAllBytes(r.outPath)
      val tiled = GeoTiff.parse(bytes).exists(m =>
        m.tileWidth.contains(256L) && m.tileHeight.contains(256L) &&
          m.width == r.width && m.height == r.height)
      val same = GeoTiff.readSamples(bytes).exists { case (_, px) =>
        java.util.Arrays.equals(px, r.pixels.get)
      }
      if (!(tiled && same))
        System.err.println(s"[graftbench] ${r.name}: tiled=$tiled pixels=$same")
      tiled && same
    }
    val errors = spark.read.json(qDir.toString)
      .filter(col("cog_error").isNotNull).select("remote_fileurl")
      .collect().map(_.getString(0)).toSet
    Truth.same("cogify items", have, want) & pixelsOk &
      Truth.same("cog_error rows", errors,
        rasters.filter(_.pixels.isEmpty).map(_.url).toSet)
  }
}

object CogifyRasters {
  /** (ms, input bytes, output bytes) per converted file, filled by the
    * traced run's transform inside the local executor threads. */
  val CogTimes = new ConcurrentLinkedQueue[(Double, Long, Long)]()

  final class TimedTransform(inner: Cogify.FileTransform) extends Cogify.FileTransform {
    def toCog(url: String, collection: String, config: Cogify.CollectionConfig): String = {
      val inBytes = Files.size(Paths.get(url.stripPrefix("file://")))
      val t0 = System.nanoTime()
      try {
        val out = inner.toCog(url, collection, config)
        CogTimes.add(((System.nanoTime() - t0) / 1e6, inBytes, Files.size(Paths.get(out))))
        out
      } catch {
        case e: Throwable =>
          CogTimes.add(((System.nanoTime() - t0) / 1e6, inBytes, 0L))
          throw e
      }
    }
  }
}
