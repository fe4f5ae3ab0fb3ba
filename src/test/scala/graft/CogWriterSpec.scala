package graft

import graft.operators.Cogify
import graft.sources.{GeoTiff, GeoTiffWriter, NetCdfFixtures}
import org.apache.spark.sql.functions._
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

/** K3 — the JVM tiled-COG writer round-trips through the S5 parser:
  * writer and parser are independent implementations of the TIFF +
  * GeoTIFF specs, so agreement pins both. */
class CogWriterSpec extends SparkSuite {
  import spark.implicits._

  /** Level-0 tile payloads of one of the writer's (little-endian) COGs,
    * located through IFD 0's TileOffsets/TileByteCounts (324/325). */
  private def level0Tiles(cog: Array[Byte]): Seq[Array[Byte]] = {
    val buf = ByteBuffer.wrap(cog).order(ByteOrder.LITTLE_ENDIAN)
    val nEntries = buf.getShort(8) & 0xFFFF
    def tag(t: Int): (Int, Int) = (0 until nEntries).collectFirst {
      case i if (buf.getShort(10 + i * 12) & 0xFFFF) == t =>
        (buf.getInt(10 + i * 12 + 4), buf.getInt(10 + i * 12 + 8))
    }.get
    val (n, offs) = tag(324)
    val (_, cnts) = tag(325)
    if (n == 1) Seq(cog.slice(offs, offs + cnts))
    else (0 until n).map { i =>
      val o = buf.getInt(offs + 4 * i)
      cog.slice(o, o + buf.getInt(cnts + 4 * i))
    }
  }

  /** Inflate one single-band COG tile and decode its samples by sample
    * width (uint8, uint16 or float32; little-endian). The inflated
    * payload must be exactly one tile of that type. */
  private def inflateTile(compressed: Array[Byte], tileSize: Int,
                          sample: GeoTiffWriter.SampleType): Array[Float] = {
    val raw = new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(compressed)).readAllBytes()
    val n = tileSize * tileSize
    assert(raw.length == n * sample.bits / 8,
      s"${raw.length} bytes inflated for a $tileSize tile of $sample")
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    sample.bits match {
      case 8 => Array.tabulate(n)(i => (raw(i) & 0xFF).toFloat)
      case 16 => Array.tabulate(n)(i => (bb.getShort(2 * i) & 0xFFFF).toFloat)
      case _ => Array.tabulate(n)(i => bb.getFloat(4 * i))
    }
  }

  /** `tiff` with a GDAL_NODATA entry added to IFD 0: the IFD is copied
    * to the end of the file with one more entry (tag 42113 sorts last)
    * and the header points at the copy; every other offset stays
    * valid. Classic TIFF in either byte order. */
  private def withNodata(tiff: Array[Byte], nodata: String): Array[Byte] = {
    val order =
      if (tiff(0) == 'I') ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    val in = ByteBuffer.wrap(tiff).order(order)
    val ifd = in.getInt(4)
    val n = in.getShort(ifd) & 0xFFFF
    val ascii = nodata.getBytes("US-ASCII") :+ 0.toByte
    val strOff = (tiff.length + 1) / 2 * 2
    val newIfd = (strOff + ascii.length + 1) / 2 * 2
    val out = ByteBuffer.allocate(newIfd + 2 + (n + 1) * 12 + 4).order(order)
    out.put(tiff)
    out.putInt(4, newIfd)
    out.putShort(newIfd, (n + 1).toShort)
    out.position(newIfd + 2)
    out.put(tiff, ifd + 2, n * 12)
    val e = newIfd + 2 + n * 12
    out.putShort(e, 42113.toShort).putShort(e + 2, 2.toShort)
      .putInt(e + 4, ascii.length)
    // TIFF 6.0: a value of <= 4 bytes lives inline in the value slot
    if (ascii.length <= 4) out.position(e + 8)
    else { out.putInt(e + 8, strOff); out.position(strOff) }
    out.put(ascii)
    out.putInt(e + 12, in.getInt(ifd + 2 + n * 12)) // next-IFD pointer
    out.array()
  }

  test("tiled float32 deflate COG round-trips through GeoTiff.parse") {
    val w = 300; val h = 200
    val data = Array.tabulate(w * h)(i => (i % 97).toFloat / 3f)
    val geo = GeoTiffWriter.Geo(Seq(-180.0, 0.25, 0.0, 90.0, 0.0, -0.25))
    val bytes = GeoTiffWriter.write(w, h, data, geo,
      fill = Some(-9999.0), tileSize = 256)
    val m = GeoTiff.parse(bytes).fold(e => fail(e), identity)
    assert(m.width == 300 && m.height == 200)
    assert(m.bitsPerSample == 32 && m.samplesPerPixel == 1)
    assert(m.tileWidth.contains(256L) && m.tileHeight.contains(256L))
    assert(m.epsg.contains(4326))
    assert(m.transform.contains(Seq(-180.0, 0.25, 0.0, 90.0, 0.0, -0.25)))
    assert(m.nodata.contains(-9999.0)) // out-of-line ASCII (6 bytes)
  }

  test("GDAL_NODATA round-trips inline (short) and out-of-line (long)") {
    def writeWith(fill: Double): GeoTiff.RasterMeta = {
      val b = GeoTiffWriter.write(4, 3, Array.fill(12)(1f),
        GeoTiffWriter.Geo(Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0)),
        fill = Some(fill), tileSize = 256)
      GeoTiff.parse(b).fold(e => fail(e), identity)
    }
    // "0" + NUL = 2 bytes -> MUST be inline per TIFF 6.0
    assert(writeWith(0.0).nodata.contains(0.0))
    assert(writeWith(-5.0).nodata.contains(-5.0)) // 3 bytes inline
    assert(writeWith(-9999.5).nodata.contains(-9999.5)) // 8 bytes offset
    // and the .tif re-tile branch carries it over
    val src = GeoTiffWriter.write(4, 3, Array.fill(12)(1f),
      GeoTiffWriter.Geo(Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0)),
      fill = Some(-7.0))
    val cog = Cogify.tiffToCog(src).fold(e => fail(e), identity)
    assert(GeoTiff.parse(cog).toOption.get.nodata.contains(-7.0))
  }

  test("truncated DEFLATE data errors (quarantine), never hangs") {
    val bytes = GeoTiffWriter.write(64, 64,
      Array.tabulate(64 * 64)(_.toFloat),
      GeoTiffWriter.Geo(Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0)))
    // cut the file mid-tile: slice clamps, deflate stream truncates
    val cut = bytes.slice(0, bytes.length - bytes.length / 4)
    assert(GeoTiff.readSamples(cut).isLeft)
    intercept[java.io.IOException] {
      GeoTiffWriter.inflateFully(Array[Byte](0x78, 0x9c.toByte), 64 * 64 * 4)
    }
  }

  test("tile contents: deflate payload inflates to the source samples") {
    val w = 300; val h = 200
    // every sample width, with a nodata the type holds: edges pad with it
    for ((st, mod, fill) <- Seq((GeoTiffWriter.Float32, Int.MaxValue, -5.0),
                                (GeoTiffWriter.UInt16, 65536, 65535.0),
                                (GeoTiffWriter.UInt8, 256, 255.0))) {
      val data = Array.tabulate(w * h)(i => (i % mod).toFloat)
      val bytes = GeoTiffWriter.writeBands(w, h, Array(data), st,
        Some(GeoTiffWriter.Geo(Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0))),
        fill = Some(fill), tileSize = 256)
      // tile grid is 2 across x 1 down; offsets/counts live in the IFD
      val tiles = level0Tiles(bytes)
      assert(tiles.size == 2, s"$st")
      val s0 = inflateTile(tiles(0), 256, st)
      assert(s0(0) == data(0), s"$st")          // (0,0)
      assert(s0(255) == data(255), s"$st")      // (0,255)
      assert(s0(256) == data(300), s"$st")      // (1,0) = second source row
      assert(s0(200 * 256) == fill.toFloat, s"$st") // past height 200
      val s1 = inflateTile(tiles(1), 256, st)
      assert(s1(0) == data(256), s"$st")        // (0,256) in source
      assert(s1(43) == data(299) && s1(44) == fill.toFloat,
        s"$st") // past width 300 -> fill
    }
  }

  test("classic NetCDF -> COG: envelope, fill, and data all carried") {
    val cfg = Cogify.CollectionConfig(variableName = Some("precip"),
      xVariable = Some("lon"), yVariable = Some("lat"))
    val cog = Cogify.classicNetcdfToCog(NetCdfFixtures.classicGrid(), cfg)
      .fold(e => fail(e), identity)
    val m = GeoTiff.parse(cog).fold(e => fail(e), identity)
    // the reference's georeferencing (handler.py:150-162): SOURCE dims
    // + SOURCE crs tag, but the geotransform is the EPSG:3857
    // calculate_default_transform over the (-120,-30)..(120,30)
    // envelope — pinned from the published formulas (ReprojectSpec)
    assert(m.width == 6 && m.height == 4)
    assert(m.epsg.contains(4326))
    val t = m.transform.get
    assert(math.abs(t(0) - -13358338.895192828) < 1e-3)
    assert(math.abs(t(1) - 3830244.8158825915) < 1e-3)
    assert(math.abs(t(3) - 3503549.843504374) < 1e-3)
    assert(math.abs(t(5) - -3830244.8158825915) < 1e-3)
  }

  test("classic NetCDF -> COG: affine override pins the source-grid " +
    "transform; UTM src_crs tags its EPSG") {
    // affine config wins over the default transform (handler.py:143-147)
    val cfg = Cogify.CollectionConfig(variableName = Some("precip"),
      xVariable = Some("lon"), yVariable = Some("lat"),
      affine = Some(Cogify.parseAffine("(xmin, xres, 0, ymax, 0, -yres)")))
    val cog = Cogify.classicNetcdfToCog(NetCdfFixtures.classicGrid(), cfg)
      .fold(e => fail(e), identity)
    val m = GeoTiff.parse(cog).fold(e => fail(e), identity)
    assert(m.transform.contains(Seq(-120.0, 40.0, 0.0, 30.0, 0.0, -15.0)))
    assert(m.epsg.contains(4326))
    // src_crs flows to the CRS tag (crs=src_crs, handler.py:157);
    // "+zone=32S" resolves to zone 32 north (PROJ atoi parity) so the
    // tag is 32632, and +south gives the 327xx code
    val cfgUtm = Cogify.CollectionConfig(variableName = Some("precip"),
      xVariable = Some("lon"), yVariable = Some("lat"),
      srcCrs = Some("+proj=utm +zone=32S +datum=WGS84"))
    val cogUtm = Cogify.classicNetcdfToCog(NetCdfFixtures.classicGrid(),
      cfgUtm).fold(e => fail(e), identity)
    val mU = GeoTiff.parse(cogUtm).fold(e => fail(e), identity)
    assert(mU.epsg.contains(32632))
    // +south tags the 327xx code; affine override here because the
    // fixture's coords read as southern-UTM northings sit at ~90degS
    // where the default-transform sampling correctly fails
    val cfgUtmS = cfgUtm.copy(
      srcCrs = Some("+proj=utm +zone=32 +south +datum=WGS84"),
      affine = Some(Cogify.parseAffine("(xmin, xres, 0, ymax, 0, -yres)")))
    val cogUtmS = Cogify.classicNetcdfToCog(NetCdfFixtures.classicGrid(),
      cfgUtmS).fold(e => fail(e), identity)
    val mUS = GeoTiff.parse(cogUtmS).fold(e => fail(e), identity)
    assert(mUS.epsg.contains(32732))
    // a bad src_crs is a config error (quarantine), not a wrong grid
    assert(Cogify.classicNetcdfToCog(NetCdfFixtures.classicGrid(),
      cfg.copy(affine = None, srcCrs = Some("+proj=sinu"))).isLeft)
  }

  test("readSamples round-trips the writer's own multi-tile output") {
    val w = 300; val h = 200
    val data = Array.tabulate(w * h)(i => ((i * 7) % 1001).toFloat / 7f)
    val bytes = GeoTiffWriter.write(w, h, data,
      GeoTiffWriter.Geo(Seq(-10.0, 0.5, 0.0, 40.0, 0.0, -0.5)),
      fill = Some(-1.0), tileSize = 256)
    val (m, decoded) = GeoTiff.readSamples(bytes).fold(e => fail(e), identity)
    assert(m.width == w && m.height == h)
    assert(decoded.toSeq == data.toSeq) // bit-exact, padding clipped
  }

  test("readSamples decodes plain stripped uint8 TIFFs; rejects others") {
    import graft.sources.RasterFixtures
    val vals = 0 until 20 // 5x4
    val tiff = RasterFixtures.stripTiff(5, 4, vals, rowsPerStrip = 3)
    val (m, decoded) = GeoTiff.readSamples(tiff).fold(e => fail(e), identity)
    assert(m.width == 5 && m.height == 4)
    assert(decoded.toSeq == vals.map(_.toFloat))
    // compression=7 tag over NON-JPEG strip bytes -> corrupt-stream
    // Left (quarantine), never a silently wrong grid
    val jpeg = RasterFixtures.stripTiff(5, 4, vals, compression = 7)
    assert(GeoTiff.readSamples(jpeg).isLeft)
    // a still-unsupported compression id quarantines by tag alone
    val ccitt = RasterFixtures.stripTiff(5, 4, vals, compression = 4)
    assert(GeoTiff.readSamples(ccitt).left.exists(_.contains("compression")))
    // compression=5 tag over NON-LZW strip bytes -> corrupt-stream
    // Left (quarantine), never a silently wrong grid
    val badLzw = RasterFixtures.stripTiff(5, 4, vals, compression = 5)
    assert(GeoTiff.readSamples(badLzw).isLeft)
  }

  /** Independent LZW/PackBits encoder: the JDK's ImageIO TIFF writer
    * (present since Java 9) — agreement between its compressor and
    * this parser's decoder pins both against TIFF 6.0. */
  private def imageioTiff(px: Seq[Int], w: Int, h: Int,
                          compression: String,
                          sixteenBit: Boolean = false): Array[Byte] = {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(w, h,
      if (sixteenBit) BufferedImage.TYPE_USHORT_GRAY
      else BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    for (y <- 0 until h; x <- 0 until w)
      raster.setSample(x, y, 0, px(y * w + x))
    imageioWrite(img, compression)
  }

  /** `img` as a TIFF from the JDK ImageIO writer, explicit compression. */
  private def imageioWrite(img: java.awt.image.RenderedImage,
                           compression: String): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    val writer = ImageIO.getImageWritersByFormatName("TIFF").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType(compression)
    if (compression == "JPEG") param.setCompressionQuality(1.0f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("LZW strips (JDK-encoded) decode; round-trip to a deflate COG") {
    val w = 37; val h = 23 // odd sizes: exercise partial strips
    val px = Seq.tabulate(w * h)(i => (i * 7 + i / w * 3) % 256)
    val tiff = imageioTiff(px, w, h, "LZW")
    val (m, decoded) = GeoTiff.readSamples(tiff).fold(e => fail(e), identity)
    assert(m.width == w && m.height == h)
    assert(decoded.toSeq == px.map(_.toFloat))
    // decode → deflate-COG write → independent re-parse
    val cog = Cogify.tiffToCog(tiff).fold(e => fail(e), identity)
    val (mc, again) = GeoTiff.readSamples(cog).fold(e => fail(e), identity)
    assert(mc.tileWidth.contains(256L))
    assert(again.toSeq == px.map(_.toFloat))
  }

  test("LZW 16-bit strips decode (dictionary growth past 9-bit codes)") {
    val w = 96; val h = 64 // enough data to push the code width up
    val px = Seq.tabulate(w * h)(i => (i * 257) % 65536)
    val tiff = imageioTiff(px, w, h, "LZW", sixteenBit = true)
    val (m, decoded) = GeoTiff.readSamples(tiff).fold(e => fail(e), identity)
    assert(m.bitsPerSample == 16)
    assert(decoded.toSeq == px.map(_.toFloat))
  }

  test("PackBits strips (JDK-encoded) decode exactly") {
    val w = 41; val h = 17
    // long runs + literal stretches: both PackBits opcodes
    val px = Seq.tabulate(w * h)(i => if ((i / w) % 2 == 0) 200 else i % 256)
    val tiff = imageioTiff(px, w, h, "PackBits")
    val (_, decoded) = GeoTiff.readSamples(tiff).fold(e => fail(e), identity)
    assert(decoded.toSeq == px.map(_.toFloat))
  }

  test("JPEG strips (shared JPEGTables) decode; round-trip to deflate COG") {
    val w = 40; val h = 25 // multi-strip with a partial edge strip
    // smooth gradient: max-quality grayscale JPEG stays within a few
    // counts of the source (JPEG is lossy — tolerance, not equality)
    val px = IndexedSeq.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (x * 255 / (w - 1) + y * 255 / (h - 1)) / 2
    }
    val tiff = graft.sources.RasterFixtures.stripTiffJpeg(
      w, h, px, rowsPerStrip = 8, sharedTables = true)
    val (m, decoded) = GeoTiff.readSamples(tiff).fold(e => fail(e), identity)
    assert(m.width == w && m.height == h)
    val maxErr = decoded.toSeq.zip(px).map { case (d, p) =>
      math.abs(d - p) }.max
    assert(maxErr <= 3.0f, s"JPEG error $maxErr exceeds tolerance")
    // decode → deflate-COG write → independent re-parse: the COG is
    // lossless over the decoded samples, so this leg is bit-exact
    val cog = Cogify.tiffToCog(tiff).fold(e => fail(e), identity)
    val (mc, again) = GeoTiff.readSamples(cog).fold(e => fail(e), identity)
    assert(mc.tileWidth.contains(256L))
    assert(again.toSeq == decoded.toSeq)
  }

  test("JPEG interchange strips decode identically to shared-tables") {
    val w = 31; val h = 19
    val px = IndexedSeq.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (x * 255 / (w - 1) + y * 255 / (h - 1)) / 2
    }
    val shared = GeoTiff.readSamples(graft.sources.RasterFixtures
      .stripTiffJpeg(w, h, px, rowsPerStrip = 7, sharedTables = true))
      .fold(e => fail(e), identity)._2
    val plain = GeoTiff.readSamples(graft.sources.RasterFixtures
      .stripTiffJpeg(w, h, px, rowsPerStrip = 7, sharedTables = false))
      .fold(e => fail(e), identity)._2
    // same pixels through both layouts: the tables-merge path must be
    // byte-equivalent to decoding the self-contained streams
    assert(shared.toSeq == plain.toSeq)
  }

  test("JPEG TIFFs from the INDEPENDENT JDK TIFF writer decode") {
    // the JDK ImageIO TIFF plugin writing compressionType "JPEG"
    // produces its own new-style-JPEG layout (its choice of strip
    // geometry and tables placement) — agreement with this parser
    // pins the reader against an encoder it shares no code with
    val w = 48; val h = 32
    val px = Seq.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (x * 255 / (w - 1) + y * 255 / (h - 1)) / 2
    }
    val tiff = imageioTiff(px, w, h, "JPEG")
    val (m, decoded) = GeoTiff.readSamples(tiff).fold(e => fail(e), identity)
    assert(m.width == w && m.height == h)
    val maxErr = decoded.toSeq.zip(px).map { case (d, p) =>
      math.abs(d - p) }.max
    assert(maxErr <= 3.0f, s"JPEG error $maxErr exceeds tolerance")
  }

  test("JPEG with unsupported sample type quarantines") {
    // compression 7 claimed over 16-bit samples: reject, never decode
    val w = 8; val h = 4
    val px = IndexedSeq.tabulate(w * h)(identity)
    val tiff = graft.sources.RasterFixtures.stripTiffJpeg(
      w, h, px, rowsPerStrip = 4, sharedTables = false)
    // patch BitsPerSample (tag 258, third IFD entry) from 8 to 16
    val buf = java.nio.ByteBuffer.wrap(tiff)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val e258 = 10 + 2 * 12
    assert((buf.getShort(e258) & 0xFFFF) == 258)
    buf.putShort(e258 + 8, 16)
    assert(GeoTiff.readSamples(tiff).isLeft)
  }

  /** RGB twin of [[imageioTiff]]: the JDK TIFF writer's own choice of
    * multi-band layout (chunky, photometric 2 — or YCbCr 6 under
    * JPEG), an encoder this parser shares no code with. */
  private def imageioTiffRgb(rgb: Seq[Int], w: Int, h: Int,
                             compression: String): Array[Byte] = {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      img.setRGB(x, y, (rgb(p) << 16) | (rgb(p + 1) << 8) | rgb(p + 2))
    }
    imageioWrite(img, compression)
  }

  /** 16-bit twin of [[imageioTiffRgb]]: an sRGB image of three ushort
    * samples per pixel, which the JDK writer stores as 16-bit chunky
    * RGB (photometric 2). */
  private def imageioTiffRgb16(rgb: Seq[Int], w: Int, h: Int,
                               compression: String): Array[Byte] = {
    import java.awt.Transparency
    import java.awt.color.ColorSpace
    import java.awt.image.{BufferedImage, ComponentColorModel, DataBuffer}
    val cm = new ComponentColorModel(ColorSpace.getInstance(ColorSpace.CS_sRGB),
      false, false, Transparency.OPAQUE, DataBuffer.TYPE_USHORT)
    val raster = cm.createCompatibleWritableRaster(w, h)
    for (y <- 0 until h; x <- 0 until w; b <- 0 until 3)
      raster.setSample(x, y, b, rgb((y * w + x) * 3 + b))
    imageioWrite(new BufferedImage(cm, raster, false, null), compression)
  }

  /** Smooth RGB gradient (keeps max-quality JPEG loss to a few
    * counts; exact for the lossless compressions). */
  private def rgbGradient(w: Int, h: Int): Seq[Int] =
    Seq.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      val base = (x * 200 / math.max(1, w - 1) +
        y * 55 / math.max(1, h - 1))
      math.min(255, base + (i % 3) * 10)
    }

  test("RGB strips decode band-per-band; deflate + per-channel " +
    "predictor is exact") {
    import graft.sources.RasterFixtures
    val w = 9; val h = 5
    val rgb = Seq.tabulate(w * h * 3)(i => (i * 7 + (i % 3) * 50) % 256)
    val plain = RasterFixtures.stripTiffRgb(w, h, rgb, rowsPerStrip = 2)
    val (m, bands) = GeoTiff.readBands(plain).fold(e => fail(e), identity)
    assert(m.samplesPerPixel == 3 && m.bitsPerSample == 8)
    assert(bands.length == 3)
    for (b <- 0 until 3; i <- 0 until w * h)
      assert(bands(b)(i) == rgb(i * 3 + b).toFloat, s"band $b px $i")
    // deflate + predictor 2 (per-CHANNEL differencing) reproduces the
    // same bands exactly
    val defl = RasterFixtures.stripTiffRgb(w, h, rgb, rowsPerStrip = 3,
      compression = 8, predictor = 2)
    val (_, bands2) = GeoTiff.readBands(defl).fold(e => fail(e), identity)
    for (b <- 0 until 3)
      assert(bands2(b).sameElements(bands(b)), s"band $b")
    // the single-band entry point still refuses multi-band files
    assert(GeoTiff.readSamples(plain).left.exists(_.contains("samples")))
  }

  test("RGB TIFFs from the INDEPENDENT JDK writer decode " +
    "(LZW exact, JPEG within tolerance)") {
    val w = 24; val h = 16
    val rgb = rgbGradient(w, h)
    val lzw = imageioTiffRgb(rgb, w, h, "LZW")
    val (ml, bandsL) = GeoTiff.readBands(lzw).fold(e => fail(e), identity)
    assert(ml.samplesPerPixel == 3)
    for (b <- 0 until 3; i <- 0 until w * h)
      assert(bandsL(b)(i) == rgb(i * 3 + b).toFloat, s"band $b px $i")
    // JPEG: the JDK writer emits YCbCr (photometric 6); our decode
    // returns RGB — compare against ImageIO's own decode of the same
    // file for DECODER-STABLE exactness, and the source for tolerance
    val jpg = imageioTiffRgb(rgb, w, h, "JPEG")
    val (mj, bandsJ) = GeoTiff.readBands(jpg).fold(e => fail(e), identity)
    assert(mj.samplesPerPixel == 3)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(jpg))
    for (b <- 0 until 3; i <- 0 until w * h) {
      val ref = img.getRaster.getSample(i % w, i / w, b)
      assert(bandsJ(b)(i) == ref.toFloat, s"band $b px $i vs ImageIO")
    }
    val maxErr = (0 until 3).flatMap(b => (0 until w * h).map(i =>
      math.abs(bandsJ(b)(i) - rgb(i * 3 + b)))).max
    assert(maxErr <= 8.0f, s"JPEG RGB error $maxErr exceeds tolerance")
  }

  test("color JPEG strips: shared JPEGTables and interchange agree") {
    import graft.sources.RasterFixtures
    val w = 16; val h = 12
    val rgb = rgbGradient(w, h)
    val shared = GeoTiff.readBands(RasterFixtures
      .stripTiffJpegRgb(w, h, rgb, rowsPerStrip = 4, sharedTables = true))
      .fold(e => fail(e), identity)._2
    val plain = GeoTiff.readBands(RasterFixtures
      .stripTiffJpegRgb(w, h, rgb, rowsPerStrip = 4, sharedTables = false))
      .fold(e => fail(e), identity)._2
    for (b <- 0 until 3)
      assert(shared(b).sameElements(plain(b)), s"band $b")
    val maxErr = (0 until 3).flatMap(b => (0 until w * h).map(i =>
      math.abs(plain(b)(i) - rgb(i * 3 + b)))).max
    assert(maxErr <= 8.0f, s"JPEG RGB error $maxErr exceeds tolerance")
  }

  test("multi-band oddities quarantine: planar config 2, raw YCbCr") {
    import graft.sources.RasterFixtures
    val w = 6; val h = 4
    val rgb = Seq.tabulate(w * h * 3)(i => i % 256)
    val base = RasterFixtures.stripTiffRgb(w, h, rgb, rowsPerStrip = 2)
    def patchShortTag(bytes: Array[Byte], tag: Int, v: Int): Array[Byte] = {
      val out = bytes.clone()
      val buf = java.nio.ByteBuffer.wrap(out)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = buf.getShort(8) & 0xFFFF
      val e = (0 until n).map(10 + _ * 12)
        .find(e => (buf.getShort(e) & 0xFFFF) == tag)
        .getOrElse(fail(s"tag $tag not in fixture"))
      buf.putShort(e + 8, v.toShort)
      out
    }
    // a chunky file MIS-LABELED planar has the wrong segment count
    // for 3 band-major planes -> quarantine, never a scrambled grid
    val planar2 = patchShortTag(base, 284, 2)
    assert(GeoTiff.readBands(planar2).left.exists(_.contains("planar")))
    // planar values beyond the TIFF-defined 1/2 -> quarantine
    val planar3 = patchShortTag(base, 284, 3)
    assert(GeoTiff.readBands(planar3).left.exists(_.contains("planar")))
    // photometric 6 without JPEG compression (raw YCbCr) -> quarantine
    val rawYcbcr = patchShortTag(base, 262, 6)
    assert(GeoTiff.readBands(rawYcbcr).left.exists(_.contains("photometric")))
  }

  test("JPEG envelope: 12-bit precision and CMYK component counts " +
    "quarantine, never wrong samples") {
    import graft.sources.RasterFixtures
    val w = 16; val h = 12
    val rgb = rgbGradient(w, h)
    val base = RasterFixtures.stripTiffJpegRgb(w, h, rgb,
      rowsPerStrip = 4, sharedTables = false)
    assert(GeoTiff.readBands(base).isRight) // decodes before mangling
    // patch every SOF0 (FFC0) in the embedded streams
    def patchSof(bytes: Array[Byte], at: Int, v: Byte): Array[Byte] = {
      val out = bytes.clone()
      var i = 0; var n = 0
      while (i < out.length - 10) {
        if ((out(i) & 0xFF) == 0xFF && (out(i + 1) & 0xFF) == 0xC0) {
          out(i + at) = v; n += 1
        }
        i += 1
      }
      assert(n > 0, "no SOF0 markers found to mangle")
      out
    }
    // sample precision byte (marker+2len -> +4): 8 -> 12-bit JPEG
    val twelveBit = patchSof(base, 4, 12.toByte)
    assert(GeoTiff.readBands(twelveBit).isLeft)
    // component count (precision+2dims -> +9): 3 -> 4 (CMYK-shaped)
    val cmyk = patchSof(base, 9, 4.toByte)
    assert(GeoTiff.readBands(cmyk).isLeft)
  }

  test("planar (band-sequential) RGB decodes byte-equal to its " +
    "chunky twin: uncompressed, LZW + per-band predictor, deflate") {
    import graft.sources.RasterFixtures
    val w = 9; val h = 5
    val rgb = Seq.tabulate(w * h * 3)(i => (i * 7 + (i % 3) * 50) % 256)
    val (_, chunky) = GeoTiff.readBands(
      RasterFixtures.stripTiffRgb(w, h, rgb, rowsPerStrip = 2))
      .fold(e => fail(e), identity)
    for ((comp, pred) <- Seq((1, 1), (5, 2), (8, 2), (1, 2))) {
      val planar = RasterFixtures.stripTiffRgbPlanar(w, h, rgb,
        rowsPerStrip = 2, compression = comp, predictor = pred)
      val (m, bands) = GeoTiff.readBands(planar)
        .fold(e => fail(s"comp=$comp pred=$pred: " + e), identity)
      assert(m.samplesPerPixel == 3 && m.bitsPerSample == 8)
      for (b <- 0 until 3)
        assert(bands(b).sameElements(chunky(b)),
          s"band $b comp=$comp pred=$pred")
    }
    // TILED planar (band-major tile list, padded edge tiles) decodes
    // to the same bands — uncompressed and deflate
    for (comp <- Seq(1, 8)) {
      val tiled = RasterFixtures.tileTiffRgbPlanar(w, h, rgb,
        tileSize = 4, compression = comp)
      val (mt, tb) = GeoTiff.readBands(tiled)
        .fold(e => fail(s"tiled comp=$comp: " + e), identity)
      assert(mt.tileWidth.contains(4L), s"comp=$comp")
      for (b <- 0 until 3)
        assert(tb(b).sameElements(chunky(b)), s"tiled band $b comp=$comp")
    }
    // planar JPEG is contradictory (JPEG MCUs interleave) -> quarantine
    // is pinned above via the mislabeled-chunky case; here pin that a
    // VALID planar file re-tiles through tiffToCog losslessly too
    val planarOk = RasterFixtures.stripTiffRgbPlanar(w, h, rgb,
      rowsPerStrip = 2)
    val cog = graft.operators.Cogify.tiffToCog(planarOk)
      .fold(e => fail(e), identity)
    val (_, out) = GeoTiff.readBands(cog).fold(e => fail(e), identity)
    for (b <- 0 until 3)
      assert(out(b).sameElements(chunky(b)), s"cog band $b")
  }

  test("overview IFDs carry GDAL_TIFF_OVR_BLOCKSIZE=128 blocks while " +
    "the data IFD keeps its 256 tiles (the reference profile)") {
    import graft.sources.GeoTiffWriter
    val w = 600; val h = 500
    val data = Array.tabulate(w * h)(i => ((i * 7) % 991).toFloat)
    val geo = GeoTiffWriter.Geo(Seq(0.0, 0.1, 0.0, 50.0, 0.0, -0.1))
    val cog = GeoTiffWriter.write(w, h, data, geo) // defaults: 256/128
    assert(GeoTiff.ifdCount(cog) == Right(2)) // min(300,250)<=256
    val (m0, full) = GeoTiff.readBandsAt(cog, 0).fold(e => fail(e), identity)
    assert(m0.tileWidth.contains(256L) && m0.tileHeight.contains(256L))
    assert(full(0).sameElements(data))
    val (m1, l1) = GeoTiff.readBandsAt(cog, 1).fold(e => fail(e), identity)
    assert(m1.tileWidth.contains(128L) && m1.tileHeight.contains(128L))
    assert(m1.width == 300 && m1.height == 250)
    for (y <- 0 until 250; x <- 0 until 300)
      assert(l1(0)(y * 300 + x) ==
        data(math.min(2 * y, h - 1) * w + math.min(2 * x, w - 1)),
        s"($x,$y)")
  }

  test("overview IFDs: chained reduced-resolution levels at " +
    "rio-cogeo defaults (nearest, factor 2, until min dim <= block)") {
    import graft.sources.GeoTiffWriter
    val w = 600; val h = 500
    val data = Array.tabulate(w * h)(i => ((i * 13) % 997).toFloat)
    val geo = GeoTiffWriter.Geo(Seq(0.0, 0.1, 0.0, 50.0, 0.0, -0.1))
    // min(600,500)=500 > 128 -> L1 (300x250); 250 > 128 -> L2
    // (150x125); 125 <= 128 -> stop
    assert(GeoTiffWriter.overviewLevels(w, h, 128) == 2)
    val cog = GeoTiffWriter.write(w, h, data, geo, tileSize = 128)
    assert(GeoTiff.ifdCount(cog) == Right(3))
    // full-res IFD unchanged: geo tags + exact samples
    val (m0, full) = GeoTiff.readSamples(cog).fold(e => fail(e), identity)
    assert(m0.width == w && m0.height == h && m0.transform.isDefined)
    assert(full.sameElements(data))
    // level 1: ceil dims, nearest = source at (2y, 2x)
    val (m1, l1) = GeoTiff.readBandsAt(cog, 1).fold(e => fail(e), identity)
    assert(m1.width == 300 && m1.height == 250)
    assert(m1.transform.isEmpty) // overview IFDs carry no geo tags
    for (y <- 0 until 250; x <- 0 until 300)
      assert(l1(0)(y * 300 + x) == data(2 * y * w + 2 * x), s"L1 ($x,$y)")
    // level 2 halves level 1
    val (m2, l2) = GeoTiff.readBandsAt(cog, 2).fold(e => fail(e), identity)
    assert(m2.width == 150 && m2.height == 125)
    for (y <- 0 until 125; x <- 0 until 150)
      assert(l2(0)(y * 150 + x) == l1(0)(2 * y * 300 + 2 * x), s"L2 ($x,$y)")
    // overviews off -> single IFD
    val flat = GeoTiffWriter.write(w, h, data, geo, tileSize = 128,
      overviews = false)
    assert(GeoTiff.ifdCount(flat) == Right(1))
  }

  test("RGB COGs chain overviews too; small rasters get none") {
    import graft.sources.GeoTiffWriter
    val w = 300; val h = 270
    val bands = Array.tabulate(3)(b =>
      Array.tabulate(w * h)(i => ((i * 7 + b * 31) % 256).toFloat))
    val geo = GeoTiffWriter.Geo(Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0))
    val cog = GeoTiffWriter.writeBands(w, h, bands, GeoTiffWriter.UInt8,
      Some(geo), tileSize = 256)
    // min(300,270)=270 > 256 -> one overview level (150x135)
    assert(GeoTiff.ifdCount(cog) == Right(2))
    val (m1, l1) = GeoTiff.readBandsAt(cog, 1).fold(e => fail(e), identity)
    assert(m1.width == 150 && m1.height == 135 && m1.samplesPerPixel == 3)
    for (b <- 0 until 3; y <- 0 until 135; x <- 0 until 150)
      assert(l1(b)(y * 150 + x) == bands(b)(2 * y * w + 2 * x),
        s"band $b ($x,$y)")
    // below the block size: no overview IFD
    val small = GeoTiffWriter.writeBands(100, 80,
      bands.map(_.take(100 * 80)), GeoTiffWriter.UInt8, Some(geo),
      tileSize = 256)
    assert(GeoTiff.ifdCount(small) == Right(1))
  }

  test("writeBands round-trips an 8-bit RGB COG (multi-tile, geo tags)") {
    import graft.sources.GeoTiffWriter
    val w = 300; val h = 270 // 2x2 tile grid at 256 -> edge padding
    val bands = Array.tabulate(3)(b =>
      Array.tabulate(w * h)(i => ((i * 3 + b * 77) % 256).toFloat))
    val geo = GeoTiffWriter.Geo(Seq(10.0, 0.5, 0.0, 60.0, 0.0, -0.5))
    val cog = GeoTiffWriter.writeBands(w, h, bands, GeoTiffWriter.UInt8,
      Some(geo), fill = Some(0.0), tileSize = 256)
    val m = GeoTiff.parse(cog).fold(e => fail(e), identity)
    assert(m.width == w && m.height == h)
    assert(m.samplesPerPixel == 3 && m.bitsPerSample == 8)
    assert(m.tileWidth.contains(256L) && m.tileHeight.contains(256L))
    assert(m.epsg.contains(4326))
    assert(m.transform.contains(Seq(10.0, 0.5, 0.0, 60.0, 0.0, -0.5)))
    val (_, back) = GeoTiff.readBands(cog).fold(e => fail(e), identity)
    for (b <- 0 until 3)
      assert(back(b).sameElements(bands(b)), s"band $b")
  }

  test("tiffToCog re-tiles color JPEG browse imagery to a uint8 RGB " +
    "deflate COG (byte dtype preserved, handler.py:186-220)") {
    import graft.sources.RasterFixtures
    val w = 40; val h = 30
    val rgb = rgbGradient(w, h)
    val jpegTiff = RasterFixtures.stripTiffJpegRgb(w, h, rgb,
      rowsPerStrip = 8, sharedTables = true)
    val cog = Cogify.tiffToCog(jpegTiff).fold(e => fail(e), identity)
    val m = GeoTiff.parse(cog).fold(e => fail(e), identity)
    assert(m.samplesPerPixel == 3 && m.bitsPerSample == 8)
    assert(m.tileWidth.contains(256L))
    // COG re-tile is lossless over the DECODED bands: compare against
    // a direct decode of the JPEG source, which must match exactly
    val (_, src) = GeoTiff.readBands(jpegTiff).fold(e => fail(e), identity)
    val (_, out) = GeoTiff.readBands(cog).fold(e => fail(e), identity)
    for (b <- 0 until 3)
      assert(out(b).sameElements(src(b)), s"band $b")
    // and within JPEG tolerance of the original pixels
    val maxErr = (0 until 3).flatMap(b => (0 until w * h).map(i =>
      math.abs(out(b)(i) - rgb(i * 3 + b)))).max
    assert(maxErr <= 8.0f, s"JPEG RGB error $maxErr")
    // a 16-bit RGB source (JDK-encoded) re-tiles to uint16 RGB, not
    // downcast to bytes: bands exactly equal
    val rgb16 = rgb.zipWithIndex.map { case (v, i) => v * 257 - i % 7 }
      .map(math.max(0, _))
    val src16 = imageioTiffRgb16(rgb16, w, h, "LZW")
    val (ms, _) = GeoTiff.readBands(src16).fold(e => fail(e), identity)
    assert(ms.samplesPerPixel == 3 && ms.bitsPerSample == 16)
    val cog16 = Cogify.tiffToCog(src16).fold(e => fail(e), identity)
    val (m16, out16) = GeoTiff.readBands(cog16).fold(e => fail(e), identity)
    assert(m16.samplesPerPixel == 3 && m16.bitsPerSample == 16 &&
      m16.sampleFormat == 1)
    for (b <- 0 until 3; i <- 0 until w * h)
      assert(out16(b)(i) == rgb16(i * 3 + b).toFloat, s"band $b px $i")
  }

  test("deflate + horizontal predictor (tag 317=2) strips decode") {
    import graft.sources.RasterFixtures
    val w = 19; val h = 7
    val vals = IndexedSeq.tabulate(w * h)(i => (i * 13 + 5) % 256)
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new Array[Byte](raw.length * 2 + 64)
      val n = d.deflate(out); d.end()
      out.take(n)
    }
    val tiff = RasterFixtures.stripTiffEncoded(w, h, vals,
      rowsPerStrip = 3, compression = 8, deflate, predictor = 2)
    val (_, decoded) = GeoTiff.readSamples(tiff).fold(e => fail(e), identity)
    assert(decoded.toSeq == vals.map(_.toFloat))
    // predictor on a float grid is undefined -> quarantine
    val badPred = RasterFixtures.stripTiffEncoded(w, h, vals,
      rowsPerStrip = 3, compression = 8, deflate, predictor = 3)
    assert(GeoTiff.readSamples(badPred).left.exists(_.contains("predictor")))
  }

  test("tiffToCog re-tiles a plain TIFF into a deflate COG (.tif branch)") {
    val vals = 0 until 20
    val tiff = graft.sources.RasterFixtures.stripTiff(5, 4, vals)
    val cog = Cogify.tiffToCog(tiff).fold(e => fail(e), identity)
    val m = GeoTiff.parse(cog).fold(e => fail(e), identity)
    assert(m.width == 5 && m.height == 4)
    assert(m.tileWidth.contains(256L))
    val (_, decoded) = GeoTiff.readSamples(cog).fold(e => fail(e), identity)
    assert(decoded.toSeq == vals.map(_.toFloat))
  }

  test("tiffToCog keeps the source sample type (uint8 strips, JDK " +
    "uint16, float32): exact level 0, nearest overviews, nodata kept " +
    "only when the type holds it") {
    import graft.sources.RasterFixtures
    // 3x3 level-0 tiles with edge padding; overviews 300x265, 150x133
    val (w, h) = (600, 530)
    val rnd = new scala.util.Random(7)
    val u8 = Vector.tabulate(w * h)(i =>
      ((i % w) * 3 + (i / w) * 5 + rnd.nextInt(9)) & 0xFF)
    val u16 = Vector.tabulate(w * h)(i =>
      ((i % w) * 97 + (i / w) * 31 + rnd.nextInt(9)) & 0xFFFF)
    val f32 = Array.tabulate(w * h)(i => (i % w) * 0.37f - (i / w) * 0.11f)
    def u8Src(nodata: String) = withNodata(RasterFixtures.stripTiffEncoded(
      w, h, u8, rowsPerStrip = 16, compression = 8,
      encode = RasterFixtures.deflate), nodata)
    def u16Src(nodata: String) =
      withNodata(imageioTiff(u16, w, h, "LZW", sixteenBit = true), nodata)
    val f32Src = GeoTiffWriter.write(w, h, f32,
      GeoTiffWriter.Geo(Seq(-180.0, 0.3, 0.0, 90.0, 0.0, -0.3)),
      fill = Some(-9999.5))
    // (source, its pixels, BitsPerSample, SampleFormat, nodata kept);
    // float32 holds every nodata, so only the integer types drop one
    val cases = Seq(
      (u8Src("200"), u8.map(_.toFloat), 8, 1, Some(200.0)),
      (u8Src("-9999"), u8.map(_.toFloat), 8, 1, None),
      (u8Src("2.5"), u8.map(_.toFloat), 8, 1, None),
      (u16Src("65535"), u16.map(_.toFloat), 16, 1, Some(65535.0)),
      (u16Src("65536"), u16.map(_.toFloat), 16, 1, None),
      (f32Src, f32.toSeq, 32, 3, Some(-9999.5)))
    for ((src, px, bits, fmt, kept) <- cases) {
      val label = s"$bits-bit format $fmt, nodata $kept"
      val (ms, _) = GeoTiff.readBands(src).fold(e => fail(e), identity)
      assert(ms.bitsPerSample == bits && ms.sampleFormat == fmt, label)
      val cog = Cogify.tiffToCog(src).fold(e => fail(s"$label: $e"), identity)
      assert(GeoTiff.ifdCount(cog) == Right(3), label)
      val levels = (0 until 3).map(i =>
        GeoTiff.readBandsAt(cog, i).fold(e => fail(e), identity))
      for ((m, _) <- levels)
        assert(m.bitsPerSample == bits && m.sampleFormat == fmt, label)
      assert(levels(0)._2(0).sameElements(px), s"$label: level 0")
      for (i <- 1 until 3) {
        val (pm, prev) = levels(i - 1)
        val (m, cur) = levels(i)
        val (pw, ph) = (pm.width.toInt, pm.height.toInt)
        val (cw, ch) = (m.width.toInt, m.height.toInt)
        assert(cw == (pw + 1) / 2 && ch == (ph + 1) / 2, s"$label: dims $i")
        val halved = Array.tabulate(cw * ch)(k => prev(0)(
          math.min(2 * (k / cw), ph - 1) * pw + math.min(2 * (k % cw), pw - 1)))
        assert(cur(0).sameElements(halved), s"$label: overview $i")
      }
      assert(levels(0)._1.nodata == kept, label)
      // the last level-0 tile covers x, y 512..767: (88, 0) is past the
      // width and (0, 18) past the height; both pad with the kept
      // nodata, else 0
      val pad = inflateTile(level0Tiles(cog).last, 256,
        GeoTiffWriter.SampleType(bits, fmt))
      val want = kept.getOrElse(0.0).toFloat
      assert(pad(88) == want && pad(18 * 256) == want, s"$label: padding")
    }
  }

  test("size guard: every level-0 tile of a uint8 re-tile inflates to " +
    "exactly 256x256x1 bytes") {
    import graft.sources.RasterFixtures
    val (w, h) = (700, 600) // 3x3 data tiles, edge tiles padded
    val px = Vector.tabulate(w * h)(i => (i * 7 + i / w) & 0xFF)
    val cog = Cogify.tiffToCog(RasterFixtures.stripTiffEncoded(w, h, px,
      rowsPerStrip = 16, compression = 8, encode = RasterFixtures.deflate))
      .fold(e => fail(e), identity)
    val tiles = level0Tiles(cog)
    assert(tiles.size == 9)
    tiles.foreach(inflateTile(_, 256, GeoTiffWriter.UInt8)) // asserts the size
  }

  test("Cogify.run -> scanMetadata -> enrichWithRaster reports " +
    "raster:bits_per_sample 8 for a uint8 source") {
    import graft.sources.RasterFixtures
    val dir = Files.createTempDirectory("cogify-bits")
    val in = dir.resolve("scene_2020.tif")
    Files.write(in, RasterFixtures.stripTiff(5, 4, 0 until 20))
    val objs = Seq(s"file://$in").toDF("remote_fileurl")
      .withColumn("collection", lit("c"))
      .withColumn("cogify", lit(true))
      .withColumn("upload", lit(false))
      .withColumn("properties", lit(null).cast("map<string,string>"))
      .withColumn("product_id", lit(null).cast("string"))
      .withColumn("assets", lit(null).cast("map<string,string>"))
    val cog = Cogify.run(objs, new Cogify.RasterCogTransform(), Map.empty)
    assert(cog.filter(col("cog_error").isNotNull).isEmpty)
    val items = graft.operators.StacBuilder.regexItems(cog.drop("cog_error"),
      graft.model.PipelineEvent(collection = "c"))
    // the conversion returns plain local paths, binaryFile lists file:
    val scan = GeoTiff.scanMetadata(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.tif").load(dir.toString)
      .withColumn("path", regexp_replace(col("path"), "^file:", "")))
    val props = graft.operators.StacBuilder.enrichWithRaster(items, scan)
      .select(col("properties")).collect().map(_.getMap[String, String](0))
    assert(props.length == 1)
    assert(props.head.get("raster:bits_per_sample").contains("8"),
      s"${props.head}")
    assert(props.head.get("proj:shape").contains("4,5"))
  }

  test("F14 grid ops: variable[0] + transpose + flipud (handler.py:106-110)") {
    import Cogify.{applyGridOps, FlipUd, TakeFirstPlane, Transpose}
    // rank-3 (2,3,2), values 0..11; [0] -> (3,2) = [[0,1],[2,3],[4,5]]
    val raw = Array.tabulate(12)(_.toFloat)
    val (s1, d1) = applyGridOps(Seq(2L, 3L, 2L), raw, Seq(TakeFirstPlane))
    assert(s1 == Seq(3L, 2L) && d1.toSeq == (0 until 6).map(_.toFloat))
    // transpose (3,2) -> (2,3): [[0,2,4],[1,3,5]]
    val (s2, d2) = applyGridOps(s1, d1, Seq(Transpose))
    assert(s2 == Seq(2L, 3L))
    assert(d2.toSeq == Seq(0f, 2f, 4f, 1f, 3f, 5f))
    // flipud (2,3): rows swapped
    val (s3, d3) = applyGridOps(s2, d2, Seq(FlipUd))
    assert(s3 == Seq(2L, 3L))
    assert(d3.toSeq == Seq(1f, 3f, 5f, 0f, 2f, 4f))
    // the reference's collection keying
    assert(Cogify.referenceGridOps("GPM_3IMERGM") ==
      Seq(TakeFirstPlane, Transpose))
    assert(Cogify.referenceGridOps("OMDOAO3e") == Seq(FlipUd))
    assert(Cogify.referenceGridOps("other").isEmpty)
  }

  test("grid ops flow through the COG conversion; grid sized after ops") {
    // 3-D fixture: time=2, lat=3, lon=2 — the GPM_3IMERGM shape
    val bytes = NetCdfFixtures.classic(
      dims = Seq("time" -> 2, "lat" -> 3, "lon" -> 2),
      vars = Seq(
        NetCdfFixtures.CVar("lat", Seq("lat"), 6, Seq(-10.0, 0.0, 10.0)),
        NetCdfFixtures.CVar("lon", Seq("lon"), 6, Seq(-20.0, 20.0)),
        NetCdfFixtures.CVar("precip", Seq("time", "lat", "lon"), 5,
          (0 until 12).map(_.toDouble),
          attrs = Seq("_FillValue" ->
            Right(Seq(-1.0))))))
    val cfg = Cogify.CollectionConfig(variableName = Some("precip"),
      xVariable = Some("lon"), yVariable = Some("lat"),
      gridOps = Cogify.referenceGridOps("GPM_3IMERGM"),
      affine = Some(Cogify.parseAffine("(xmin, xres, 0, ymax, 0, -yres)")))
    val cog = Cogify.classicNetcdfToCog(bytes, cfg)
      .fold(e => fail(e), identity)
    val m = GeoTiff.parse(cog).fold(e => fail(e), identity)
    // (2,3,2) -> [0] -> (3,2) -> transpose -> (2,3): h=2, w=3
    assert(m.height == 2 && m.width == 3)
    // xres = 40/3, yres = 20/2 from the coordinate extents, against
    // POST-op dims (the affine terms see the ops-adjusted shape)
    assert(m.transform.exists(t =>
      t(0) == -20.0 && math.abs(t(1) - 40.0 / 3) < 1e-9 &&
        t(3) == 10.0 && t(5) == -10.0))
    // a 3-D variable with no ops must be rejected, not mis-written
    assert(Cogify.classicNetcdfToCog(bytes,
      cfg.copy(gridOps = Nil)).isLeft)
  }

  test("cogify stage runs the real transform end to end (.he5 dispatch)") {
    val dir = Files.createTempDirectory("cogify-real")
    Files.write(dir.resolve("grid.he5"), NetCdfFixtures.classicGrid())
    val objs = Seq(1).toDF("i").select(
      lit("c").as("collection"),
      lit(s"$dir/grid.he5").as("remote_fileurl"),
      lit(false).as("upload"),
      lit(true).as("cogify"))
    val cfg = Cogify.CollectionConfig(variableName = Some("precip"),
      xVariable = Some("lon"), yVariable = Some("lat"))
    val out = Cogify.run(objs, new Cogify.RasterCogTransform(),
      configs = Map("c" -> cfg)).collect().head
    assert(out.getAs[String]("cog_error") == null)
    val cogPath = out.getAs[String]("remote_fileurl")
    assert(cogPath.endsWith("grid.tif"))
    val m = GeoTiff.parse(
      Files.readAllBytes(java.nio.file.Paths.get(cogPath)))
      .fold(e => fail(e), identity)
    assert(m.width == 6 && m.height == 4)
  }

  test("no-geo sources re-tile WITHOUT a fabricated geo block; " +
    "carried geo keeps its Projected/Geographic key kind") {
    import graft.sources.{GeoTiff, GeoTiffWriter, RasterFixtures}
    // stripTiff carries no geo tags: the COG must carry none either
    // (previously it claimed WGS84 with an identity transform)
    val tiff = RasterFixtures.stripTiff(5, 4, 0 until 20)
    val cog = Cogify.tiffToCog(tiff).fold(e => fail(e), identity)
    val m = GeoTiff.parse(cog).fold(e => fail(e), identity)
    assert(m.transform.isEmpty && m.epsg.isEmpty,
      s"fabricated geo: ${m.transform} ${m.epsg}")
    // EPSG 4087 is PROJECTED yet sits in the 4xxx range: a writer
    // told the kind must emit ProjectedCSTypeGeoKey, and the reader
    // must report the kind back
    val geo = GeoTiffWriter.Geo(Seq(0.0, 1.0, 0.0, 0.0, 0.0, -1.0),
      epsg = 4087, epsgIsGeographic = Some(false))
    val out = GeoTiffWriter.write(4, 4, Array.fill(16)(1.0f), geo,
      overviews = false)
    val m2 = GeoTiff.parse(out).fold(e => fail(e), identity)
    assert(m2.epsg.contains(4087) &&
      m2.epsgIsGeographic.contains(false), s"${m2.epsgIsGeographic}")
  }

  test("tiepoint anchoring a nonzero raster pixel shifts the origin " +
    "(crop/subset tools emit I/J != 0)") {
    import graft.sources.{GeoTiff, RasterFixtures}
    val bytes = RasterFixtures.geoTiff()
    // fixture tiepoint block at offset 300: (I,J,0,X,Y,0); set I=2,J=3
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putDouble(300, 2.0)
    bb.putDouble(308, 3.0)
    val m = GeoTiff.parse(bytes).fold(e => fail(e), identity)
    val t = m.transform.get
    // xres=0.1, yres=0.05: x0 = -180 - 2*0.1, y0 = 90 + 3*0.05
    assert(math.abs(t(0) - (-180.2)) < 1e-9, s"x0 ${t(0)}")
    assert(math.abs(t(3) - 90.15) < 1e-9, s"y0 ${t(3)}")
  }

  test("short DEFLATE strips fail closed (Left), never a zero-filled " +
    "grid") {
    import graft.sources.{GeoTiff, GeoTiffWriter, RasterFixtures}
    // inflate returns only what the stream holds, not its cap
    val four = RasterFixtures.deflate(Array[Byte](1, 2, 3, 4))
    assert(GeoTiffWriter.inflateFully(four, 16).toSeq == Seq[Byte](1, 2, 3, 4))
    // each 3-row strip is a complete stream holding its first row only
    val w = 8
    val short = RasterFixtures.stripTiffEncoded(w, 6, 0 until 48,
      rowsPerStrip = 3, compression = 8,
      encode = raw => RasterFixtures.deflate(raw.take(w)))
    val got = GeoTiff.readBands(short)
    assert(got.isLeft && got.left.exists(_.contains("short")),
      s"short DEFLATE strips did not quarantine: $got")
  }

  test("truncated LZW strip fails closed (Left), never a zero-filled " +
    "grid; RowsPerStrip=0xFFFFFFFF decodes via the height clamp") {
    import graft.sources.{GeoTiff, RasterFixtures}
    val vals = 0 until 40
    val lzw = RasterFixtures.stripTiffEncoded(8, 5, vals,
      rowsPerStrip = 5, compression = 5,
      encode = raw => RasterFixtures.lzwEncodeNaive(raw).dropRight(3))
    val got = GeoTiff.readBands(lzw)
    assert(got.isLeft && got.left.exists(_.contains("short")),
      s"truncated LZW did not quarantine: $got")
    // single-strip shorthand some writers emit: RowsPerStrip = 2^32-1
    val tiff = RasterFixtures.stripTiff(5, 4, 0 until 20,
      rowsPerStrip = 4)
    // patch the RowsPerStrip entry (tag 278) to type LONG, 0xFFFFFFFF
    val bb = java.nio.ByteBuffer.wrap(tiff)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var e = 10
    var patched = false
    while (!patched && e < 10 + 12 * 12) {
      if ((bb.getShort(e) & 0xFFFF) == 278) {
        bb.putShort(e + 2, 4.toShort) // type LONG
        bb.putInt(e + 8, -1)          // 0xFFFFFFFF
        patched = true
      }
      e += 12
    }
    assert(patched, "RowsPerStrip entry not found")
    val (_, decoded) = GeoTiff.readSamples(tiff).fold(e2 => fail(e2),
      identity)
    assert(decoded.toSeq == (0 until 20).map(_.toFloat),
      "huge RowsPerStrip produced a wrong grid")
  }

  test("Cogify.run quarantines a failing file into cog_error instead " +
    "of aborting the job") {
    import spark.implicits._
    val rows = Seq(
      ("s3://b/bad.tif", "c1", true, false),
      ("s3://b/skip.xyz", "c1", true, false))
      .toDF("remote_fileurl", "collection", "cogify", "upload")
    object Boom extends Cogify.FileTransform {
      def toCog(url: String, coll: String,
                cfg: Cogify.CollectionConfig): String =
        throw new IllegalArgumentException(s"unsupported thing in $url")
    }
    val out = Cogify.run(rows, Boom, Map.empty).collect()
      .map(r => r.getString(0) -> r.getString(r.length - 1)).toMap
    assert(out("s3://b/bad.tif").contains("cogify failed"),
      s"$out")
    assert(out("s3://b/skip.xyz").contains("not supported"))
  }

  // ---- byte identity: the tile batch writes the serial writer's bytes --

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  /** Seeded multi-tile rasters over every writer path. Pixels and
    * geotransforms come from integer and IEEE arithmetic only (the
    * NetCDF grid takes an affine override, not the EPSG:3857 default
    * transform), so the bytes do not depend on the JVM's libm. */
  private def digestFixtures: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(11)
    // 1200x1100: 5x5 data tiles, overviews 600x550, 300x275, 150x138
    val (fw, fh) = (1200, 1100)
    val f32 = Array.tabulate(fw * fh)(i =>
      (i % fw) * 0.37f + (i / fw) * 0.11f + rnd.nextInt(5))
    val geo = GeoTiffWriter.Geo(Seq(-180.0, 0.3, 0.0, 90.0, 0.0, -0.3))
    // 700x600 RGB: 3x3 tiles, overviews 350x300 and 175x150; values
    // outside 0..255 exercise the clamp
    val (rw, rh) = (700, 600)
    val rgb = Array.fill(3)(Array.fill(rw * rh)(
      (rnd.nextInt(300) - 20).toFloat))
    val utm = GeoTiffWriter.Geo(Seq(500000.0, 30.0, 0.0, 4600000.0, 0.0,
      -30.0), epsg = 32633, epsgIsGeographic = Some(false))
    // 600x300 classic NetCDF grid: 3x2 tiles, one 300x150 overview
    val (nw, nh) = (600, 300)
    val nc = NetCdfFixtures.classic(
      dims = Seq("lat" -> nh, "lon" -> nw),
      vars = Seq(
        NetCdfFixtures.CVar("lat", Seq("lat"), 6,
          (0 until nh).map(i => -60.0 + 0.4 * i)),
        NetCdfFixtures.CVar("lon", Seq("lon"), 6,
          (0 until nw).map(i => -180.0 + 0.6 * i)),
        NetCdfFixtures.CVar("precip", Seq("lat", "lon"), 5,
          Vector.tabulate(nw * nh)(i =>
            if (i % 173 == 0) -9999.0 else ((i * 7) % 1000) * 0.25),
          attrs = Seq("_FillValue" -> Right(Seq(-9999.0))))))
    val ncCfg = Cogify.CollectionConfig(variableName = Some("precip"),
      xVariable = Some("lon"), yVariable = Some("lat"),
      affine = Some(Cogify.parseAffine("(xmin, xres, 0, ymax, 0, -yres)")))
    // 700x600 uint8 deflate strips (no geo tags), re-tiled: 3x3 data
    // tiles, overviews 350x300 and 175x150; its own seed, so the
    // fixtures above keep their pixels
    val u8rnd = new scala.util.Random(12)
    val u8Tiff = graft.sources.RasterFixtures.stripTiffEncoded(rw, rh,
      Vector.tabulate(rw * rh)(i =>
        ((i % rw) * 3 + (i / rw) * 5 + u8rnd.nextInt(9)) & 0xFF),
      rowsPerStrip = 16, compression = 8,
      encode = graft.sources.RasterFixtures.deflate)
    Seq(
      "float32 write, 3 overview levels" ->
        GeoTiffWriter.write(fw, fh, f32, geo, fill = Some(-9999.0)),
      "RGB writeRgb, 2 overview levels" ->
        GeoTiffWriter.writeBands(rw, rh, rgb, GeoTiffWriter.UInt8, Some(utm),
          fill = Some(7.0)),
      "classicNetcdfToCog" ->
        Cogify.classicNetcdfToCog(nc, ncCfg).fold(e => fail(e), identity),
      "float32 no overviews, no geo" ->
        GeoTiffWriter.writeBands(fw, fh, Array(f32), GeoTiffWriter.Float32,
          None, fill = Some(-1.5), overviews = false),
      "RGB no overviews" ->
        GeoTiffWriter.writeBands(rw, rh, rgb, GeoTiffWriter.UInt8, Some(geo),
          overviews = false),
      "uint8 tiffToCog, 2 overview levels" ->
        Cogify.tiffToCog(u8Tiff).fold(e => fail(e), identity))
  }

  test("COG bytes match the digests recorded from the serial writer") {
    val recorded = Map(
      "float32 write, 3 overview levels" ->
        "69835f1e788bc38e8c3a4bb1ed1e53d816048cd85144d58bdf35a76acab10dec",
      "RGB writeRgb, 2 overview levels" ->
        "7242c81be5aa8e56707ed387ce9b54c9952e51fa4e8c4d5ccc2d9a8a8b39cf0e",
      "classicNetcdfToCog" ->
        "377ae2fd2be5d46d86e515fa628aaee61aa6d677fca532657f42c07f120c7f16",
      "float32 no overviews, no geo" ->
        "91720b92c06a50989b3edca562b121cad7d811dc5ddcc5386aee23cab89066f2",
      "RGB no overviews" ->
        "9cdd62bbadbb41d2889687a7d464e56a56d2b354b734536dfa470b8a50af1bd5",
      // recorded when tiffToCog began keeping the source sample type
      "uint8 tiffToCog, 2 overview levels" ->
        "09e4e45da8f7cd21122ac71f4ae825f80f073948d027d3cf02895ce97e236a2f")
    val got = digestFixtures.map { case (k, b) => k -> sha256(b) }
    assert(got.map(_._1).toSet == recorded.keySet)
    val changed = got.filter { case (k, d) => d != recorded(k) }
    assert(changed.isEmpty, changed.mkString("\n"))
  }

  test("Cogify.run under local[4]: concurrent conversions write the " +
    "bytes of a one-at-a-time tiffToCog; error text is unchanged") {
    import graft.sources.RasterFixtures
    val dir = Files.createTempDirectory("cog-concurrent")
    // distinct pixels per file, so a tile landing in another file's
    // output cannot hide behind identical inputs
    val (w, h) = (700, 600) // 3x3 data tiles + one 350x300 overview
    val rasters = (0 until 8).map { k =>
      val rnd = new scala.util.Random(k)
      val px = Vector.tabulate(w * h)(i =>
        ((i % w) * (k + 1) + (i / w) * 3 + rnd.nextInt(9)) & 0xFF)
      s"r$k.tif" -> RasterFixtures.stripTiffEncoded(w, h, px,
        rowsPerStrip = 16, compression = 8, encode = RasterFixtures.deflate)
    }
    // a TIFF header whose first IFD lies past the end of the file
    val corrupt = "corrupt.tif" ->
      (Array[Byte]('I', 'I', 42, 0, 0, 0, 1, 0) ++ Array.fill[Byte](64)(5))
    val inputs = rasters :+ corrupt
    inputs.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    val expected = inputs.map { case (n, b) => n -> Cogify.tiffToCog(b) }
      .toMap
    val rows = spark.sparkContext.parallelize(inputs.map { case (n, _) =>
      (s"file://${dir.resolve(n)}", "c1", true, false) }, inputs.size)
      .toDF("remote_fileurl", "collection", "cogify", "upload")
    val out = Cogify.run(rows, new Cogify.RasterCogTransform(), Map.empty)
      .collect()
    assert(out.length == inputs.size)
    out.foreach { r =>
      val path = java.nio.file.Paths.get(r.getString(0).stripPrefix("file://"))
      val name = path.getFileName.toString
      expected(name) match {
        case Right(cog) =>
          assert(r.isNullAt(r.length - 1), s"$name: ${r.getString(r.length - 1)}")
          assert(Files.readAllBytes(path).sameElements(cog), name)
        case Left(e) =>
          assert(r.getString(r.length - 1) == s"cogify failed: $e", name)
      }
    }
    assert(expected.values.count(_.isLeft) == 1)
  }
}
