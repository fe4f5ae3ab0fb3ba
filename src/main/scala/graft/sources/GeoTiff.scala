package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import java.nio.{ByteBuffer, ByteOrder}

/** S5 — raster metadata scan without GDAL: a minimal GeoTIFF tag
  * parser over `binaryFile` bytes (SURVEY §7.4 hard-part (a)).
  *
  * The reference opens every file with rasterio to derive the STAC
  * `proj:*` / raster fields (`stac.py:53-114`) and falls back to a
  * metadata-only item when the file isn't raster-readable
  * (`stac.py:88-93`). Here the same fields come from parsing the TIFF
  * IFD + GeoTIFF GeoKey directory directly — pure JVM byte-level work,
  * partition-parallel over the binary source, reading only the header
  * bytes it needs. Parse failures yield `Left(reason)` = the
  * reference's fallback path.
  */
object GeoTiff {

  /** Decode-path ceiling on header-declared cell counts (raster w*h
    * and tile tw*th): 2^28 cells = 1 GiB of float32 per band — far
    * past any raster this in-memory decoder is asked to materialize,
    * and the fail-closed line that keeps a bit-flipped dimension from
    * becoming a multi-GB allocation or a minutes-long copy loop
    * (FuzzSpec geotiff-decode found both). parse()/metaOf are NOT
    * gated: metadata on arbitrarily large rasters still reads fine. */
  private val MaxDecodeCells = 1L << 28

  /** STAC projection-extension-ish raster metadata. */
  case class RasterMeta(
      width: Long, height: Long,
      bitsPerSample: Int, samplesPerPixel: Int,
      tileWidth: Option[Long], tileHeight: Option[Long],
      epsg: Option[Int],
      /** GDAL-style geotransform [x0, xres, 0, y0, 0, yres] from
        * ModelTiepoint + ModelPixelScale, when present. */
      transform: Option[Seq[Double]],
      /** GDAL_NODATA sentinel, when present. */
      nodata: Option[Double] = None,
      /** Which GeoKey carried `epsg`: Some(true) = GeographicType,
        * Some(false) = ProjectedCSType, None = unknown — the writer
        * must emit the SAME key kind, not guess from the code range
        * (EPSG 4087 is projected yet sits in 4000..4999). */
      epsgIsGeographic: Option[Boolean] = None,
      /** TIFF SampleFormat: 1 unsigned int, 2 signed int, 3 IEEE
        * float (the TIFF default 1 when the tag is absent). */
      sampleFormat: Int = 1)

  // TIFF tag ids
  private val ImageWidth = 256
  private val ImageLength = 257
  private val BitsPerSample = 258
  private val Compression = 259
  private val Photometric = 262
  private val StripOffsets = 273
  private val SamplesPerPixel = 277
  private val PlanarConfig = 284
  private val RowsPerStrip = 278
  private val StripByteCounts = 279
  private val TileWidth = 322
  private val TileLength = 323
  private val TileOffsets = 324
  private val TileByteCounts = 325
  private val Predictor = 317
  private val SampleFormat = 339
  private val JpegTables = 347
  private val ModelPixelScale = 33550
  private val ModelTiepoint = 33922
  private val GeoKeyDirectory = 34735
  private val GdalNodata = 42113
  // GeoKey ids
  private val GeographicTypeGeoKey = 2048
  private val ProjectedCSTypeGeoKey = 3072

  /** Parsed IFD tag table with typed accessors (shared by the
    * metadata parse and the sample reader). Handles classic TIFF
    * (magic 42: 12-byte entries, u32 counts/offsets, 4-byte inline
    * slot) and BigTIFF (magic 43: 20-byte entries, u64, 8-byte slot)
    * through one parametric layout — GDAL auto-promotes large rasters
    * to BigTIFF, so reference-shaped inputs arrive in both. */
  private class TagReader(bytes: Array[Byte], ifdIndex: Int = 0) {
    val order: ByteOrder = (bytes(0), bytes(1)) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ =>
        throw new IllegalArgumentException(
          "not recognized as a supported file format")
    }
    val buf: ByteBuffer = ByteBuffer.wrap(bytes).order(order)
    private val magic = buf.getShort(2) & 0xFFFF
    require(magic == 42 || magic == 43, "bad TIFF magic")
    val big: Boolean = magic == 43
    if (big) require((buf.getShort(4) & 0xFFFF) == 8 &&
      buf.getShort(6) == 0, "bad BigTIFF offset size")
    private def entriesAt(off: Int): Int =
      (if (big) buf.getLong(off)
       else (buf.getShort(off) & 0xFFFF).toLong).toInt
    private def nextIfdAt(off: Int): Long = {
      val n = entriesAt(off)
      if (big) buf.getLong(off + 8 + n * 20)
      else buf.getInt(off + 2 + n * 12) & 0xFFFFFFFFL
    }
    /** Walk the IFD chain to `ifdIndex` (overview levels live in
      * chained IFDs; index 0 is the full-resolution image). */
    private val ifdOffset = {
      var off =
        (if (big) buf.getLong(8) else buf.getInt(4) & 0xFFFFFFFFL).toInt
      var i = 0
      while (i < ifdIndex) {
        val next = nextIfdAt(off)
        require(next != 0, s"no IFD at index $ifdIndex")
        off = next.toInt
        i += 1
      }
      off
    }
    /** Offset of the IFD after this one; 0 at the chain's end. */
    def nextIfdOffset: Long = nextIfdAt(ifdOffset)
    /** This IFD's own offset — [[ifdCount]]'s cycle detection. */
    def selfOffset: Long = ifdOffset.toLong
    private val nEntries = entriesAt(ifdOffset)
    private val entriesStart = ifdOffset + (if (big) 8 else 2)
    private val entrySize = if (big) 20 else 12
    private val slotAt = if (big) 12 else 8 // value slot within entry
    private def cntAt(e: Int): Long =
      if (big) buf.getLong(e + 4) else buf.getInt(e + 4) & 0xFFFFFFFFL
    private def slotVal(e: Int): Long =
      if (big) buf.getLong(e + slotAt)
      else buf.getInt(e + slotAt) & 0xFFFFFFFFL
    private val slotBytes = if (big) 8 else 4

    val tags: Map[Int, (Int, Long, Long)] = // tag -> (type, cnt, valueOrOff)
      (0 until nEntries).map { i =>
        val e = entriesStart + i * entrySize
        (buf.getShort(e) & 0xFFFF) -> ((buf.getShort(e + 2) & 0xFFFF,
          cntAt(e), slotVal(e)))
      }.toMap

    private def entryOffset(tag: Int): Int = {
      val idx = (0 until nEntries)
        .find(i =>
          (buf.getShort(entriesStart + i * entrySize) & 0xFFFF) == tag).get
      entriesStart + idx * entrySize
    }
    /** Byte width of one element of a TIFF type. */
    private def typeWidth(t: Int): Int = t match {
      case 1 | 2 | 6 | 7 => 1 // BYTE/ASCII/SBYTE/UNDEFINED
      case 3 | 8 => 2         // SHORT/SSHORT
      case 4 | 9 | 11 => 4    // LONG/SLONG/FLOAT
      case 5 | 10 | 12 | 16 | 17 | 18 => 8 // RATIONAL/DOUBLE/LONG8/IFD8
      case _ => 0
    }
    /** Start of a tag's element data: inline in the value slot when it
      * fits, else at the recorded offset. */
    private def dataStart(tag: Int, typ: Int, cnt: Long, off: Long): Int =
      if (typeWidth(typ) * cnt <= slotBytes) entryOffset(tag) + slotAt
      else off.toInt

    def scalar(tag: Int): Option[Long] = tags.get(tag).map {
      case (3, 1, _) =>
        // SHORT inline value sits in the first 2 bytes of the slot
        (buf.getShort(entryOffset(tag) + slotAt) & 0xFFFF).toLong
      case (4, 1, _) =>
        // LONG inline value: left-justified in the slot, so a 4-byte
        // read at the slot start is endian-correct for classic and
        // BigTIFF in both byte orders (big-endian BigTIFF keeps the
        // u32 in the HIGH half of the 8-byte slot, so masking the raw
        // u64 slot value would read the padding instead)
        buf.getInt(entryOffset(tag) + slotAt) & 0xFFFFFFFFL
      case (_, _, v) => v
    }
    def doubles(tag: Int): Option[Seq[Double]] = tags.get(tag).collect {
      case (12, cnt, off) =>
        val s = dataStart(tag, 12, cnt, off)
        (0 until cnt.toInt).map(i => buf.getDouble(s + i * 8))
    }
    def shorts(tag: Int): Option[Seq[Int]] = tags.get(tag).collect {
      case (3, cnt, off) =>
        val s = dataStart(tag, 3, cnt, off)
        (0 until cnt.toInt).map(i => buf.getShort(s + i * 2) & 0xFFFF)
    }
    /** ASCII value (inline when it fits the value slot). */
    def ascii(tag: Int): Option[String] = tags.get(tag).collect {
      case (2, cnt, off) =>
        val start = dataStart(tag, 2, cnt, off)
        val raw = bytes.slice(start, start + cnt.toInt)
        new String(raw.takeWhile(_ != 0),
          java.nio.charset.StandardCharsets.US_ASCII).trim
    }
    /** Raw bytes of an UNDEFINED/BYTE-typed tag (JPEGTables et al). */
    def rawBytes(tag: Int): Option[Array[Byte]] = tags.get(tag).collect {
      case (typ, cnt, off) if typ == 7 || typ == 1 =>
        val s = dataStart(tag, typ, cnt, off)
        bytes.slice(s, s + cnt.toInt)
    }
    /** SHORT/LONG/LONG8 value array (inline when it fits the slot). */
    def longArray(tag: Int): Option[Seq[Long]] = tags.get(tag).map {
      // cnt=1 is handled by the generic case: dataStart resolves to the
      // inline slot and the per-element getInt is endian-correct (see
      // scalar above for the big-endian BigTIFF left-justification)
      case (4, cnt, off) =>
        val s = dataStart(tag, 4, cnt, off)
        (0 until cnt.toInt).map(i => buf.getInt(s + i * 4) & 0xFFFFFFFFL)
      case (16, cnt, off) => // BigTIFF LONG8
        val s = dataStart(tag, 16, cnt, off)
        (0 until cnt.toInt).map(i => buf.getLong(s + i * 8))
      case (3, cnt, off) =>
        val s = dataStart(tag, 3, cnt, off)
        (0 until cnt.toInt).map(i => (buf.getShort(s + i * 2) & 0xFFFF).toLong)
      case (t, _, _) =>
        throw new IllegalArgumentException(s"tag $tag: unexpected type $t")
    }
  }

  private def metaOf(r: TagReader): Either[String, RasterMeta] = {
    val w = r.scalar(ImageWidth).getOrElse(return Left("no ImageWidth"))
    val h = r.scalar(ImageLength).getOrElse(return Left("no ImageLength"))
    // BitsPerSample has SamplesPerPixel entries for multi-band files
    // (SHORT[3] for RGB — off-slot, so scalar() would return the
    // OFFSET); read the array and require uniform depth across bands
    val bits = r.shorts(BitsPerSample) match {
      case Some(bs) if bs.nonEmpty =>
        if (bs.distinct.size != 1)
          return Left(s"mixed BitsPerSample ${bs.mkString(",")}")
        bs.head
      case _ => r.scalar(BitsPerSample).map(_.toInt).getOrElse(1)
    }
    val spp = r.scalar(SamplesPerPixel).map(_.toInt).getOrElse(1)
    // SampleFormat, like BitsPerSample, has SamplesPerPixel entries
    // (SHORT[3] doesn't fit the classic 4-byte slot, so scalar() would
    // return the OFFSET) — read the array, require uniform
    val fmt = r.shorts(SampleFormat) match {
      case Some(fs) if fs.nonEmpty =>
        if (fs.distinct.size != 1)
          return Left(s"mixed SampleFormat ${fs.mkString(",")}")
        fs.head
      case _ => r.scalar(SampleFormat).map(_.toInt).getOrElse(1)
    }

    val epsgKeyed = r.shorts(GeoKeyDirectory).flatMap { keys =>
      // header (4 shorts) then 4-short key entries
      val entries = keys.drop(4).grouped(4).toSeq
      def key(id: Int) = entries.find(e => e.headOption.contains(id))
        .collect { case Seq(_, 0, _, value) => value }
      key(ProjectedCSTypeGeoKey).map((_, false))
        .orElse(key(GeographicTypeGeoKey).map((_, true)))
    }
    val epsg = epsgKeyed.map(_._1)

    // the tiepoint anchors RASTER pixel (I, J) = (tie(0), tie(1)) at
    // model (X, Y) = (tie(3), tie(4)) — crop/subset tools emit
    // nonzero I/J, and ignoring them shifts the whole raster:
    // x0 = X - I*xres, y0 = Y + J*yres
    val transform = for {
      scale <- r.doubles(ModelPixelScale) if scale.size >= 2
      tie <- r.doubles(ModelTiepoint) if tie.size >= 6
    } yield Seq(tie(3) - tie(0) * scale(0), scale(0), 0.0,
      tie(4) + tie(1) * scale(1), 0.0, -scale(1))

    val nodata = r.ascii(GdalNodata)
      .flatMap(s => scala.util.Try(s.toDouble).toOption)

    Right(RasterMeta(w, h, bits, spp,
      r.scalar(TileWidth), r.scalar(TileLength), epsg, transform, nodata,
      epsgIsGeographic = epsgKeyed.map(_._2), sampleFormat = fmt))
  }

  def parse(bytes: Array[Byte]): Either[String, RasterMeta] = try {
    if (bytes.length < 8) return Left("not recognized: too short")
    metaOf(new TagReader(bytes))
  } catch {
    case e: Exception => Left(s"not recognized: ${e.getMessage}")
  }

  /** Decode the pixel samples of a single-band raster to a row-major
    * float grid — the read half of `cog_translate` for `.tif` inputs
    * (`cogify/handler.py:233-243`). Supported: compression none (1),
    * LZW (5), new-style JPEG (7, 8-bit, shared-tables or
    * interchange streams), DEFLATE (8 / legacy 32946) or PackBits
    * (32773), with optional horizontal-differencing predictor (tag
    * 317 = 2) on the integer sample types; tiled or stripped layout,
    * 8/16-bit unsigned ints and 32-bit IEEE floats. Anything else →
    * `Left(reason)` (the quarantine path, never a wrong grid). */
  def readSamples(bytes: Array[Byte])
  : Either[String, (RasterMeta, Array[Float])] =
    readBands(bytes).flatMap { case (m, bands) =>
      if (bands.length != 1)
        Left(s"unsupported: ${bands.length} samples/pixel")
      else Right((m, bands(0)))
    }

  /** Decode ALL bands of a raster to row-major float grids (band-
    * major) — the multi-band superset of [[readSamples]] covering the
    * RGB / YCbCr-JPEG browse imagery the reference's GDAL path
    * ingests (`cogify/handler.py:151-220`). Multi-band constraints:
    * chunky (PlanarConfiguration 1) or band-sequential planar (2 —
    * each band's segments stored contiguously, band 0's strips/tiles
    * first, per TIFF 6.0 §"PlanarConfiguration"), 3 samples per
    * pixel, photometric RGB (2) — or, under JPEG compression, YCbCr
    * (6) as well, which the JDK decoder returns as RGB (the same
    * YCbCr→RGB conversion GDAL applies by default). Planar JPEG and
    * raw (non-JPEG) YCbCr stay quarantined. Anything else →
    * `Left(reason)`, never a wrong grid. */
  def readBands(bytes: Array[Byte])
  : Either[String, (RasterMeta, Array[Array[Float]])] =
    readBandsAt(bytes, 0)

  /** Number of IFDs in the chain: 1 + overview count (a COG written
    * with overviews chains one reduced-resolution IFD per level). */
  def ifdCount(bytes: Array[Byte]): Either[String, Int] = try {
    // hostile-input guards (found by FuzzSpec): a mutated chain whose
    // next-IFD pointer loops back spins forever without the visited
    // set, and a pointer-dense file could chain absurdly long — both
    // fail closed like any other malformed structure
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var n = 0
    var more = true
    while (more) {
      val r = new TagReader(bytes, n)
      require(seen.add(r.selfOffset), "IFD chain cycle")
      // real COGs carry ~10-20 overview IFDs; the constructor re-walks
      // the chain per index, so the cap also bounds the quadratic walk
      require(n < 4096, "IFD chain too long")
      n += 1
      more = r.nextIfdOffset != 0
    }
    Right(n)
  } catch {
    case e @ (_: IllegalArgumentException | _: IndexOutOfBoundsException |
              _: java.nio.BufferUnderflowException) =>
      Left(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
  }

  /** [[readBands]] against a specific IFD in the chain — index 0 is
    * the full-resolution image, 1+ the overview levels. Overview IFDs
    * carry no geo tags, so their `RasterMeta.transform` is None. */
  def readBandsAt(bytes: Array[Byte], ifdIndex: Int)
  : Either[String, (RasterMeta, Array[Array[Float]])] = try {
    val r = new TagReader(bytes, ifdIndex)
    metaOf(r).flatMap { m =>
      val spp = m.samplesPerPixel
      if (spp != 1 && spp != 3)
        return Left(s"unsupported: $spp samples/pixel")
      val compression = r.scalar(Compression).getOrElse(1L).toInt
      // PlanarConfiguration only matters with >1 sample per pixel
      val planar =
        if (spp == 1) 1 else r.scalar(PlanarConfig).getOrElse(1L).toInt
      if (spp == 3) {
        if (planar != 1 && planar != 2)
          return Left(s"unsupported planar configuration $planar")
        if (planar == 2 && compression == 7)
          // JPEG always encodes interleaved MCUs; a planar JPEG TIFF
          // is contradictory enough that GDAL itself warns — refuse
          return Left("unsupported: planar JPEG")
        val photometric = r.scalar(Photometric).getOrElse(1L).toInt
        val okPhoto =
          if (compression == 7) photometric == 2 || photometric == 6
          else photometric == 2
        if (!okPhoto)
          return Left(s"unsupported photometric $photometric " +
            s"for 3-band compression $compression")
      }
      if (!Set(1, 5, 7, 8, 32773, 32946)(compression))
        return Left(s"unsupported compression $compression")
      val fmt = m.sampleFormat
      val predictor = r.scalar(Predictor).getOrElse(1L).toInt
      if (predictor != 1 && predictor != 2)
        return Left(s"unsupported predictor $predictor")
      if (predictor == 2 && fmt == 3)
        return Left("predictor 2 is only defined for integer samples")
      val sampleBytes = m.bitsPerSample / 8
      val decodeOk = (m.bitsPerSample, fmt) match {
        case (8, 1) | (16, 1) | (32, 3) => true
        case _ => false
      }
      if (!decodeOk)
        return Left(
          s"unsupported sample type: ${m.bitsPerSample}-bit format $fmt")
      // new-style JPEG (7): each segment is its own JPEG stream,
      // 8-bit gray or color (browse imagery; the reference's
      // GDAL path ingests these before re-writing deflate COGs,
      // `cogify/handler.py:151-220`). DQT/DHT may live once in the
      // JPEGTables tag — merged per segment before handing to the
      // JDK decoder. Predictors are not defined for JPEG.
      if (compression == 7 && (m.bitsPerSample != 8 || fmt != 1))
        return Left(
          s"unsupported JPEG sample type: ${m.bitsPerSample}-bit format $fmt")
      if (compression == 7 && predictor != 1)
        return Left("predictor is not defined for JPEG compression")
      val jpegTables = r.rawBytes(JpegTables)

      // decode bomb guard (FuzzSpec geotiff-decode): header-declared
      // dims reach the raster allocation and the per-segment copy
      // loops verbatim — a bit-flipped width on a 218-byte fixture
      // demanded an 8.8e12-cell raster and ground the copy loop for
      // 70+ s before failing. The whole file is an in-memory byte
      // array, so a raster past MaxDecodeCells (2^28 cells = 1 GiB of
      // float32 per band) is far beyond anything this decoder is
      // asked to materialize — fail closed on the HEADER, before any
      // allocation or loop. Long math: no overflow in the product.
      if (m.width <= 0 || m.height <= 0 ||
          m.width * m.height > MaxDecodeCells)
        return Left(s"raster too large to decode: ${m.width}x${m.height}")
      val w = m.width.toInt; val h = m.height.toInt
      // planar (2): each segment carries ONE band's samples, so the
      // in-segment pixel stride is a single sample and the predictor
      // differences one channel per row
      val bandsPerSeg = if (planar == 2) 1 else spp
      val pixelBytes = sampleBytes * bandsPerSeg
      val out = Array.fill(spp)(new Array[Float](w * h))
      // segment geometry: tiles or strips
      val (segW, segH, offsets, counts) = (m.tileWidth, m.tileHeight) match {
        case (Some(tw), Some(th)) =>
          // same bomb class for tile dims (validated on the Longs,
          // BEFORE the Int truncation can wrap them positive-small)
          if (tw <= 0 || th <= 0 || tw * th > MaxDecodeCells)
            return Left(s"tile too large to decode: ${tw}x$th")
          (tw.toInt, th.toInt,
            r.longArray(TileOffsets).getOrElse(
              return Left("tiled but no TileOffsets")),
            r.longArray(TileByteCounts).getOrElse(
              return Left("tiled but no TileByteCounts")))
        case _ =>
          // clamp to the image height BEFORE the Int cast: the TIFF
          // "infinity" value 0xFFFFFFFF (single-strip shorthand some
          // writers emit) would truncate to a NEGATIVE segH and the
          // copy loop would silently produce an all-zero grid
          val rps0 = r.scalar(RowsPerStrip).getOrElse(m.height)
          if (rps0 <= 0) return Left(s"bad RowsPerStrip $rps0")
          val rps = math.min(rps0, m.height).toInt
          (w, rps,
            r.longArray(StripOffsets).getOrElse(
              return Left("no StripOffsets")),
            r.longArray(StripByteCounts).getOrElse(
              return Left("no StripByteCounts")))
      }
      val segsAcross = (w + segW - 1) / segW
      // planar: the segment list is band-major — all of band 0's
      // strips/tiles, then band 1's, then band 2's (TIFF 6.0)
      val segsPerBand =
        if (planar == 2) {
          if (offsets.length % spp != 0)
            return Left(s"planar segment count ${offsets.length} " +
              s"not divisible by $spp bands")
          offsets.length / spp
        } else offsets.length
      offsets.indices.foreach { s =>
        val raw = bytes.slice(offsets(s).toInt,
          (offsets(s) + counts(s)).toInt)
        // Long math: segW*segH ≤ MaxDecodeCells, but ×pixelBytes (up
        // to 12 for 3-band float) can still pass Int.MaxValue — a cap
        // that wrapped negative would throw inside the decoder instead
        // of failing closed here
        val capL = segW.toLong * segH * pixelBytes
        if (capL > Int.MaxValue)
          return Left(s"segment too large to decode: ${segW}x$segH " +
            s"at $pixelBytes B/px")
        val cap = capL.toInt
        val seg = compression match {
          case 1     => raw
          case 5     => lzwDecode(raw, cap)
          case 7     => jpegDecode(raw, jpegTables, segW, segH, spp)
          case 32773 => packbitsDecode(raw, cap)
          case _     => inflate(raw, cap)
        }
        if (predictor == 2)
          undoPredictor(seg, segW, sampleBytes, bandsPerSeg, r.order)
        val sb = ByteBuffer.wrap(seg).order(r.order)
        val band0 = s / segsPerBand      // 0 for chunky
        val sPos = s % segsPerBand       // position within the band
        val x0 = (sPos % segsAcross) * segW
        val y0 = (sPos / segsAcross) * segH
        // fail closed on a short segment (truncated LZW/PackBits
        // bitstream, lying byte counts): the rows this segment must
        // cover — tiles pad to full extent, a LAST strip may
        // legitimately carry only the remaining rows — must all be
        // present, or the grid would silently keep zeros where the
        // file lost data ("Left(reason), never a wrong grid")
        val rowsNeeded = math.max(0, math.min(segH, h - y0))
        if (seg.length < rowsNeeded.toLong * segW * pixelBytes)
          return Left(s"segment $s decoded short: ${seg.length} of " +
            s"${rowsNeeded.toLong * segW * pixelBytes} bytes")
        // clamp the x walk to the raster intersection up front: the
        // columns past `w` are edge-tile pad with nothing to copy, and
        // iterating them anyway turns an inflated tile width into a
        // per-row busy loop (same bomb class as the dims guard above)
        val xMax = math.min(segW.toLong, w.toLong - x0).toInt
        // row by row: the row's samples as floats, with the sample read
        // chosen once per row, not per sample (decodeOk admits uint8,
        // uint16 and float32 only); the short-segment check above
        // guarantees the bytes are all there
        val rowN = math.max(0, xMax) * bandsPerSeg
        val vals = new Array[Float](rowN)
        var y = 0
        while (y < rowsNeeded && rowN > 0) {
          val at = y * segW * bandsPerSeg // first sample of the row
          var k = 0
          sampleBytes match {
            case 1 => while (k < rowN) {
              vals(k) = (seg(at + k) & 0xFF).toFloat; k += 1 }
            case 2 => while (k < rowN) {
              vals(k) = (sb.getShort(2 * (at + k)) & 0xFFFF).toFloat; k += 1 }
            case _ => while (k < rowN) {
              vals(k) = sb.getFloat(4 * (at + k)); k += 1 }
          }
          val row = (y0 + y) * w + x0
          if (bandsPerSeg == 1)
            System.arraycopy(vals, 0, out(band0), row, rowN)
          else {
            var x = 0
            while (x < xMax) {
              var b = 0
              while (b < bandsPerSeg) {
                out(band0 + b)(row + x) = vals(x * bandsPerSeg + b)
                b += 1
              }
              x += 1
            }
          }
          y += 1
        }
      }
      Right((m, out))
    }
  } catch {
    case e: Exception => Left(s"sample read failed: ${e.getMessage}")
  }

  private def inflate(compressed: Array[Byte], maxLen: Int): Array[Byte] =
    GeoTiffWriter.inflateFully(compressed, maxLen)

  /** Decode one new-style-JPEG segment to row-major 8-bit samples in
    * a segW×segH buffer (edge segments leave the pad at 0 and the
    * caller's copy loop clips to the raster bounds anyway). When the
    * strip is an abbreviated stream, its DQT/DHT arrive separately in
    * the JPEGTables tag (TIFF TechNote 2): both streams are SOI..EOI
    * framed, so the merged stream is SOI + tables' segments + the
    * strip's segments — which the JDK ImageIO decoder reads as a
    * plain interchange JPEG. */
  private def jpegDecode(raw: Array[Byte], tables: Option[Array[Byte]],
                         segW: Int, segH: Int, spp: Int): Array[Byte] = {
    require(raw.length >= 4 && (raw(0) & 0xFF) == 0xFF &&
      (raw(1) & 0xFF) == 0xD8, "JPEG segment does not start with SOI")
    val stream = tables match {
      case Some(t) if t.length >= 4 =>
        require((t(0) & 0xFF) == 0xFF && (t(1) & 0xFF) == 0xD8,
          "JPEGTables does not start with SOI")
        // SOI + tables minus its SOI/EOI + strip minus its SOI
        val tBody = t.slice(2, t.length -
          (if ((t(t.length - 2) & 0xFF) == 0xFF &&
               (t(t.length - 1) & 0xFF) == 0xD9) 2 else 0))
        val out = new Array[Byte](2 + tBody.length + (raw.length - 2))
        out(0) = 0xFF.toByte; out(1) = 0xD8.toByte
        System.arraycopy(tBody, 0, out, 2, tBody.length)
        System.arraycopy(raw, 2, out, 2 + tBody.length, raw.length - 2)
        out
      case _ => raw
    }
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(stream))
    require(img != null, "JPEG segment did not decode")
    require(img.getRaster.getNumBands == spp,
      s"JPEG band count ${img.getRaster.getNumBands} != $spp declared")
    val out = new Array[Byte](segW * segH * spp)
    val ras = img.getRaster
    val ih = math.min(img.getHeight, segH)
    val iw = math.min(img.getWidth, segW)
    var y = 0
    while (y < ih) {
      var x = 0
      while (x < iw) {
        var b = 0
        while (b < spp) {
          out((y * segW + x) * spp + b) = ras.getSample(x, y, b).toByte
          b += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing,
    * ClearCode=256, EOI=257, 9→12-bit codes with the spec's
    * early-change convention (width grows when the NEXT table slot is
    * 2^bits - 1 — one code earlier than classic GIF LZW). */
  private def lzwDecode(data: Array[Byte], maxLen: Int): Array[Byte] = {
    val Clear = 256; val Eoi = 257
    val out = new java.io.ByteArrayOutputStream(math.min(maxLen, 1 << 20))
    val table = new Array[Array[Byte]](4096)
    var next = 258
    var codeBits = 9
    var bitPos = 0L
    val totalBits = data.length.toLong * 8
    def readCode(): Int = {
      if (bitPos + codeBits > totalBits) return Eoi
      var v = 0; var i = 0
      while (i < codeBits) {
        val p = bitPos + i
        val bit = (data((p >>> 3).toInt) >>> (7 - (p & 7).toInt)) & 1
        v = (v << 1) | bit
        i += 1
      }
      bitPos += codeBits
      v
    }
    def entry(c: Int): Array[Byte] =
      if (c < 256) Array(c.toByte)
      else if (c >= 258 && table(c) != null) table(c)
      else throw new IllegalArgumentException(s"corrupt LZW: code $c")
    var prev: Array[Byte] = null
    var done = false
    while (!done && out.size < maxLen) {
      val code = readCode()
      if (code == Eoi) done = true
      else if (code == Clear) { // consecutive Clears are legal no-ops
        java.util.Arrays.fill(table.asInstanceOf[Array[AnyRef]], null)
        next = 258; codeBits = 9; prev = null
      } else {
        // KwKwK: the code being read IS the entry about to be defined
        val e =
          if (code == next && prev != null) prev :+ prev(0)
          else entry(code)
        out.write(e)
        if (prev != null && next < 4096) { table(next) = prev :+ e(0); next += 1 }
        prev = e
        if (next == (1 << codeBits) - 1 && codeBits < 12) codeBits += 1
      }
    }
    out.toByteArray
  }

  /** PackBits (TIFF 6.0 §9): n>=0 → copy n+1 literals; -127<=n<0 →
    * repeat next byte 1-n times; -128 → no-op. */
  private def packbitsDecode(data: Array[Byte], maxLen: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(maxLen, 1 << 20))
    var i = 0
    while (i < data.length && out.size < maxLen) {
      val n = data(i).toInt
      if (n >= 0) {
        val cnt = math.min(n + 1, data.length - i - 1)
        out.write(data, i + 1, cnt)
        i += 1 + n + 1
      } else if (n != -128) {
        if (i + 1 < data.length) {
          val b = data(i + 1); var k = 0
          while (k < 1 - n) { out.write(b); k += 1 }
        }
        i += 2
      } else i += 1
    }
    out.toByteArray
  }

  /** Undo the horizontal-differencing predictor (tag 317 = 2), in
    * place per segment row (edge tiles pad to full segW): each sample
    * is differenced against the SAME CHANNEL of the previous pixel,
    * so the stride is one pixel (spp samples), per spec. */
  private def undoPredictor(seg: Array[Byte], segW: Int, sampleBytes: Int,
                            spp: Int, order: ByteOrder): Unit = {
    val rowBytes = segW * spp * sampleBytes
    val rows = seg.length / rowBytes
    if (sampleBytes == 1) {
      var y = 0
      while (y < rows) {
        val base = y * rowBytes; var i = spp
        while (i < segW * spp) {
          seg(base + i) = (seg(base + i) + seg(base + i - spp)).toByte
          i += 1
        }
        y += 1
      }
    } else {
      val bb = ByteBuffer.wrap(seg).order(order)
      var y = 0
      while (y < rows) {
        val base = y * rowBytes; var i = spp
        while (i < segW * spp) {
          val p = base + i * 2
          bb.putShort(p, (bb.getShort(p) + bb.getShort(p - 2 * spp)).toShort)
          i += 1
        }
        y += 1
      }
    }
  }

  /** One scanned row: path + either metadata or the fallback reason. */
  case class ScanResult(path: String, ok: Boolean, error: String,
                        width: Long, height: Long, bitsPerSample: Int,
                        samplesPerPixel: Int, epsg: Option[Int],
                        transform: Option[Seq[Double]])

  /** Scan a `binaryFile` DataFrame (path, content) partition-parallel;
    * unparseable files carry the fallback reason instead of failing the
    * job (the reference's metadata-only fallback, `stac.py:88-93`). */
  def scanMetadata(media: DataFrame): Dataset[ScanResult] = {
    val spark = media.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    media.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (path, bytes) =>
        parse(bytes) match {
          case Right(m) => ScanResult(path, ok = true, null, m.width,
            m.height, m.bitsPerSample, m.samplesPerPixel, m.epsg,
            m.transform)
          case Left(err) => ScanResult(path, ok = false, err, 0, 0, 0, 0,
            None, None)
        }
      })
  }
}
