package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.stream.IntStream
import java.util.zip.Deflater
import scala.collection.immutable.ArraySeq

/** K3 — minimal cloud-optimized GeoTIFF writer: the inverse of
  * [[GeoTiff]]'s parser, replacing the reference's GDAL
  * `cog_translate` profile (`cogify/handler.py:151-220` /
  * rio-cogeo "deflate" profile: tiled 256×256 or 512×512 blocks,
  * DEFLATE compression, the source sample type, geo tags, nodata, and
  * reduced-resolution overview IFDs).
  *
  * Layout is COG-shaped: header + ALL IFDs + tag arrays first, tile
  * data after, so a range-reader gets the full metadata (including
  * every overview's tile index) from the first few KB. Overviews
  * follow rio-cogeo's defaults: nearest-neighbour resampling, factor
  * 2 per level, levels until the smallest fits the block size
  * (`get_maximum_overview_level`), each marked
  * NewSubfileType=reduced-image. Pure JVM (java.util.zip.Deflater) —
  * no GDAL. Tiles compress in parallel, as GDAL_NUM_THREADS=ALL_CPUS
  * does (see `compressLevels`), with bytes identical to a serial
  * write.
  */
object GeoTiffWriter {

  case class Geo(
      /** GDAL geotransform [x0, xres, 0, y0, 0, yres] (yres < 0). */
      transform: Seq[Double],
      epsg: Int = 4326,
      /** Which GeoKey `epsg` belongs in: Some(true) = GeographicType
        * (2048), Some(false) = ProjectedCSType (3072). None falls
        * back to the 4xxx-range heuristic — callers that KNOW the
        * kind (a re-tile carrying the source's key) must pass it:
        * EPSG 4087 is projected yet sits in 4000..4999. */
      epsgIsGeographic: Option[Boolean] = None)

  /** rio-cogeo `get_maximum_overview_level`: overview count such that
    * the smallest level's min dimension fits the block size. */
  def overviewLevels(width: Int, height: Int, tileSize: Int): Int = {
    var level = 0
    var factor = 1
    while (math.min(width / factor, height / factor) > tileSize) {
      factor *= 2
      level += 1
    }
    level
  }

  /** Nearest-neighbour 2× reduction (rio-cogeo's default overview
    * resampling), band-independent, `ceil(dim/2)` output dims. */
  private def halveNearest(data: Array[Float], w: Int, h: Int)
  : (Array[Float], Int, Int) = {
    val w2 = (w + 1) / 2; val h2 = (h + 1) / 2
    val out = new Array[Float](w2 * h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        out(y * w2 + x) = data(math.min(2 * y, h - 1) * w +
          math.min(2 * x, w - 1))
        x += 1
      }
      y += 1
    }
    (out, w2, h2)
  }

  /** Output sample type: TIFF BitsPerSample + SampleFormat (1 =
    * unsigned int, 3 = IEEE float) — the three [[GeoTiff]] decodes,
    * so a re-tile keeps its source's dtype as `cog_translate` does. */
  case class SampleType(bits: Int, format: Int) {
    require(Set((8, 1), (16, 1), (32, 3))((bits, format)),
      s"unsupported sample type: $bits-bit format $format")
    /** Whether `v` is a value of this type: GDAL_NODATA is written only
      * then, since padding with a clamped sentinel would make the tag
      * and the padded pixels disagree. */
    def holds(v: Double): Boolean =
      format == 3 || (v == math.rint(v) && v >= 0 && v < (1L << bits))
  }
  val UInt8: SampleType = SampleType(8, 1)
  val UInt16: SampleType = SampleType(16, 1)
  val Float32: SampleType = SampleType(32, 3)

  /** One resolution level ready for assembly: dims + block (tile)
    * size + deflated tiles — overview levels carry their own block
    * size (the reference profile sets GDAL_TIFF_OVR_BLOCKSIZE=128,
    * distinct from the 256 data blocks). */
  private case class Level(width: Int, height: Int, tile: Int,
                           tiles: Seq[Array[Byte]])

  /** One resolution level before compression: a row-major grid per
    * band, cut into `tile`×`tile` blocks. */
  private case class Grid(bands: Array[Array[Float]], width: Int,
                          height: Int, tile: Int) {
    val tilesAcross: Int = (width + tile - 1) / tile
    val tileCount: Int = tilesAcross * ((height + tile - 1) / tile)
  }

  /** Every resolution level of a COG, deflated: level 0 plus the
    * nearest-neighbour overview halvings (cheap, all computed first),
    * then every (level, tile) packed and deflated as ONE batch on the
    * JVM's common ForkJoin pool — its workers plus the calling task
    * thread, the counterpart of GDAL_NUM_THREADS=ALL_CPUS — so one
    * large raster does not compress on a single thread. Each tile
    * deflates independently and deterministically and results keep
    * level/row/column order, so the bytes equal a one-tile-at-a-time
    * write.
    *
    * @param pack packs tile (tx, ty) of a grid into its uncompressed
    *             bytes */
  private def compressLevels(bands: Array[Array[Float]], width: Int,
                             height: Int, tileSize: Int, overviews: Boolean,
                             ovrTileSize: Int,
                             pack: (Grid, Int, Int) => Array[Byte])
  : Seq[Level] = {
    val nLevels = if (overviews) overviewLevels(width, height, tileSize)
                  else 0
    val grids = Seq.iterate(Grid(bands, width, height, tileSize),
      nLevels + 1) { g =>
      val halved = g.bands.map(b => halveNearest(b, g.width, g.height))
      // overview block geometry follows GDAL_TIFF_OVR_BLOCKSIZE
      Grid(halved.map(_._1), halved.head._2, halved.head._3, ovrTileSize)
    }
    val jobs = grids.flatMap(g => (0 until g.tileCount).map(g -> _))
      .toArray
    val tiles = new Array[Array[Byte]](jobs.length)
    IntStream.range(0, jobs.length).parallel().forEach { i =>
      val (g, t) = jobs(i)
      tiles(i) = deflate(pack(g, t % g.tilesAcross, t / g.tilesAcross))
    }
    grids.zip(grids.scanLeft(0)(_ + _.tileCount)).map { case (g, from) =>
      Level(g.width, g.height, g.tile,
        ArraySeq.unsafeWrapArray(tiles.slice(from, from + g.tileCount)))
    }
  }

  /** Pack tile (tx, ty) of `g` into its uncompressed chunky bytes:
    * each pixel's bands interleaved, each sample `st.bits` wide,
    * little-endian. Integer types clamp-round to their range; pixels
    * past the raster edge take `pad`. Row by row: the row's samples are
    * gathered as floats, then stored with the sample write chosen once
    * per row (the writer's mirror of [[GeoTiff]]'s row decode). */
  private def packTile(g: Grid, tx: Int, ty: Int, st: SampleType,
                       pad: Float): Array[Byte] = {
    val ts = g.tile
    val spp = g.bands.length
    val out = new Array[Byte](ts * ts * spp * st.bits / 8)
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    val row = new Array[Float](ts * spp)
    // pixels of each tile row inside the raster (0 below its last row)
    val inX = math.min(ts, g.width - tx * ts)
    var y = 0
    while (y < ts) {
      val gy = ty * ts + y
      val n = if (gy < g.height) inX else 0
      val at = gy * g.width + tx * ts
      var b = 0
      while (b < spp) {
        val band = g.bands(b)
        var x = 0
        while (x < n) { row(x * spp + b) = band(at + x); x += 1 }
        while (x < ts) { row(x * spp + b) = pad; x += 1 }
        b += 1
      }
      val o = y * ts * spp // first sample of the row in the tile
      var k = 0
      st.bits match {
        case 8 => while (k < row.length) {
          out(o + k) = math.max(0, math.min(255, math.round(row(k)))).toByte
          k += 1 }
        case 16 => while (k < row.length) {
          bb.putShort(2 * (o + k),
            math.max(0, math.min(65535, math.round(row(k)))).toShort)
          k += 1 }
        case _ => while (k < row.length) {
          bb.putFloat(4 * (o + k), row(k)); k += 1 }
      }
      y += 1
    }
    out
  }

  /** Write a single-band float32 tiled GeoTIFF (little-endian) — the
    * science-grid profile ([[writeBands]] with [[Float32]]).
    *
    * @param data row-major width*height samples
    * @param fill nodata value (GDAL_NODATA tag + edge-tile padding)
    * @param overviews write reduced-resolution IFDs (rio-cogeo
    *                  defaults); disable for fixture-sized outputs
    */
  def write(width: Int, height: Int, data: Array[Float],
            geo: Geo, fill: Option[Double] = None,
            tileSize: Int = 256, overviews: Boolean = true,
            ovrTileSize: Int = 128): Array[Byte] =
    writeBands(width, height, Array(data), Float32, Some(geo), fill,
      tileSize, overviews, ovrTileSize)

  /** Write a tiled deflate COG of 1 (gray) or 3 (chunky RGB) bands in
    * `sample`'s dtype — GDAL's `cog_translate` keeps the source dtype,
    * so a uint8 raster or JPEG/LZW browse image re-tiles to uint8, not
    * float32 (`cogify/handler.py:186-220`). Integer samples are
    * clamp-rounded to their range. `fill` is written as GDAL_NODATA and
    * pads edge tiles only when `sample` holds it; otherwise the tag is
    * dropped and edges pad with 0.
    *
    * @param bands band-major, each row-major width*height samples
    * @param geo None omits ModelPixelScale/ModelTiepoint/
    *            GeoKeyDirectory entirely — a re-tile of a source with
    *            no georeferencing must not invent one (cog_translate
    *            carries over what the source has) */
  def writeBands(width: Int, height: Int, bands: Array[Array[Float]],
                 sample: SampleType, geo: Option[Geo],
                 fill: Option[Double] = None, tileSize: Int = 256,
                 overviews: Boolean = true, ovrTileSize: Int = 128)
  : Array[Byte] = {
    require(bands.length == 1 || bands.length == 3,
      s"${bands.length} bands (1 or 3 are written)")
    bands.foreach(b => require(b.length == width * height,
      s"${b.length} samples for ${width}x$height"))
    val nodata = fill.filter(sample.holds)
    val pad = nodata.getOrElse(0.0).toFloat
    val levels = compressLevels(bands, width, height, tileSize, overviews,
      ovrTileSize, packTile(_, _, _, sample, pad))
    assemble(levels, spp = bands.length, sample.bits, sample.format,
      photometric = if (bands.length == 3) 2 else 1, geo, nodata)
  }

  /** Shared COG assembly over a chain of resolution levels: header +
    * every IFD + out-of-line tag arrays first, deflated tile payloads
    * after (metadata-first = range-reader friendly). Level 0 is the
    * full-resolution image and carries the geo tags + GDAL_NODATA;
    * levels 1+ are overviews marked NewSubfileType=1. Multi-band
    * emits SHORT[spp] BitsPerSample/SampleFormat arrays (off-slot)
    * and a chunky PlanarConfiguration entry. */
  private def assemble(levels: Seq[Level], spp: Int, bits: Int,
                       fmt: Int, photometric: Int, geo: Option[Geo],
                       fill: Option[Double]): Array[Byte] = {
    geo.foreach(g =>
      require(g.transform.size == 6, "geotransform needs 6 terms"))
    case class Entry(tag: Int, typ: Int, cnt: Int, value: Long)
    // GDAL_NODATA is NUL-terminated ASCII; the count includes the NUL
    val nodataAscii = fill.map(f =>
      trimmedDouble(f).getBytes("US-ASCII") :+ 0.toByte)
    val multi = spp > 1

    // ---- pass 1: lay out every IFD + its out-of-line arrays --------
    // per-level entry counts: every level carries dims(2) bps
    // compression photometric spp [planar] tiles(4) sampleformat;
    // level 0 adds the geo block (×3) [+ nodata], overviews add
    // NewSubfileType instead
    def nEntries(li: Int): Int =
      (11 + (if (multi) 1 else 0)
         + (if (li == 0) (if (geo.isDefined) 3 else 0) + nodataAscii.size
            else 1))

    val ifdOffsets = new Array[Int](levels.size)
    var cursor = 8
    levels.indices.foreach { li =>
      ifdOffsets(li) = cursor
      cursor += 2 + nEntries(li) * 12 + 4
    }
    var dataOff = cursor
    def alloc(n: Int): Int = { val o = dataOff; dataOff += n; o }

    case class LevelLayout(tileOffsetsOff: Int, tileCountsOff: Int,
                           bpsOff: Int, fmtOff: Int)
    val layouts = levels.map { lv =>
      val n = lv.tiles.size
      LevelLayout(
        if (n > 1) alloc(n * 4) else 0,
        if (n > 1) alloc(n * 4) else 0,
        if (multi) alloc(spp * 2) else 0,
        if (multi) alloc(spp * 2) else 0)
    }
    val scaleOff = if (geo.isDefined) alloc(24) else 0
    val tieOff = if (geo.isDefined) alloc(48) else 0
    val geoKeysOff = if (geo.isDefined) alloc(16) else 0
    // TIFF 6.0: values of count*size <= 4 bytes MUST live inline in
    // the value slot — only longer nodata strings go out of line
    val nodataOff = nodataAscii.filter(_.length > 4)
      .map(b => alloc((b.length + 1) / 2 * 2))
    val tileDataStart = dataOff
    // tile data in level order; offsets per level
    val levelTileOffsets = {
      var off = tileDataStart.toLong
      levels.map { lv =>
        val offs = lv.tiles.scanLeft(off)(_ + _.length)
        off = offs.last
        offs
      }
    }

    // classic TIFF carries 32-bit offsets; this writer additionally
    // assembles in one byte array, so fail with a CLEAR message well
    // before an Int wrap turns into a cryptic allocation error (a
    // 100 TB pipeline writes many granule-sized COGs, not one mosaic
    // this large — BigTIFF would be the format for that)
    val totalBytes = levelTileOffsets.last.last
    require(totalBytes <= Int.MaxValue - 8,
      s"COG would be $totalBytes bytes — beyond the classic-TIFF " +
        "32-bit offset envelope of this writer; tile the output into " +
        "multiple granule-sized COGs")
    val out = ByteBuffer.allocate(totalBytes.toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte); out.put('I'.toByte)
    out.putShort(2, 42)
    out.putInt(4, ifdOffsets(0))

    // ---- pass 2: write each IFD ------------------------------------
    levels.indices.foreach { li =>
      val lv = levels(li)
      val lay = layouts(li)
      val nTiles = lv.tiles.size
      val tileOffsets = levelTileOffsets(li)
      val entries =
        (if (li > 0) Seq(Entry(254, 4, 1, 1)) // NewSubfileType: reduced
         else Nil) ++ Seq(
        Entry(256, 4, 1, lv.width),           // ImageWidth
        Entry(257, 4, 1, lv.height),          // ImageLength
        Entry(258, 3, spp,                    // BitsPerSample
          if (multi) lay.bpsOff else bits),
        Entry(259, 3, 1, 8),                  // Compression: DEFLATE
        Entry(262, 3, 1, photometric),        // Photometric
        Entry(277, 3, 1, spp)) ++             // SamplesPerPixel
        (if (multi) Seq(Entry(284, 3, 1, 1))  // PlanarConfig: chunky
         else Nil) ++ Seq(
        Entry(322, 3, 1, lv.tile),            // TileWidth
        Entry(323, 3, 1, lv.tile),            // TileLength
        Entry(324, 4, nTiles,                 // TileOffsets
          if (nTiles == 1) tileOffsets.head else lay.tileOffsetsOff),
        Entry(325, 4, nTiles,                 // TileByteCounts
          if (nTiles == 1) lv.tiles.head.length else lay.tileCountsOff),
        Entry(339, 3, spp,                    // SampleFormat
          if (multi) lay.fmtOff else fmt)) ++
        (if (li == 0) (if (geo.isDefined) Seq(
          Entry(33550, 12, 3, scaleOff),      // ModelPixelScale
          Entry(33922, 12, 6, tieOff),        // ModelTiepoint
          Entry(34735, 3, 8, geoKeysOff)      // GeoKeyDirectory
        ) else Nil) ++ nodataAscii.map(b =>
          Entry(42113, 2, b.length,
            nodataOff.map(_.toLong).getOrElse(0L))) // GDAL_NODATA
         else Nil)
      require(entries.size == nEntries(li),
        s"level $li: ${entries.size} entries, laid out ${nEntries(li)}")

      val ifdOffset = ifdOffsets(li)
      out.putShort(ifdOffset, entries.size.toShort)
      entries.zipWithIndex.foreach { case (en, i) =>
        val e = ifdOffset + 2 + i * 12
        out.putShort(e, en.tag.toShort)
        out.putShort(e + 2, en.typ.toShort)
        out.putInt(e + 4, en.cnt)
        if (en.typ == 3 && en.cnt == 1) out.putShort(e + 8, en.value.toShort)
        else out.putInt(e + 8, en.value.toInt)
      }
      // next-IFD pointer: chain to the following level, 0 at the end
      out.putInt(ifdOffset + 2 + entries.size * 12,
        if (li + 1 < levels.size) ifdOffsets(li + 1) else 0)

      if (nTiles > 1) {
        tileOffsets.init.zipWithIndex.foreach { case (o, i) =>
          out.putInt(lay.tileOffsetsOff + i * 4, o.toInt) }
        lv.tiles.zipWithIndex.foreach { case (t, i) =>
          out.putInt(lay.tileCountsOff + i * 4, t.length) }
      }
      if (multi) (0 until spp).foreach { i =>
        out.putShort(lay.bpsOff + i * 2, bits.toShort)
        out.putShort(lay.fmtOff + i * 2, fmt.toShort)
      }
      // inline nodata occupies the LAST entry's value slot of IFD 0
      if (li == 0) nodataAscii.foreach { b =>
        if (b.length <= 4) {
          val slot = ifdOffset + 2 + (entries.size - 1) * 12 + 8
          out.position(slot); out.put(b)
        } else { out.position(nodataOff.get); out.put(b) }
      }
    }

    // ---- shared geo arrays (absent when the source had none) -------
    // ModelPixelScale (xres, |yres|, 0) + tiepoint (0,0,0 -> x0,y0,0)
    geo.foreach { g =>
      val t = g.transform
      Seq(t(1), math.abs(t(5)), 0.0).zipWithIndex.foreach { case (v, i) =>
        out.putDouble(scaleOff + i * 8, v) }
      Seq(0.0, 0.0, 0.0, t(0), t(3), 0.0).zipWithIndex.foreach {
        case (v, i) => out.putDouble(tieOff + i * 8, v) }
      // GeoKeyDirectory: header + Geographic or Projected CS key
      val geoKeyId = g.epsgIsGeographic match {
        case Some(gg) => if (gg) 2048 else 3072
        case None => if (g.epsg >= 4000 && g.epsg <= 4999) 2048 else 3072
      }
      Seq(1, 1, 0, 1, geoKeyId, 0, 1, g.epsg).zipWithIndex.foreach {
        case (v, i) => out.putShort(geoKeysOff + i * 2, v.toShort) }
    }

    // ---- tile payloads ---------------------------------------------
    out.position(tileDataStart)
    levels.foreach(_.tiles.foreach(tb => out.put(tb)))
    out.array()
  }

  private def trimmedDouble(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION)
    d.setInput(raw); d.finish()
    val out = new ByteArrayOutputStream(raw.length / 2 + 64)
    val chunk = new Array[Byte](8192)
    while (!d.finished()) out.write(chunk, 0, d.deflate(chunk))
    d.end()
    out.toByteArray
  }

  /** Inflate a DEFLATE segment into at most `maxLen` bytes and return
    * only the bytes the stream produced, so a caller can tell a stream
    * that ends early from a full one. Throws on truncated input
    * (Inflater.inflate returns 0 with needsInput while unfinished)
    * instead of spinning — a partially downloaded file must error, not
    * hang the task. */
  private[graft] def inflateFully(compressed: Array[Byte],
                                  maxLen: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(compressed)
      val raw = new Array[Byte](maxLen)
      var off = 0
      while (!inf.finished() && off < raw.length) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0) {
          if (inf.needsInput() || inf.needsDictionary())
            throw new java.io.IOException(
              "truncated or malformed DEFLATE stream")
          // else finished flips on the next loop check
        }
        off += n
      }
      if (off == raw.length) raw else java.util.Arrays.copyOf(raw, off)
    } finally inf.end()
  }
}
