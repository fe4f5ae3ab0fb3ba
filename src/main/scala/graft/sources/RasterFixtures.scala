package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** Deterministic in-memory GeoTIFF builder — fixture source for the
  * S5 header-scan tests and oracle queries (no GDAL in this
  * environment; bytes follow the published TIFF 6.0 + GeoTIFF specs).
  */
object RasterFixtures {

  /** Minimal valid GeoTIFF: 512x256 uint8, tiles 256x256, EPSG:4326,
    * origin (-180, 90), pixel size 0.1 x 0.05. */
  def geoTiff(order: ByteOrder = ByteOrder.LITTLE_ENDIAN): Array[Byte] = {
    val buf = ByteBuffer.allocate(4096).order(order)
    buf.put(if (order == ByteOrder.LITTLE_ENDIAN) "II".getBytes
            else "MM".getBytes)
    buf.putShort(42)
    buf.putInt(8) // IFD at byte 8
    val entries = 9
    buf.putShort(8, entries.toShort)
    var e = 10
    def entry(tag: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(e, tag.toShort)
      buf.putShort(e + 2, typ.toShort)
      buf.putInt(e + 4, cnt)
      if (typ == 3 && cnt == 1) buf.putShort(e + 8, value.toShort)
      else buf.putInt(e + 8, value.toInt)
      e += 12
    }
    val geoKeysOff = 200
    val scaleOff = 260
    val tieOff = 300
    entry(256, 3, 1, 512)        // ImageWidth
    entry(257, 3, 1, 256)        // ImageLength
    entry(258, 3, 1, 8)          // BitsPerSample
    entry(277, 3, 1, 1)          // SamplesPerPixel
    entry(322, 3, 1, 256)        // TileWidth
    entry(323, 3, 1, 256)        // TileLength
    entry(33550, 12, 3, scaleOff)   // ModelPixelScale
    entry(33922, 12, 6, tieOff)     // ModelTiepoint
    entry(34735, 3, 8, geoKeysOff)  // GeoKeyDirectory
    buf.putInt(e, 0) // next IFD = none
    // GeoKeyDirectory: header + GeographicTypeGeoKey=4326
    val keys = Seq(1, 1, 0, 1, 2048, 0, 1, 4326)
    keys.zipWithIndex.foreach { case (v, i) =>
      buf.putShort(geoKeysOff + i * 2, v.toShort)
    }
    Seq(0.1, 0.05, 0.0).zipWithIndex.foreach { case (v, i) =>
      buf.putDouble(scaleOff + i * 8, v)
    }
    Seq(0.0, 0.0, 0.0, -180.0, 90.0, 0.0).zipWithIndex.foreach {
      case (v, i) => buf.putDouble(tieOff + i * 8, v)
    }
    buf.array()
  }

  /** Plain stripped uint8 TIFF (the "ordinary GeoTIFF input" shape the
    * reference's cog_translate ingests): uncompressed by default;
    * `compression` overridable to fabricate unsupported inputs. */
  def stripTiff(width: Int, height: Int, values: Seq[Int],
                rowsPerStrip: Int = 2, compression: Int = 1): Array[Byte] = {
    require(values.size == width * height)
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val entryCount = 9
    val ifdSize = 2 + entryCount * 12 + 4
    var dataOff = 8 + ifdSize
    def alloc(n: Int): Int = { val o = dataOff; dataOff += n; o }
    val offsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val cntsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val stripBytes = (0 until nStrips).map { s =>
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      rows * width
    }
    val stripStarts = stripBytes.scanLeft(dataOff)(_ + _)

    val buf = ByteBuffer.allocate(stripStarts.last)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte); buf.put('I'.toByte)
    buf.putShort(2, 42); buf.putInt(4, 8)
    buf.putShort(8, entryCount.toShort)
    var e = 10
    def entry(tag: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(e, tag.toShort); buf.putShort(e + 2, typ.toShort)
      buf.putInt(e + 4, cnt)
      if (typ == 3 && cnt == 1) buf.putShort(e + 8, value.toShort)
      else buf.putInt(e + 8, value.toInt)
      e += 12
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    entry(258, 3, 1, 8)
    entry(259, 3, 1, compression)
    entry(262, 3, 1, 1)
    entry(273, 4, nStrips,
      if (nStrips == 1) stripStarts.head else offsOff) // StripOffsets
    entry(277, 3, 1, 1)
    entry(278, 3, 1, rowsPerStrip)
    entry(279, 4, nStrips,
      if (nStrips == 1) stripBytes.head else cntsOff) // StripByteCounts
    buf.putInt(e, 0)
    if (nStrips > 1) (0 until nStrips).foreach { s =>
      buf.putInt(offsOff + s * 4, stripStarts(s))
      buf.putInt(cntsOff + s * 4, stripBytes(s))
    }
    values.zipWithIndex.foreach { case (v, i) =>
      buf.put(stripStarts.head + i, v.toByte)
    }
    buf.array()
  }

  /** zlib-deflate a strip payload (the compression the COG writer
    * emits; here a fixture encoder for compressed-input TIFFs). */
  def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new Array[Byte](raw.length * 2 + 64)
    val n = d.deflate(out); d.end()
    out.take(n)
  }

  /** NAIVE but spec-valid PackBits (TIFF 6.0 §9) fixture encoder:
    * literal runs only, ≤128 bytes each — expands, never errs. */
  def packBitsEncode(raw: Array[Byte]): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte]()
    var i = 0
    while (i < raw.length) {
      val n = math.min(128, raw.length - i)
      out += (n - 1).toByte
      out ++= raw.slice(i, i + n)
      i += n
    }
    out.toArray
  }

  /** NAIVE but spec-valid TIFF-LZW fixture encoder: emits ONLY
    * literal byte codes (never dictionary hits), while tracking the
    * table growth a conforming decoder performs so the 9→12-bit
    * early-change width bumps line up exactly (TIFF 6.0 §13). The
    * stream is longer than the input but exercises every width. */
  def lzwEncodeNaive(raw: Array[Byte]): Array[Byte] = {
    val out = new scala.collection.mutable.ArrayBuffer[Byte]()
    var acc = 0L; var nbits = 0
    def write(v: Int, w: Int): Unit = {
      acc = (acc << w) | v; nbits += w
      while (nbits >= 8) {
        out += ((acc >>> (nbits - 8)) & 0xFF).toByte; nbits -= 8
      }
    }
    var width = 9
    var next = 258
    write(256, width) // Clear
    var i = 0
    while (i < raw.length) {
      write(raw(i) & 0xFF, width)
      // from the 2nd symbol on, the decoder defines a table entry and
      // widens when the NEXT slot is 2^width - 1 (early change)
      if (i > 0 && next < 4096) {
        next += 1
        if (next == (1 << width) - 1 && width < 12) width += 1
      }
      i += 1
    }
    write(257, width) // EOI
    if (nbits > 0) out += ((acc << (8 - nbits)) & 0xFF).toByte
    out.toArray
  }

  /** Stripped uint8 TIFF whose strip payloads pass through `encode`
    * (deflate, LZW, PackBits…), with optional horizontal-differencing
    * predictor applied to the raw rows BEFORE encoding — fabricates
    * the compressed layouts `GeoTiff.readSamples` must undo. */
  def stripTiffEncoded(width: Int, height: Int, values: IndexedSeq[Int],
                       rowsPerStrip: Int, compression: Int,
                       encode: Array[Byte] => Array[Byte],
                       predictor: Int = 1): Array[Byte] = {
    require(values.size == width * height)
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val payloads = (0 until nStrips).map { s =>
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      val raw = Array.tabulate(rows * width)(i =>
        values((s * rowsPerStrip + i / width) * width + i % width).toByte)
      if (predictor == 2) {
        var y = 0
        while (y < rows) { // difference right-to-left so lefts stay raw
          var x = width - 1
          while (x > 0) {
            raw(y * width + x) =
              (raw(y * width + x) - raw(y * width + x - 1)).toByte
            x -= 1
          }
          y += 1
        }
      }
      encode(raw)
    }
    val entryCount = if (predictor != 1) 10 else 9
    val ifdSize = 2 + entryCount * 12 + 4
    var dataOff = 8 + ifdSize
    def alloc(n: Int): Int = { val o = dataOff; dataOff += n; o }
    val offsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val cntsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val stripStarts = payloads.map(_.length).scanLeft(dataOff)(_ + _)

    val buf = ByteBuffer.allocate(stripStarts.last)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte); buf.put('I'.toByte)
    buf.putShort(2, 42); buf.putInt(4, 8)
    buf.putShort(8, entryCount.toShort)
    var e = 10
    def entry(tag: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(e, tag.toShort); buf.putShort(e + 2, typ.toShort)
      buf.putInt(e + 4, cnt)
      if (typ == 3 && cnt == 1) buf.putShort(e + 8, value.toShort)
      else buf.putInt(e + 8, value.toInt)
      e += 12
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    entry(258, 3, 1, 8)
    entry(259, 3, 1, compression)
    entry(262, 3, 1, 1)
    entry(273, 4, nStrips,
      if (nStrips == 1) stripStarts.head else offsOff)
    entry(277, 3, 1, 1)
    entry(278, 3, 1, rowsPerStrip)
    entry(279, 4, nStrips,
      if (nStrips == 1) payloads.head.length else cntsOff)
    if (predictor != 1) entry(317, 3, 1, predictor)
    buf.putInt(e, 0)
    if (nStrips > 1) (0 until nStrips).foreach { s =>
      buf.putInt(offsOff + s * 4, stripStarts(s))
      buf.putInt(cntsOff + s * 4, payloads(s).length)
    }
    payloads.zipWithIndex.foreach { case (p, s) =>
      System.arraycopy(p, 0, buf.array(), stripStarts(s), p.length)
    }
    buf.array()
  }

  /** 3-band chunky (interleaved) 8-bit RGB TIFF, stripped; `rgb` is
    * pixel-interleaved R,G,B bytes. compression 1 (none) or 8
    * (deflate), optional horizontal-differencing predictor — which
    * for multi-band differs each sample against the SAME CHANNEL of
    * the previous pixel (stride = 3 samples). */
  def stripTiffRgb(width: Int, height: Int, rgb: Seq[Int],
                   rowsPerStrip: Int, compression: Int = 1,
                   predictor: Int = 1): Array[Byte] = {
    require(rgb.size == width * height * 3)
    val rowB = width * 3
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val payloads = (0 until nStrips).map { s =>
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      val raw = Array.tabulate(rows * rowB)(i =>
        rgb((s * rowsPerStrip) * rowB + i).toByte)
      if (predictor == 2) {
        var y = 0
        while (y < rows) { // difference right-to-left, per channel
          var i = rowB - 1
          while (i >= 3) {
            raw(y * rowB + i) =
              (raw(y * rowB + i) - raw(y * rowB + i - 3)).toByte
            i -= 1
          }
          y += 1
        }
      }
      if (compression == 8) deflate(raw) else raw
    }
    val entryCount = (if (predictor != 1) 11 else 10) + 1 // + planar
    val ifdSize = 2 + entryCount * 12 + 4
    var dataOff = 8 + ifdSize
    def alloc(n: Int): Int = { val o = dataOff; dataOff += n; o }
    val offsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val cntsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val bpsOff = alloc(6) // BitsPerSample SHORT[3] lives off-IFD
    val stripStarts = payloads.map(_.length).scanLeft(dataOff)(_ + _)

    val buf = ByteBuffer.allocate(stripStarts.last)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte); buf.put('I'.toByte)
    buf.putShort(2, 42); buf.putInt(4, 8)
    buf.putShort(8, entryCount.toShort)
    var e = 10
    def entry(tag: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(e, tag.toShort); buf.putShort(e + 2, typ.toShort)
      buf.putInt(e + 4, cnt)
      if (typ == 3 && cnt == 1) buf.putShort(e + 8, value.toShort)
      else buf.putInt(e + 8, value.toInt)
      e += 12
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    entry(258, 3, 3, bpsOff)
    entry(259, 3, 1, compression)
    entry(262, 3, 1, 2) // photometric RGB
    entry(273, 4, nStrips,
      if (nStrips == 1) stripStarts.head else offsOff)
    entry(277, 3, 1, 3)
    entry(278, 3, 1, rowsPerStrip)
    entry(279, 4, nStrips,
      if (nStrips == 1) payloads.head.length else cntsOff)
    entry(284, 3, 1, 1) // chunky
    if (predictor != 1) entry(317, 3, 1, predictor)
    buf.putInt(e, 0)
    (0 until 3).foreach(i => buf.putShort(bpsOff + i * 2, 8))
    if (nStrips > 1) (0 until nStrips).foreach { s =>
      buf.putInt(offsOff + s * 4, stripStarts(s))
      buf.putInt(cntsOff + s * 4, payloads(s).length)
    }
    payloads.zipWithIndex.foreach { case (p, s) =>
      System.arraycopy(p, 0, buf.array(), stripStarts(s), p.length)
    }
    buf.array()
  }

  /** 3-band PLANAR (band-sequential, PlanarConfiguration 2) 8-bit RGB
    * TIFF, stripped: each strip carries ONE band's rows, and the strip
    * list is band-major (all of R's strips, then G's, then B's — TIFF
    * 6.0 §"PlanarConfiguration"). `rgb` is pixel-interleaved R,G,B
    * bytes like [[stripTiffRgb]] so the two fixtures are byte-twins.
    * compression 1 (none), 5 (LZW) or 8 (deflate); predictor 2
    * differences within the single channel (stride = 1 sample). */
  def stripTiffRgbPlanar(width: Int, height: Int, rgb: Seq[Int],
                         rowsPerStrip: Int, compression: Int = 1,
                         predictor: Int = 1): Array[Byte] = {
    require(rgb.size == width * height * 3)
    val stripsPerBand = (height + rowsPerStrip - 1) / rowsPerStrip
    val nStrips = stripsPerBand * 3
    val payloads = (0 until 3).flatMap { b =>
      (0 until stripsPerBand).map { s =>
        val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
        val raw = Array.tabulate(rows * width) { i =>
          val y = s * rowsPerStrip + i / width
          val x = i % width
          rgb((y * width + x) * 3 + b).toByte
        }
        if (predictor == 2) {
          var y = 0
          while (y < rows) { // difference right-to-left, stride 1
            var i = width - 1
            while (i >= 1) {
              raw(y * width + i) =
                (raw(y * width + i) - raw(y * width + i - 1)).toByte
              i -= 1
            }
            y += 1
          }
        }
        compression match {
          case 8 => deflate(raw)
          case 5 => lzwEncodeNaive(raw)
          case _ => raw
        }
      }
    }
    val entryCount = (if (predictor != 1) 11 else 10) + 1
    val ifdSize = 2 + entryCount * 12 + 4
    var dataOff = 8 + ifdSize
    def alloc(n: Int): Int = { val o = dataOff; dataOff += n; o }
    val offsOff = alloc(nStrips * 4)
    val cntsOff = alloc(nStrips * 4)
    val bpsOff = alloc(6)
    val stripStarts = payloads.map(_.length).scanLeft(dataOff)(_ + _)

    val buf = ByteBuffer.allocate(stripStarts.last)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte); buf.put('I'.toByte)
    buf.putShort(2, 42); buf.putInt(4, 8)
    buf.putShort(8, entryCount.toShort)
    var e = 10
    def entry(tag: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(e, tag.toShort); buf.putShort(e + 2, typ.toShort)
      buf.putInt(e + 4, cnt)
      if (typ == 3 && cnt == 1) buf.putShort(e + 8, value.toShort)
      else buf.putInt(e + 8, value.toInt)
      e += 12
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    entry(258, 3, 3, bpsOff)
    entry(259, 3, 1, compression)
    entry(262, 3, 1, 2) // photometric RGB
    entry(273, 4, nStrips, offsOff)
    entry(277, 3, 1, 3)
    entry(278, 3, 1, rowsPerStrip)
    entry(279, 4, nStrips, cntsOff)
    entry(284, 3, 1, 2) // planar (band-sequential)
    if (predictor != 1) entry(317, 3, 1, predictor)
    buf.putInt(e, 0)
    (0 until 3).foreach(i => buf.putShort(bpsOff + i * 2, 8))
    (0 until nStrips).foreach { s =>
      buf.putInt(offsOff + s * 4, stripStarts(s))
      buf.putInt(cntsOff + s * 4, payloads(s).length)
    }
    payloads.zipWithIndex.foreach { case (p, s) =>
      System.arraycopy(p, 0, buf.array(), stripStarts(s), p.length)
    }
    buf.array()
  }

  /** TILED planar RGB twin of [[stripTiffRgbPlanar]]: square tiles,
    * tile list band-major (all of band 0's tiles row-major, then
    * band 1's, band 2's — TIFF 6.0 tiled planar ordering), edge
    * tiles padded with 0 (the decoder clips to the raster bounds).
    * Uncompressed or deflate. */
  def tileTiffRgbPlanar(width: Int, height: Int, rgb: Seq[Int],
                        tileSize: Int, compression: Int = 1)
  : Array[Byte] = {
    require(rgb.size == width * height * 3)
    val ta = (width + tileSize - 1) / tileSize
    val td = (height + tileSize - 1) / tileSize
    val tilesPerBand = ta * td
    val nTiles = tilesPerBand * 3
    val payloads = (0 until 3).flatMap { b =>
      for (ty <- 0 until td; tx <- 0 until ta) yield {
        val raw = new Array[Byte](tileSize * tileSize)
        for (y <- 0 until tileSize; x <- 0 until tileSize) {
          val gx = tx * tileSize + x; val gy = ty * tileSize + y
          if (gx < width && gy < height)
            raw(y * tileSize + x) =
              rgb((gy * width + gx) * 3 + b).toByte
        }
        if (compression == 8) deflate(raw) else raw
      }
    }
    val entryCount = 11
    val ifdSize = 2 + entryCount * 12 + 4
    var dataOff = 8 + ifdSize
    def alloc(n: Int): Int = { val o = dataOff; dataOff += n; o }
    val offsOff = alloc(nTiles * 4)
    val cntsOff = alloc(nTiles * 4)
    val bpsOff = alloc(6)
    val tileStarts = payloads.map(_.length).scanLeft(dataOff)(_ + _)

    val buf = ByteBuffer.allocate(tileStarts.last)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte); buf.put('I'.toByte)
    buf.putShort(2, 42); buf.putInt(4, 8)
    buf.putShort(8, entryCount.toShort)
    var e = 10
    def entry(tag: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(e, tag.toShort); buf.putShort(e + 2, typ.toShort)
      buf.putInt(e + 4, cnt)
      if (typ == 3 && cnt == 1) buf.putShort(e + 8, value.toShort)
      else buf.putInt(e + 8, value.toInt)
      e += 12
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    entry(258, 3, 3, bpsOff)
    entry(259, 3, 1, compression)
    entry(262, 3, 1, 2)       // photometric RGB
    entry(277, 3, 1, 3)
    entry(284, 3, 1, 2)       // planar
    entry(322, 3, 1, tileSize) // TileWidth
    entry(323, 3, 1, tileSize) // TileLength
    entry(324, 4, nTiles, offsOff)
    entry(325, 4, nTiles, cntsOff)
    buf.putInt(e, 0)
    (0 until 3).foreach(i => buf.putShort(bpsOff + i * 2, 8))
    (0 until nTiles).foreach { t =>
      buf.putInt(offsOff + t * 4, tileStarts(t))
      buf.putInt(cntsOff + t * 4, payloads(t).length)
    }
    payloads.zipWithIndex.foreach { case (p, t) =>
      System.arraycopy(p, 0, buf.array(), tileStarts(t), p.length)
    }
    buf.array()
  }

  /** Encode a pixel-interleaved RGB image as a JPEG interchange
    * stream (JDK writer — JFIF YCbCr, the layout color TIFF strips
    * carry under photometric 6). */
  def jpegEncodeRgb(width: Int, height: Int, rgb: Array[Byte])
  : Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < width * height) {
      val r = rgb(i * 3) & 0xFF
      val g = rgb(i * 3 + 1) & 0xFF
      val b = rgb(i * 3 + 2) & 0xFF
      img.setRGB(i % width, i / width, (r << 16) | (g << 8) | b)
      i += 1
    }
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    val bos = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    w.dispose(); ios.close()
    bos.toByteArray
  }

  /** Color JPEG-in-TIFF (compression 7, photometric 6 = YCbCr, 3
    * samples/pixel chunky): per-strip JFIF streams, interchange or
    * abbreviated with shared DQT/DHT via JPEGTables — the browse-
    * imagery layout the reference ingests through GDAL. */
  def stripTiffJpegRgb(width: Int, height: Int, rgb: Seq[Int],
                       rowsPerStrip: Int,
                       sharedTables: Boolean): Array[Byte] = {
    require(rgb.size == width * height * 3)
    val rowB = width * 3
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val fullJpegs = (0 until nStrips).map { s =>
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      val raw = Array.tabulate(rows * rowB)(i =>
        rgb((s * rowsPerStrip) * rowB + i).toByte)
      jpegEncodeRgb(width, rows, raw)
    }
    val (tables, _) = jpegSplit(fullJpegs.head)
    val payloads =
      if (sharedTables) fullJpegs.map(j => jpegSplit(j)._2) else fullJpegs

    val entryCount = (if (sharedTables) 11 else 10) + 1 // + planar
    val ifdSize = 2 + entryCount * 12 + 4
    var dataOff = 8 + ifdSize
    def alloc(n: Int): Int = { val o = dataOff; dataOff += n; o }
    val offsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val cntsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val bpsOff = alloc(6)
    val tablesOff = if (sharedTables) alloc(tables.length) else 0
    val stripStarts = payloads.map(_.length).scanLeft(dataOff)(_ + _)

    val buf = ByteBuffer.allocate(stripStarts.last)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte); buf.put('I'.toByte)
    buf.putShort(2, 42); buf.putInt(4, 8)
    buf.putShort(8, entryCount.toShort)
    var e = 10
    def entry(tag: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(e, tag.toShort); buf.putShort(e + 2, typ.toShort)
      buf.putInt(e + 4, cnt)
      if (typ == 3 && cnt == 1) buf.putShort(e + 8, value.toShort)
      else buf.putInt(e + 8, value.toInt)
      e += 12
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    entry(258, 3, 3, bpsOff)
    entry(259, 3, 1, 7)
    entry(262, 3, 1, 6) // photometric YCbCr (JPEG-internal)
    entry(273, 4, nStrips,
      if (nStrips == 1) stripStarts.head else offsOff)
    entry(277, 3, 1, 3)
    entry(278, 3, 1, rowsPerStrip)
    entry(279, 4, nStrips,
      if (nStrips == 1) payloads.head.length else cntsOff)
    entry(284, 3, 1, 1) // chunky
    if (sharedTables) entry(347, 7, tables.length, tablesOff)
    buf.putInt(e, 0)
    (0 until 3).foreach(i => buf.putShort(bpsOff + i * 2, 8))
    if (nStrips > 1) (0 until nStrips).foreach { s =>
      buf.putInt(offsOff + s * 4, stripStarts(s))
      buf.putInt(cntsOff + s * 4, payloads(s).length)
    }
    if (sharedTables)
      System.arraycopy(tables, 0, buf.array(), tablesOff, tables.length)
    payloads.zipWithIndex.foreach { case (p, s) =>
      System.arraycopy(p, 0, buf.array(), stripStarts(s), p.length)
    }
    buf.array()
  }

  /** Minimal BigTIFF (magic 43, 20-byte entries, 8-byte value slots)
    * in either byte order. The LONG count-1 entries are the
    * regression surface: inline values are LEFT-justified in the
    * 8-byte slot, so big-endian files keep the u32 in the HIGH half —
    * masking the raw slot u64 reads padding. */
  def bigTiff(order: ByteOrder): Array[Byte] = {
    val buf = ByteBuffer.allocate(128).order(order)
    val bc = (if (order == ByteOrder.BIG_ENDIAN) 'M' else 'I').toByte
    buf.put(0, bc); buf.put(1, bc)
    buf.putShort(2, 43)
    buf.putShort(4, 8); buf.putShort(6, 0)
    buf.putLong(8, 16L) // first IFD offset
    buf.putLong(16, 4L) // entry count
    var e = 24
    def entry(tag: Int, typ: Int, cnt: Long)(writeVal: Int => Unit): Unit = {
      buf.putShort(e, tag.toShort); buf.putShort(e + 2, typ.toShort)
      buf.putLong(e + 4, cnt)
      writeVal(e + 12) // value slot: data left-justified
      e += 20
    }
    entry(256, 4, 1)(at => buf.putInt(at, 777))    // ImageWidth LONG
    entry(257, 4, 1)(at => buf.putInt(at, 333))    // ImageLength LONG
    entry(258, 3, 1)(at => buf.putShort(at, 16))   // BitsPerSample SHORT
    entry(322, 16, 1)(at => buf.putLong(at, 256L)) // TileWidth LONG8
    buf.putLong(e, 0L) // no next IFD
    buf.array()
  }

  /** Encode a grayscale byte image as a JPEG interchange stream (JDK
    * ImageIO writer, max quality — the encoder half the container
    * lacks GDAL for). */
  def jpegEncode(width: Int, height: Int, raw: Array[Byte]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var i = 0
    while (i < raw.length) {
      img.getRaster.setSample(i % width, i / width, 0, raw(i) & 0xFF)
      i += 1
    }
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    val bos = new ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    w.dispose(); ios.close()
    bos.toByteArray
  }

  /** Split an interchange JPEG into the TIFF TechNote 2 pair:
    * (tables stream = SOI + DQT/DHT + EOI, abbreviated stream =
    * SOI + everything else). Rebuilding by concatenation must give a
    * decodable stream — pinned by the GeoTiff reader spec. */
  def jpegSplit(jpeg: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val tables = new ByteArrayOutputStream()
    val rest = new ByteArrayOutputStream()
    tables.write(0xFF); tables.write(0xD8)
    rest.write(0xFF); rest.write(0xD8)
    var p = 2
    var done = false
    while (!done && p + 4 <= jpeg.length) {
      val marker = jpeg(p + 1) & 0xFF
      require((jpeg(p) & 0xFF) == 0xFF, "bad JPEG segment marker")
      if (marker == 0xDA) { // SOS: entropy data through EOI
        rest.write(jpeg, p, jpeg.length - p)
        done = true
      } else {
        val len = 2 + (((jpeg(p + 2) & 0xFF) << 8) | (jpeg(p + 3) & 0xFF))
        val dst = if (marker == 0xDB || marker == 0xC4) tables else rest
        dst.write(jpeg, p, len)
        p += len
      }
    }
    tables.write(0xFF); tables.write(0xD9)
    (tables.toByteArray, rest.toByteArray)
  }

  /** JPEG-in-TIFF (compression 7) builder: per-strip JPEG streams,
    * either self-contained interchange streams or abbreviated streams
    * with the DQT/DHT shared once through the JPEGTables tag (347) —
    * the two layouts real writers emit. */
  def stripTiffJpeg(width: Int, height: Int, values: IndexedSeq[Int],
                    rowsPerStrip: Int,
                    sharedTables: Boolean): Array[Byte] = {
    require(values.size == width * height)
    val nStrips = (height + rowsPerStrip - 1) / rowsPerStrip
    val fullJpegs = (0 until nStrips).map { s =>
      val rows = math.min(rowsPerStrip, height - s * rowsPerStrip)
      val raw = Array.tabulate(rows * width)(i =>
        values((s * rowsPerStrip + i / width) * width + i % width).toByte)
      jpegEncode(width, rows, raw)
    }
    // ImageIO emits identical (standard, non-optimized) DQT/DHT at a
    // fixed quality, so the first strip's tables serve every strip
    val (tables, _) = jpegSplit(fullJpegs.head)
    val payloads =
      if (sharedTables) fullJpegs.map(j => jpegSplit(j)._2) else fullJpegs

    val entryCount = if (sharedTables) 10 else 9
    val ifdSize = 2 + entryCount * 12 + 4
    var dataOff = 8 + ifdSize
    def alloc(n: Int): Int = { val o = dataOff; dataOff += n; o }
    val offsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val cntsOff = if (nStrips > 1) alloc(nStrips * 4) else 0
    val tablesOff = if (sharedTables) alloc(tables.length) else 0
    val stripStarts = payloads.map(_.length).scanLeft(dataOff)(_ + _)

    val buf = ByteBuffer.allocate(stripStarts.last)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte); buf.put('I'.toByte)
    buf.putShort(2, 42); buf.putInt(4, 8)
    buf.putShort(8, entryCount.toShort)
    var e = 10
    def entry(tag: Int, typ: Int, cnt: Int, value: Long): Unit = {
      buf.putShort(e, tag.toShort); buf.putShort(e + 2, typ.toShort)
      buf.putInt(e + 4, cnt)
      if (typ == 3 && cnt == 1) buf.putShort(e + 8, value.toShort)
      else buf.putInt(e + 8, value.toInt)
      e += 12
    }
    entry(256, 4, 1, width)
    entry(257, 4, 1, height)
    entry(258, 3, 1, 8)
    entry(259, 3, 1, 7)
    entry(262, 3, 1, 1)
    entry(273, 4, nStrips,
      if (nStrips == 1) stripStarts.head else offsOff)
    entry(277, 3, 1, 1)
    entry(278, 3, 1, rowsPerStrip)
    entry(279, 4, nStrips,
      if (nStrips == 1) payloads.head.length else cntsOff)
    if (sharedTables) entry(347, 7, tables.length, tablesOff)
    buf.putInt(e, 0)
    if (nStrips > 1) (0 until nStrips).foreach { s =>
      buf.putInt(offsOff + s * 4, stripStarts(s))
      buf.putInt(cntsOff + s * 4, payloads(s).length)
    }
    if (sharedTables)
      System.arraycopy(tables, 0, buf.array(), tablesOff, tables.length)
    payloads.zipWithIndex.foreach { case (p, s) =>
      System.arraycopy(p, 0, buf.array(), stripStarts(s), p.length)
    }
    buf.array()
  }
}
