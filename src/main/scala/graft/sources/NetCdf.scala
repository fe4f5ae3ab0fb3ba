package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** S6 — NetCDF/HDF5 array-file metadata scan without native libs
  * (the SURVEY §7.4 plan executed in the [[GeoTiff]] style: parse the
  * container headers directly, partition-parallel, fall back to
  * `Left(reason)` on anything unrecognized).
  *
  * The reference opens every file with the netCDF4 library to read a
  * configured variable's shape and `_FillValue` and the x/y coordinate
  * variables' min/max extent (`cogify/handler.py:96-120`). Both
  * on-disk formats behind that API are parsed here:
  *
  *  - '''NetCDF classic''' (CDF-1/CDF-2, big-endian): the full header
  *    — dimensions, global/variable attributes, variable shapes and
  *    data offsets — plus the DATA of 1-D fixed coordinate variables,
  *    so x/y extents are exact (the header stores `begin`/`vsize` per
  *    variable; coordinate vectors are tiny).
  *  - '''HDF5''' (= NetCDF-4 container, little-endian metadata):
  *    superblock v0/v1, symbol-table group walk (B-tree v1 → SNOD →
  *    local heap names), and per-object header messages — dataspace
  *    (shape), datatype (class/size), fill value. Chunked data is NOT
  *    decoded, so coordinate extents fall back to the reference's
  *    global default `[-180, -90, 180, 90]` (`handler.py:119-120`) —
  *    the same thing the reference does when x/y variables are not
  *    configured.
  */
object NetCdf {

  /** One attribute: numeric values or a string (NC_CHAR / HDF5 string). */
  case class Attr(name: String, str: Option[String], nums: Seq[Double])

  /** Chunk index types a [[ChunkInfo]] can carry. */
  object ChunkIndex {
    val BtreeV1 = 0     // layout v3: v1 B-tree of raw chunks
    val Single = 1      // layout v4: one chunk covers the dataset
    val Implicit = 2    // layout v4: unfiltered chunks, row-major
    val FixedArray = 3  // layout v4: FAHD/FADB address array
    val ExtArray = 4    // layout v4: EAHD/EAIB/EASB/EADB (1 unlim dim)
    val BtreeV2 = 5     // layout v4: BTHD/BTIN/BTLF (>1 unlim dims)
  }

  /** Chunked-storage locator (HDF5 layout v3 class 2 and the v4
    * "latest format" chunk indexes): `addr` is the index address (v1
    * B-tree root, fixed-array header, or the chunk itself for
    * single/implicit), plus the filter pipeline to undo per chunk.
    * `chunkDims` excludes the element-size dimension. */
  case class ChunkInfo(addr: Long, chunkDims: Seq[Long], elemSize: Int,
                       /** pipeline order as written (applied in
                         * REVERSE on read): 1=deflate, 2=shuffle,
                         * 3=fletcher32 */
                       filters: Seq[Int],
                       /** raw fill-value bytes from the fill-value
                         * message: regions whose chunks were never
                         * allocated (netCDF4/HDF-EOS elide all-fill
                         * chunks) must decode to this, not to 0 */
                       fillBytes: Option[Array[Byte]] = None,
                       /** one of [[ChunkIndex]] */
                       indexType: Int = ChunkIndex.BtreeV1,
                       /** single-chunk index: stored (filtered) byte
                         * size + filter mask from the layout message */
                       singleSize: Option[Long] = None,
                       singleMask: Int = 0)

  /** One variable/dataset: `path` is "var" or "group/var". `begin` is
    * the file offset of the raw data (classic always; HDF5 for
    * contiguous layout). Chunked HDF5 datasets carry `chunks`
    * instead and are assembled chunk-by-chunk on read. */
  case class VarMeta(path: String, shape: Seq[Long], typeName: String,
                     fillValue: Option[Double], attrs: Seq[Attr],
                     begin: Option[Long] = None,
                     /** data byte order: classic is big-endian; HDF5
                       * reports it in the datatype bit field */
                     littleEndian: Boolean = false,
                     chunks: Option[ChunkInfo] = None)

  case class FileMeta(format: String, dims: Seq[(String, Long)],
                      vars: Seq[VarMeta], globalAttrs: Seq[Attr])

  def parse(bytes: Array[Byte]): Either[String, FileMeta] =
    if (bytes.length >= 4 && bytes(0) == 'C' && bytes(1) == 'D' &&
        bytes(2) == 'F' && (bytes(3) == 1 || bytes(3) == 2))
      parseClassic(bytes)
    else if (findHdf5Superblock(bytes).isDefined) parseHdf5(bytes)
    else Left("not recognized as NetCDF classic or HDF5")

  // ---------------------------------------------------------------
  // NetCDF classic (CDF-1 / CDF-2) — spec: "NetCDF Classic Format"
  // ---------------------------------------------------------------

  private val NcTypeNames = Map(1 -> "byte", 2 -> "char", 3 -> "short",
    4 -> "int", 5 -> "float", 6 -> "double")
  private val NcTypeSizes = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 4, 6 -> 8)

  private class ClassicReader(bytes: Array[Byte]) {
    val buf: ByteBuffer = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    var pos = 0
    def u32(): Long = { val v = buf.getInt(pos) & 0xFFFFFFFFL; pos += 4; v }
    def i64(): Long = { val v = buf.getLong(pos); pos += 8; v }
    def name(): String = {
      val n = u32().toInt
      val s = new String(bytes, pos, n, java.nio.charset.StandardCharsets.UTF_8)
      pos += (n + 3) / 4 * 4 // names pad to a 4-byte boundary
      s
    }
    def attrValues(ncType: Int, nelems: Int): Attr = {
      val width = NcTypeSizes(ncType)
      val total = (nelems * width + 3) / 4 * 4
      val out =
        if (ncType == 2) {
          Attr("", Some(new String(bytes, pos, nelems,
            java.nio.charset.StandardCharsets.UTF_8)), Nil)
        } else {
          val vs = (0 until nelems).map { i =>
            val o = pos + i * width
            ncType match {
              case 1 => bytes(o).toDouble
              case 3 => buf.getShort(o).toDouble
              case 4 => buf.getInt(o).toDouble
              case 5 => buf.getFloat(o).toDouble
              case 6 => buf.getDouble(o)
            }
          }
          Attr("", None, vs)
        }
      pos += total
      out
    }
    def attrList(): Seq[Attr] = {
      val tag = u32(); val n = u32().toInt
      if (tag == 0 && n == 0) Nil // ABSENT
      else {
        require(tag == 0x0C, s"bad NC_ATTRIBUTE tag $tag")
        (0 until n).map { _ =>
          val nm = name()
          val t = u32().toInt
          val ne = u32().toInt
          attrValues(t, ne).copy(name = nm)
        }
      }
    }
  }

  private def parseClassic(bytes: Array[Byte]): Either[String, FileMeta] = try {
    val version = bytes(3)
    val r = new ClassicReader(bytes)
    r.pos = 4
    r.u32() // numrecs (or STREAMING)
    // dim_list
    val dimTag = r.u32(); val nDims = r.u32().toInt
    val dims: Seq[(String, Long)] =
      if (dimTag == 0 && nDims == 0) Nil
      else {
        require(dimTag == 0x0A, s"bad NC_DIMENSION tag $dimTag")
        (0 until nDims).map(_ => (r.name(), r.u32()))
      }
    val gatts = r.attrList()
    // var_list
    val varTag = r.u32(); val nVars = r.u32().toInt
    val vars: Seq[VarMeta] =
      if (varTag == 0 && nVars == 0) Nil
      else {
        require(varTag == 0x0B, s"bad NC_VARIABLE tag $varTag")
        (0 until nVars).map { _ =>
          val nm = r.name()
          val nd = r.u32().toInt
          val dimIds = (0 until nd).map(_ => r.u32().toInt)
          val vatts = r.attrList()
          val t = r.u32().toInt
          r.u32() // vsize
          val begin = if (version == 2) r.i64() else r.u32()
          val fill = vatts.find(_.name == "_FillValue")
            .flatMap(_.nums.headOption)
          VarMeta(nm, dimIds.map(i => dims(i)._2), NcTypeNames(t), fill,
            vatts, Some(begin))
        }
      }
    Right(FileMeta(s"netcdf-classic CDF-$version", dims, vars, gatts))
  } catch {
    case e: Exception => Left(s"netcdf parse failed: ${e.getMessage}")
  }

  private def dataOrder(v: VarMeta): ByteOrder =
    if (v.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN

  private def readValue(bytes: Array[Byte], buf: ByteBuffer, v: VarMeta,
                        base: Long, i: Int): Double = v.typeName match {
    case "float" => buf.getFloat(base.toInt + i * 4).toDouble
    case "double" => buf.getDouble(base.toInt + i * 8)
    case "int" => buf.getInt(base.toInt + i * 4).toDouble
    case "short" => buf.getShort(base.toInt + i * 2).toDouble
    case "byte" => bytes(base.toInt + i).toDouble
    case "long" => buf.getLong(base.toInt + i * 8).toDouble
    case other =>
      throw new IllegalArgumentException(s"unreadable type $other")
  }

  /** Raw data section of a variable: the file slice at `begin` for
    * contiguous/classic layouts, or the chunk-assembled row-major
    * buffer for chunked HDF5 (v1 B-tree walk + per-chunk filter
    * reversal). None when neither is decodable. */
  private def dataSection(bytes: Array[Byte], v: VarMeta)
  : Option[(Array[Byte], Long)] =
    v.begin.map(b => (bytes, b)).orElse(
      v.chunks.flatMap(ci => readChunked(bytes, v.shape, ci))
        .map(arr => (arr, 0L)))

  /** User-block normalization for the READERS: [[parseHdf5]] strips a
    * leading user block so every base-relative address is an absolute
    * offset into the stripped array — the same stripping must apply
    * when resolving VarMeta offsets against the bytes. Classic files
    * and offset-0 HDF5 pass through unchanged (no copy). */
  private def stripUserBlock(bytes: Array[Byte]): Array[Byte] =
    findHdf5Superblock(bytes) match {
      case Some(sb) if sb > 0 =>
        java.util.Arrays.copyOfRange(bytes, sb, bytes.length)
      case _ => bytes
    }

  /** min/max of a 1-D fixed-size coordinate variable, read from the
    * data at the header's offset (exactly the values
    * `src[x_variable][:].min()/.max()` sees, `handler.py:114-117`) —
    * classic data sections and contiguous or chunked HDF5 datasets
    * alike. None for record/multi-dim/absent variables, and None
    * (never a thrown exception — the documented contract) for a
    * corrupt or truncated data section. */
  def coordExtent(bytes0: Array[Byte], meta: FileMeta, varName: String)
  : Option[(Double, Double)] =
    meta.vars.find(_.path == varName).flatMap { v =>
      val bytes = stripUserBlock(bytes0)
      if (v.shape.size != 1 || v.shape.head == 0) None
      else dataSection(bytes, v).flatMap { case (data, b) =>
        val n = v.shape.head.toInt
        val buf = ByteBuffer.wrap(data).order(dataOrder(v))
        val vals =
          try (0 until n).map(i => readValue(data, buf, v, b, i))
          catch { case scala.util.control.NonFatal(_) => return None }
        if (vals.isEmpty) None else Some((vals.min, vals.max))
      }
    }

  /** Row-major data of a fixed-size variable of any rank — the array
    * `hdf5_to_cog` reads into memory (`handler.py:100-105`). Classic
    * data sections and contiguous or chunked (gzip/shuffle/fletcher32)
    * HDF5 datasets. None (never a thrown exception) for unsupported
    * element types, truncated sections, or shapes whose element count
    * overflows an array — fail-closed like the chunked path. */
  def readGridRaw(bytes0: Array[Byte], meta: FileMeta, varPath: String)
  : Option[Array[Float]] =
    meta.vars.find(_.path == varPath).flatMap { v =>
      val bytes = stripUserBlock(bytes0)
      if (v.shape.isEmpty || v.shape.exists(_ == 0) ||
        v.shape.product > Int.MaxValue) None
      else dataSection(bytes, v).flatMap { case (data, b) =>
        try {
          val n = v.shape.product.toInt
          val buf = ByteBuffer.wrap(data).order(dataOrder(v))
          val out = new Array[Float](n)
          var i = 0
          while (i < n) {
            out(i) = readValue(data, buf, v, b, i).toFloat
            i += 1
          }
          Some(out)
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }

  /** [[readGridRaw]] with netCDF4-python's default auto
    * mask-and-scale applied — parity with the reference's
    * `src[variable_name][:]` read (`cogify/handler.py:101`, Dataset
    * opens with `set_auto_maskandscale` on): when the variable
    * carries a `scale_factor` and/or `add_offset` attribute (the CF
    * packed-data convention), every value UNPACKS as
    * `raw * scale_factor + add_offset` — except MASKED cells, which
    * stay at their RAW value: netCDF4 masks them first, the masked
    * array keeps the underlying raw bytes, and rasterio writes that
    * as the nodata. The mask matches netCDF4's `set_auto_mask`
    * sources, all evaluated in the PACKED (raw) domain per the CF
    * convention: `_FillValue` equality, `missing_value` equality
    * (every listed value), and the `valid_range` bounds — or, when
    * absent, `valid_min`/`valid_max` individually. Variables without
    * scale/offset read unchanged (masked cells already hold raw). */
  def readGridScaled(bytes: Array[Byte], meta: FileMeta, varPath: String)
  : Option[Array[Float]] =
    readGridRaw(bytes, meta, varPath).map { raw =>
      meta.vars.find(_.path == varPath).fold(raw) { v =>
        def nums(name: String): Seq[Double] =
          v.attrs.find(_.name == name).map(_.nums).getOrElse(Nil)
        def num(name: String): Option[Double] = nums(name).headOption
        val scale = num("scale_factor")
        val offset = num("add_offset")
        if (scale.isEmpty && offset.isEmpty) raw
        else {
          val s = scale.getOrElse(1.0)
          val o = offset.getOrElse(0.0)
          val fill = v.fillValue.map(_.toFloat)
          val missing = nums("missing_value").map(_.toFloat)
          // CF: valid_range wins over valid_min/valid_max when present
          val range = nums("valid_range") match {
            case Seq(lo, hi, _*) => Some((lo.toFloat, hi.toFloat))
            case _ => None
          }
          val vmin = range.map(_._1).orElse(num("valid_min").map(_.toFloat))
          val vmax = range.map(_._2).orElse(num("valid_max").map(_.toFloat))
          def masked(x: Float): Boolean =
            fill.exists(_ == x) || missing.exists(_ == x) ||
              vmin.exists(x < _) || vmax.exists(x > _)
          raw.map(x => if (masked(x)) x else (x * s + o).toFloat)
        }
      }
    }

  // ---------------------------------------------------------------
  // HDF5 — superblock v0/v1 + symbol-table groups (the layout the
  // netCDF-4/HDF5 1.8 line writes by default)
  // ---------------------------------------------------------------

  private val Hdf5Magic =
    Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n')

  /** Minimal-width little-endian integer at `p` (HDF5 emits ANY
    * width 1..8 via H5VM_limit_enc_size, not just 1/2/4/8) — the one
    * byte-assembly loop every table/heap/B-tree decoder shares. */
  private def leIntAt(bytes: Array[Byte], p: Int, w: Int): Long = {
    var v = 0L
    var k = 0
    while (k < w) { v |= (bytes(p + k) & 0xFFL) << (8 * k); k += 1 }
    v
  }

  private def findHdf5Superblock(bytes: Array[Byte]): Option[Int] = {
    var off = 0
    while (off + 8 <= bytes.length && off <= (1 << 16)) {
      if ((0 until 8).forall(i => bytes(off + i) == Hdf5Magic(i)))
        return Some(off)
      off = if (off == 0) 512 else off * 2
    }
    None
  }

  private def parseHdf5(bytes: Array[Byte]): Either[String, FileMeta] = try {
    val sb = findHdf5Superblock(bytes).get
    // HDF5 addresses are relative to the BASE ADDRESS, which for a
    // file with a user block equals the superblock offset. Stripping
    // the user block turns every base-relative address back into an
    // absolute offset, so the rest of the parser needs no rebasing —
    // without this, every address in a user-block file pointed short
    // by the block size (wrong bytes parsed, or a spurious quarantine).
    if (sb > 0)
      return parseHdf5(java.util.Arrays.copyOfRange(bytes, sb, bytes.length))
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val sbVersion = bytes(sb + 8) & 0xFF
    if (sbVersion > 3)
      return Left(s"unsupported HDF5 superblock version $sbVersion")
    if (sbVersion >= 2) {
      // superblock v2/v3 (HDF5 >= 1.10 and netCDF-4 "latest format"):
      // fixed 48-byte layout — sizes at +9/+10, root group OBJECT
      // HEADER address at +36 (no root symbol-table entry; groups are
      // link-message based, walked by parseObjectHeader's v2 path)
      val offSize = bytes(sb + 9) & 0xFF
      val lenSize = bytes(sb + 10) & 0xFF
      if (offSize != 8 || lenSize != 8)
        return Left(s"unsupported HDF5 offset/length size $offSize/$lenSize")
      val rootHdr = buf.getLong(sb + 36)
      val out = ArrayBuffer.empty[VarMeta]
      val gatts = ArrayBuffer.empty[Attr]
      parseObjectHeader(bytes, buf, rootHdr, path = "", depth = 0, out,
        rootAttrs = Some(gatts))
      return Right(FileMeta(s"hdf5 superblock-v$sbVersion", Nil,
        out.toSeq, gatts.toSeq))
    }
    val offSize = bytes(sb + 13) & 0xFF
    val lenSize = bytes(sb + 14) & 0xFF
    if (offSize != 8 || lenSize != 8)
      return Left(s"unsupported HDF5 offset/length size $offSize/$lenSize")
    // v1 inserts 4 bytes (indexed-storage k + reserved) before the
    // file-consistency flags
    val rootEntry = sb + (if (sbVersion == 0) 56 else 60)
    // symbol table entry: nameOff(8) objHdr(8) cacheType(4) rsvd(4)
    // scratch(16) = B-tree address + heap address for cache type 1
    val rootBtree = buf.getLong(rootEntry + 24)
    val rootHeap = buf.getLong(rootEntry + 32)

    val out = ArrayBuffer.empty[VarMeta]
    walkGroup(bytes, buf, rootBtree, rootHeap, prefix = "", depth = 0, out)
    // the file's GLOBAL attributes live in the root object header,
    // which the symbol-table walk never parses; best-effort
    // attrs-only pass (into a discarded VarMeta buffer) — a file
    // whose structure walk succeeded must not quarantine because its
    // root header is absent or odd, so failures here just leave
    // globalAttrs empty
    val gatts = ArrayBuffer.empty[Attr]
    try {
      val tmp = ArrayBuffer.empty[VarMeta]
      parseObjectHeader(bytes, buf, buf.getLong(rootEntry + 8),
        path = "", depth = 0, tmp, rootAttrs = Some(gatts))
    } catch { case scala.util.control.NonFatal(_) => gatts.clear() }
    Right(FileMeta(s"hdf5 superblock-v$sbVersion", Nil, out.toSeq,
      gatts.toSeq))
  } catch {
    case e: Exception => Left(s"hdf5 parse failed: ${e.getMessage}")
  }

  private def heapName(bytes: Array[Byte], buf: ByteBuffer, heapAddr: Long,
                       nameOff: Long): String = {
    require(bytes(heapAddr.toInt) == 'H' && bytes(heapAddr.toInt + 1) == 'E',
      "bad local heap signature")
    val dataAddr = buf.getLong(heapAddr.toInt + 24)
    var p = (dataAddr + nameOff).toInt
    val start = p
    while (bytes(p) != 0) p += 1
    new String(bytes, start, p - start,
      java.nio.charset.StandardCharsets.UTF_8)
  }

  private def walkGroup(bytes: Array[Byte], buf: ByteBuffer, btreeAddr: Long,
                        heapAddr: Long, prefix: String, depth: Int,
                        out: ArrayBuffer[VarMeta]): Unit = {
    require(depth <= 6, "group nesting too deep")
    walkBtree(bytes, buf, btreeAddr, heapAddr, prefix, depth, out)
  }

  private def walkBtree(bytes: Array[Byte], buf: ByteBuffer, addr: Long,
                        heapAddr: Long, prefix: String, depth: Int,
                        out: ArrayBuffer[VarMeta]): Unit = {
    val a = addr.toInt
    val sig = new String(bytes, a, 4, java.nio.charset.StandardCharsets.US_ASCII)
    require(sig == "TREE", s"bad B-tree signature '$sig'")
    val level = bytes(a + 5) & 0xFF
    val entries = buf.getShort(a + 6) & 0xFFFF
    // keys and children alternate after the 24-byte node header:
    // key0(len) child0(off) key1 ... key_n — children at +24+len+ i*(len+off)
    (0 until entries).foreach { i =>
      val child = buf.getLong(a + 24 + 8 + i * 16)
      if (level > 0) walkBtree(bytes, buf, child, heapAddr, prefix, depth, out)
      else walkSnod(bytes, buf, child, heapAddr, prefix, depth, out)
    }
  }

  private def walkSnod(bytes: Array[Byte], buf: ByteBuffer, addr: Long,
                       heapAddr: Long, prefix: String, depth: Int,
                       out: ArrayBuffer[VarMeta]): Unit = {
    val a = addr.toInt
    val sig = new String(bytes, a, 4, java.nio.charset.StandardCharsets.US_ASCII)
    require(sig == "SNOD", s"bad symbol node signature '$sig'")
    val n = buf.getShort(a + 6) & 0xFFFF
    (0 until n).foreach { i =>
      val e = a + 8 + i * 40
      val nameOff = buf.getLong(e)
      val objHdr = buf.getLong(e + 8)
      val name = heapName(bytes, buf, heapAddr, nameOff)
      parseObjectHeader(bytes, buf, objHdr, prefix + name, depth, out)
    }
  }

  /** Parse one object header (dataset or group). Dispatches on the
    * header version: v1 (count-prefixed messages, symbol-table
    * groups — the HDF5 1.8 line) and v2 ("OHDR" signature, length-
    * bounded message chunks + "OCHK" continuations, link-message
    * groups — HDF5 >= 1.10 / netCDF-4 latest format). Both feed the
    * same message handler; only the walk differs. */
  private def parseObjectHeader(bytes: Array[Byte], buf: ByteBuffer,
                                addr: Long, path: String, depth: Int,
                                out: ArrayBuffer[VarMeta],
                                rootAttrs: Option[ArrayBuffer[Attr]] = None)
  : Unit = {
    val a = addr.toInt
    require(depth <= 6, "group nesting too deep")
    var shape: Option[Seq[Long]] = None
    var typeClass = -1
    var typeSize = 0
    var typeLittleEndian = true
    var fillBytes: Option[Array[Byte]] = None
    var group: Option[(Long, Long)] = None
    var contiguousAddr: Option[Long] = None
    var chunkInfo: Option[ChunkInfo] = None
    var filters: Seq[Int] = Nil
    // compact (in-header) link messages: v2-format group membership
    val links = ArrayBuffer.empty[(String, Long)]
    // dense link storage: the link-info message's fractal heap +
    // name-index v2 B-tree (needed only for huge/tiny heap objects)
    var denseHeap: Option[(Long, Long)] = None
    val attrs = ArrayBuffer.empty[Attr]

    def handleMessage(typ: Int, body: Int, mflags: Int): Unit = {
      // shared-message flag (bit 1): the body is a POINTER into the
      // shared-message storage, not inline content — parsing it
      // inline would misread e.g. a committed datatype's version
      // byte as typeClass and garbage as typeSize, yielding silently
      // wrong data. Fail closed for every message type this parser
      // consumes (ignored types stay ignored).
      if ((mflags & 0x02) != 0 && Set(0x0001, 0x0002, 0x0003, 0x0004,
          0x0005, 0x0006, 0x0008, 0x000B, 0x000C, 0x0011).contains(typ))
        throw new IllegalArgumentException(
          f"shared message type 0x$typ%04x not supported")
      handleMessageBody(typ, body)
    }
    def handleMessageBody(typ: Int, body: Int): Unit = typ match {
        case 0x0001 => // dataspace
          val ver = bytes(body) & 0xFF
          val rank = bytes(body + 1) & 0xFF
          val dimsStart = if (ver == 1) body + 8 else body + 4
          shape = Some((0 until rank).map(i =>
            buf.getLong(dimsStart + i * 8)))
        case 0x0003 => // datatype
          typeClass = bytes(body) & 0x0F
          // class bit field byte 0, bit 0: data byte order (0 = LE)
          typeLittleEndian = (bytes(body + 1) & 0x01) == 0
          typeSize = buf.getInt(body + 4)
        case 0x0004 => // fill value (old): just size(4) + data, no
          // version/flags — only used when the new message is absent
          val sz = buf.getInt(body)
          if (sz > 0 && fillBytes.isEmpty)
            fillBytes = Some(bytes.slice(body + 4, body + 4 + sz))
        case 0x0005 => // fill value (new)
          val ver = bytes(body) & 0xFF
          if (ver <= 2) {
            val defined = bytes(body + 3) & 0xFF
            if (defined == 1) {
              val sz = buf.getInt(body + 4)
              if (sz > 0)
                fillBytes = Some(bytes.slice(body + 8, body + 8 + sz))
            }
          } else { // v3: flags bit 5 = fill value defined
            val flags = bytes(body + 1) & 0xFF
            if ((flags & 0x20) != 0) {
              val sz = buf.getInt(body + 2)
              if (sz > 0)
                fillBytes = Some(bytes.slice(body + 6, body + 6 + sz))
            }
          }
        case 0x0008 => // data layout v3/v4: contiguous (class 1) reads
          // directly; v3 chunked (class 2) records its B-tree + chunk
          // shape (the netCDF-4/HDF-EOS default layout); v4 chunked
          // covers all five >= 1.10 "latest" chunk indexes (single/
          // implicit/fixed-array/extensible-array/v2-btree), with
          // paged array blocks failing closed at read time.
          val ver = bytes(body) & 0xFF
          // v4 contiguous is field-compatible with v3 contiguous
          if ((ver == 3 || ver == 4) && (bytes(body + 1) & 0xFF) == 1) {
            val addr = buf.getLong(body + 2)
            if (addr != -1L) contiguousAddr = Some(addr)
          } else if (ver == 4 && (bytes(body + 1) & 0xFF) == 2) {
            // v4 chunked ("latest format"): flags(1), rank(1), dim-
            // size width(1), chunk dims (rank × width, element units,
            // NO trailing element-size dim), index type(1), index-
            // specific fields, index address. Element size comes from
            // the datatype message (filled in below).
            val lflags = bytes(body + 2) & 0xFF
            val nd = bytes(body + 3) & 0xFF
            val encLen = bytes(body + 4) & 0xFF
            require(encLen >= 1 && encLen <= 8,
              s"bad chunk-dim encoded length $encLen")
            // minimal-byte little-endian integers: HDF5 emits ANY
            // width 1..8 (H5VM_limit_enc_size), not just 1/2/4/8
            def dimAt(p: Int): Long = leIntAt(bytes, p, encLen)
            val cdims = (0 until nd).map(i => dimAt(body + 5 + i * encLen))
            var q = body + 5 + nd * encLen
            val idxType = bytes(q) & 0xFF; q += 1
            var singleSize: Option[Long] = None
            var singleMask = 0
            val mapped = idxType match {
              case 1 =>
                if ((lflags & 0x02) != 0) { // filtered single chunk
                  singleSize = Some(buf.getLong(q)); q += 8
                  singleMask = buf.getInt(q); q += 4
                }
                Some(ChunkIndex.Single)
              case 2 => Some(ChunkIndex.Implicit)
              case 3 => q += 1 // page bits (paged arrays fail on read)
                Some(ChunkIndex.FixedArray)
              case 4 => q += 5 // EA creation params (max bits, index
                // elements, min pointers, min elements, page bits) —
                // the EAHD header repeats all five, so the reader
                // takes them from the index itself
                Some(ChunkIndex.ExtArray)
              case 5 => q += 6 // v2-btree creation params (node size
                // u32, split %, merge %) — BTHD repeats what's needed
                Some(ChunkIndex.BtreeV2)
              case _ => None // unknown index: metadata parses, data
                             // read quarantines
            }
            val addr = buf.getLong(q)
            mapped.foreach { it =>
              if (addr != -1L && nd >= 1)
                chunkInfo = Some(ChunkInfo(addr, cdims, elemSize = 0,
                  Nil, indexType = it, singleSize = singleSize,
                  singleMask = singleMask))
            }
          } else if (ver == 3 && (bytes(body + 1) & 0xFF) == 2) {
            // dimensionality(1) counts data dims + the element-size
            // dim; then B-tree address(8), then u32 chunk dims
            val nd = bytes(body + 2) & 0xFF
            val bt = buf.getLong(body + 3)
            val cdims = (0 until nd - 1).map(i =>
              buf.getInt(body + 11 + i * 4) & 0xFFFFFFFFL)
            val es = buf.getInt(body + 11 + (nd - 1) * 4)
            if (bt != -1L && nd >= 2)
              chunkInfo = Some(ChunkInfo(bt, cdims, es, Nil))
          }
        case 0x000B => // filter pipeline (what to undo per chunk)
          filters = parseFilterIds(bytes, buf, body)
        case 0x0011 => // symbol table: this object is a group
          group = Some((buf.getLong(body), buf.getLong(body + 8)))
        case 0x0002 => // link info: compact links arrive as 0x0006
          // messages in this same header; a DEFINED fractal-heap
          // address means DENSE link storage (written past the
          // compact limit, default 8 links) — the heap is scanned
          // after the message walk (parse failures there throw →
          // quarantine, never a silently empty group)
          val flags = bytes(body + 1) & 0xFF
          val heapAt = body + 2 + (if ((flags & 0x01) != 0) 8 else 0)
          val heap = buf.getLong(heapAt)
          if (heap != -1L)
            denseHeap = Some((heap, buf.getLong(heapAt + 8)))
        case 0x0006 => // link message: one compact group member
          parseLinkMessage(bytes, buf, body)._1.foreach(links += _)
        case 0x000C => // attribute (name + embedded datatype/dataspace
          // + value): netCDF-4 carries units/scale_factor/_FillValue
          // here — the `variable._FillValue` the reference reads
          // (`cogify/handler.py:105`)
          parseAttribute(bytes, buf, body).foreach(attrs += _)
        case _ => ()
    }

    val hdrVersion = bytes(a) & 0xFF
    if (hdrVersion == 1) {
      // v1: count-prefixed 8-aligned messages after prefix(12)+pad(4);
      // a continuation message (0x0010) moves the cursor elsewhere
      val nMsgs = buf.getShort(a + 2) & 0xFFFF
      var p = a + 16
      var remaining = nMsgs
      while (remaining > 0) {
        val typ = buf.getShort(p) & 0xFFFF
        val size = buf.getShort(p + 2) & 0xFFFF
        // v1 message header: type(2) size(2) flags(1) reserved(3)
        val mflags = bytes(p + 4) & 0xFF
        val body = p + 8
        if (typ == 0x0010) p = buf.getLong(body).toInt
        else { handleMessage(typ, body, mflags); p += 8 + size }
        remaining -= 1
      }
    } else {
      // v2: "OHDR" signature; messages fill a length-bounded chunk 0
      // (no count, no alignment), continuations are "OCHK" blocks of
      // (signature, messages, checksum). Optional per-flags fields:
      // bit5 = 4 timestamps, bit4 = phase-change limits, bit2 =
      // 2-byte creation order per message, bits0-1 = chunk-0 size
      // field width. Checksums are not verified (read-only parse).
      val sig = new String(bytes, a, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      require(sig == "OHDR" && (bytes(a + 4) & 0xFF) == 2,
        s"unsupported object header version")
      val hflags = bytes(a + 5) & 0xFF
      var p = a + 6
      if ((hflags & 0x20) != 0) p += 16 // access/mod/change/birth times
      if ((hflags & 0x10) != 0) p += 4  // phase-change limits
      val szBytes = 1 << (hflags & 0x03)
      val chunk0 = (szBytes match {
        case 1 => (bytes(p) & 0xFF).toLong
        case 2 => (buf.getShort(p) & 0xFFFF).toLong
        case 4 => buf.getInt(p) & 0xFFFFFFFFL
        case _ => buf.getLong(p)
      }).toInt
      p += szBytes
      val hdrSz = if ((hflags & 0x04) != 0) 6 else 4
      val regions = scala.collection.mutable.Queue((p, p + chunk0))
      while (regions.nonEmpty) {
        var (q, end) = regions.dequeue()
        // trailing gaps are < one message prefix, so the bound check
        // terminates each region cleanly
        while (q + hdrSz <= end) {
          val typ = bytes(q) & 0xFF
          val size = buf.getShort(q + 1) & 0xFFFF
          // v2 message header: type(1) size(2) flags(1) [creation(2)]
          val mflags = bytes(q + 3) & 0xFF
          val body = q + hdrSz
          if (typ == 0x10) {
            val off = buf.getLong(body).toInt
            val len = buf.getLong(body + 8).toInt
            val csig = new String(bytes, off, 4,
              java.nio.charset.StandardCharsets.US_ASCII)
            require(csig == "OCHK", s"bad continuation block '$csig'")
            regions.enqueue((off + 4, off + len - 4)) // len incl sig+cksum
          } else if (typ != 0) handleMessage(typ, body, mflags)
          q += hdrSz + size
        }
      }
    }

    // dense link storage: links live as link messages inside the
    // fractal heap instead of the header (parse failures throw →
    // the caller's quarantine)
    if (links.isEmpty) denseHeap.foreach { case (h, nameBt) =>
      denseLinks(bytes, buf, h, nameBt, links) }

    // the root group's own attributes are the file's GLOBAL
    // attributes (netCDF-4 writes them here); collect them for the
    // caller — the classic path populates the same FileMeta field
    if (path.isEmpty) rootAttrs.foreach(_ ++= attrs)

    group match {
      case Some((bt, hp)) =>
        walkGroup(bytes, buf, bt, hp, path + "/", depth + 1, out)
      case None if links.nonEmpty || (typeClass < 0 && shape.isEmpty) =>
        // link-message group (or an empty/linkless group header, e.g.
        // a v2 root with no members): recurse into each hard link
        val pre = if (path.isEmpty) "" else path + "/"
        links.foreach { case (nm, hdr) =>
          parseObjectHeader(bytes, buf, hdr, pre + nm, depth + 1, out) }
      case None =>
        val typeName = (typeClass, typeSize) match {
          case (0, 1) => "byte"
          case (0, 2) => "short"
          case (0, 4) => "int"
          case (0, 8) => "long"
          case (1, 4) => "float"
          case (1, 8) => "double"
          case _ => s"class$typeClass/$typeSize"
        }
        // fill-value bytes are stored in the DATASET's byte order
        // (big-endian-typed datasets exist: numpy '>f4' etc.)
        val fill = fillBytes.map { fb =>
          val b = ByteBuffer.wrap(fb).order(
            if (typeLittleEndian) ByteOrder.LITTLE_ENDIAN
            else ByteOrder.BIG_ENDIAN)
          (typeClass, fb.length) match {
            case (1, 4) => b.getFloat.toDouble
            case (1, 8) => b.getDouble
            case (0, 1) => fb(0).toDouble
            case (0, 2) => b.getShort.toDouble
            case (0, 4) => b.getInt.toDouble
            case (0, 8) => b.getLong.toDouble
            case _ => Double.NaN
          }
        }
        // fill precedence: the fill-value message, else the
        // `_FillValue` attribute (netCDF-4 writes both; some writers
        // only the attribute — the one the reference reads)
        val fillAttr = attrs.find(_.name == "_FillValue")
          .flatMap(_.nums.headOption)
        out += VarMeta(path, shape.getOrElse(Nil), typeName,
          fill.orElse(fillAttr), attrs.toSeq,
          begin = contiguousAddr, littleEndian = typeLittleEndian,
          chunks = chunkInfo.map(ci => ci.copy(filters = filters,
            fillBytes = fillBytes,
            // v4 layout carries no element-size dim — the datatype
            // message's size applies
            elemSize = if (ci.elemSize == 0) typeSize else ci.elemSize)))
    }
  }

  /** Parse one link message at `body`: returns the hard link (name →
    * object header address), or None for soft/external links, plus
    * the end offset of the message — the same bytes whether the
    * message sits in an object header (compact) or a fractal-heap
    * block (dense). */
  private def parseLinkMessage(bytes: Array[Byte], buf: ByteBuffer,
                               body: Int): (Option[(String, Long)], Int) = {
    val ver = bytes(body) & 0xFF
    require(ver == 1, s"unsupported link message version $ver")
    val flags = bytes(body + 1) & 0xFF
    var q = body + 2
    val linkType =
      if ((flags & 0x08) != 0) { val t = bytes(q) & 0xFF; q += 1; t }
      else 0 // no type field = hard link
    if ((flags & 0x04) != 0) q += 8 // creation order
    if ((flags & 0x10) != 0) q += 1 // link-name charset
    val lenSz = 1 << (flags & 0x03)
    val nameLen = (lenSz match {
      case 1 => (bytes(q) & 0xFF).toLong
      case 2 => (buf.getShort(q) & 0xFFFF).toLong
      case 4 => buf.getInt(q) & 0xFFFFFFFFL
      case _ => buf.getLong(q)
    }).toInt
    q += lenSz
    val name = new String(bytes, q, nameLen,
      java.nio.charset.StandardCharsets.UTF_8)
    q += nameLen
    linkType match {
      case 0 => (Some(name -> buf.getLong(q)), q + 8) // hard
      case 1 | 64 => // soft/external: length-prefixed payload, skipped
        val sz = buf.getShort(q) & 0xFFFF
        (None, q + 2 + sz)
      case other =>
        throw new IllegalArgumentException(s"unknown link type $other")
    }
  }

  /** Parse one attribute message (0x000C, versions 1-3): name,
    * embedded datatype + dataspace, then the value. Numeric scalars /
    * small 1-D arrays and fixed-size strings decode; anything exotic
    * (shared/vlen datatypes, big arrays) returns None — attributes
    * are enrichment, a skipped one must not quarantine the file. */
  private def parseAttribute(bytes: Array[Byte], buf: ByteBuffer,
                             body: Int): Option[Attr] = try {
    val ver = bytes(body) & 0xFF
    if (ver < 1 || ver > 3) return None
    if (ver >= 2 && (bytes(body + 1) & 0x03) != 0) return None // shared
    val nameSize = buf.getShort(body + 2) & 0xFFFF
    val dtSize = buf.getShort(body + 4) & 0xFFFF
    val dsSize = buf.getShort(body + 6) & 0xFFFF
    var p = body + (if (ver == 3) 9 else 8) // v3 adds an encoding byte
    def advance(n: Int): Unit = // v1 pads each part to 8 bytes
      p += (if (ver == 1) (n + 7) / 8 * 8 else n)
    val name = new String(bytes, p,
      bytes.view.slice(p, p + nameSize).takeWhile(_ != 0).size,
      java.nio.charset.StandardCharsets.UTF_8)
    advance(nameSize)
    // embedded datatype: version<<4|class at byte 0, size at +4
    val dtClass = bytes(p) & 0x0F
    val dtLittle = (bytes(p + 1) & 0x01) == 0
    val elemSize = buf.getInt(p + 4)
    advance(dtSize)
    // embedded dataspace: v1 dims at +8, v2 at +4
    val dsVer = bytes(p) & 0xFF
    val rank = bytes(p + 1) & 0xFF
    val dimsAt = if (dsVer == 1) p + 8 else p + 4
    val nElems = (0 until rank)
      .map(i => buf.getLong(dimsAt + i * 8)).product.max(1L)
    advance(dsSize)
    if (nElems > 1024 || elemSize <= 0 || elemSize > 4096) return None
    val order = if (dtLittle) ByteOrder.LITTLE_ENDIAN
      else ByteOrder.BIG_ENDIAN
    val vbuf = ByteBuffer.wrap(bytes).order(order)
    dtClass match {
      case 3 => // fixed-size string
        val raw = bytes.slice(p, p + elemSize)
        Some(Attr(name, Some(new String(raw.takeWhile(_ != 0),
          java.nio.charset.StandardCharsets.UTF_8)), Nil))
      case 0 | 1 => // fixed-point / float
        val vals = (0 until nElems.toInt).flatMap { i =>
          val o = p + i * elemSize
          (dtClass, elemSize) match {
            case (0, 1) => Some(bytes(o).toDouble)
            case (0, 2) => Some(vbuf.getShort(o).toDouble)
            case (0, 4) => Some(vbuf.getInt(o).toDouble)
            case (0, 8) => Some(vbuf.getLong(o).toDouble)
            case (1, 4) => Some(vbuf.getFloat(o).toDouble)
            case (1, 8) => Some(vbuf.getDouble(o))
            case _ => None
          }
        }
        if (vals.size == nElems) Some(Attr(name, None, vals)) else None
      case _ => None
    }
  } catch { case _: Exception => None }

  /** Parse a filter-pipeline body (object-header message 0x000B, v1
    * or v2 — the same layout the fractal-heap header embeds as its
    * "I/O Filter Information") and return the filter ids in order. */
  private def parseFilterIds(bytes: Array[Byte], buf: ByteBuffer,
                             body: Int): Seq[Int] = {
    val ver = bytes(body) & 0xFF
    val nf = bytes(body + 1) & 0xFF
    var q = if (ver == 1) body + 8 else body + 2
    val ids = ArrayBuffer.empty[Int]
    (0 until nf).foreach { _ =>
      val id = buf.getShort(q) & 0xFFFF
      if (ver == 1) {
        val nameLen = buf.getShort(q + 2) & 0xFFFF
        val ncv = buf.getShort(q + 6) & 0xFFFF
        val namePad = (nameLen + 7) / 8 * 8
        q += 8 + namePad + ncv * 4 + (if (ncv % 2 == 1) 4 else 0)
      } else { // v2: name only present for ids >= 256; no padding
        val hasName = id >= 256
        val nameLen = if (hasName) buf.getShort(q + 2) & 0xFFFF else 0
        val flagsAt = if (hasName) q + 4 else q + 2
        val ncv = buf.getShort(flagsAt + 2) & 0xFFFF
        q = flagsAt + 4 + nameLen + ncv * 4
      }
      ids += id
    }
    ids.toSeq
  }

  /** Dense link storage (fractal heap "FRHP"): the subset real
    * netCDF-4/HDF5 groups use — a managed heap whose root is either a
    * single direct block or an indirect block tree (doubling-table
    * rows; rows past maxDirectRows recurse into child indirect
    * blocks, the shape groups with thousands of links grow into),
    * unfiltered or deflate-filtered (the heap's I/O filter pipeline
    * compresses each ENTIRE direct block, header included — the
    * stored size comes from the heap header for a filtered root
    * block and from 8-byte-size + 4-byte-mask direct entries in
    * indirect blocks otherwise; child-indirect entries stay
    * address-only). Link messages are packed sequentially in each
    * block's data area, so the group's links are recovered by a
    * sequential scan (`nManaged` is the stop condition; the name-index
    * v2 B-tree is a lookup accelerator this full-listing walk does
    * not need — EXCEPT for huge/tiny objects, whose bytes never enter
    * a managed block: their heap IDs live in the name-index records,
    * resolved by [[hugeTinyLinks]]). Unexpected shapes (non-deflate
    * heap filters, short scans, multi-level huge/tiny name indexes)
    * throw → quarantine. */
  private def denseLinks(bytes: Array[Byte], buf: ByteBuffer,
                         heapAddr: Long, nameBtree: Long,
                         links: ArrayBuffer[(String, Long)]): Unit = {
    val h = heapAddr.toInt
    val sig = new String(bytes, h, 4,
      java.nio.charset.StandardCharsets.US_ASCII)
    require(sig == "FRHP", s"bad fractal heap signature '$sig'")
    val ioFilterLen = buf.getShort(h + 7) & 0xFFFF
    val flags = bytes(h + 9) & 0xFF
    val nManaged = buf.getLong(h + 70)
    // heap statistics at +78..109: size/number of huge objects,
    // size/number of tiny objects (8 bytes each) — nonzero counts
    // route through the name-index B-tree walk below
    val nHuge = buf.getLong(h + 86)
    val nTiny = buf.getLong(h + 102)
    if (nHuge > 0L || nTiny > 0L)
      hugeTinyLinks(bytes, buf, h, nameBtree, nHuge, nTiny, links)
    val tableWidth = buf.getShort(h + 110) & 0xFFFF
    val startBlock = buf.getLong(h + 112)
    val maxDirect = buf.getLong(h + 120)
    val maxHeapBits = buf.getShort(h + 128) & 0xFFFF
    val rootAddr = buf.getLong(h + 132)
    val currRows = buf.getShort(h + 140) & 0xFFFF
    val offSz = (maxHeapBits + 7) / 8
    if (rootAddr == -1L || nManaged == 0L) return
    // filtered heap: when the root is a DIRECT block its stored
    // (compressed) size + filter mask precede the filter info; the
    // info itself is a filter-pipeline body — only deflate-only
    // pipelines are undone, anything else fails closed
    val filtered = ioFilterLen > 0
    val filteredRootSize =
      if (filtered && currRows == 0) buf.getLong(h + 142) else -1L
    if (filtered) {
      val infoAt = h + 142 + (if (currRows == 0) 12 else 0)
      val ids = parseFilterIds(bytes, buf, infoAt)
      require(ids.nonEmpty && ids.forall(_ == 1),
        s"unsupported fractal-heap filter pipeline ${ids.mkString(",")}")
    }
    // direct blocks in heap-offset order: the root IS a direct block
    // (currRows = 0) or an indirect block; indirect rows follow the
    // doubling table — rows below maxDirectRows point at DIRECT
    // blocks (with per-entry stored-size + filter-mask when the heap
    // is filtered), rows at/above it point at child INDIRECT blocks
    // (address-only entries; a child covering S bytes has
    // log2(S / (startBlock·width)) + 1 rows — the spec's closed
    // form, which is exactly "capacity == covered size"). `stored`
    // is the on-disk byte count (== logical size when unfiltered).
    def log2(v: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(v)
    val maxDirectRows = log2(maxDirect) - log2(startBlock) + 2
    def walkIndirect(at: Long, nrows: Int, depth: Int)
    : Seq[(Long, Long, Long)] = {
      require(depth < 8, "fractal-heap indirect nesting too deep")
      val ib = at.toInt
      val isig = new String(bytes, ib, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      require(isig == "FHIB", s"bad indirect block signature '$isig'")
      var p = ib + 4 + 1 + 8 + offSz
      (0 until nrows).flatMap { r =>
        val bs = if (r < 2) startBlock else startBlock << (r - 1)
        (0 until tableWidth).flatMap { _ =>
          if (r < maxDirectRows) {
            val a = buf.getLong(p); p += 8
            val stored = if (filtered) {
              val sz = buf.getLong(p); p += 8
              p += 4 // per-block filter mask (deflate-only: unused)
              sz
            } else bs
            if (a == -1L) Nil else Seq((a, bs, stored))
          } else {
            val a = buf.getLong(p); p += 8
            if (a == -1L) Nil
            else walkIndirect(a,
              log2(bs / (startBlock * tableWidth)) + 1, depth + 1)
          }
        }
      }
    }
    val blocks: Seq[(Long, Long, Long)] = // (addr, logicalSize, stored)
      if (currRows == 0)
        Seq((rootAddr, startBlock,
          if (filtered) filteredRootSize else startBlock))
      else walkIndirect(rootAddr, currRows, 0)
    val headerSize = 4 + 1 + 8 + offSz +
      (if ((flags & 0x02) != 0) 4 else 0) // per-block checksum
    var remaining = nManaged
    blocks.foreach { case (addr, size, stored) =>
      if (remaining > 0) {
        val a0 = addr.toInt
        // a filtered direct block is compressed WHOLE (signature and
        // header included) — inflate first, then scan like any block
        val (arr, bbuf, a) =
          if (filtered) {
            val raw = inflateExact(
              bytes.slice(a0, a0 + stored.toInt), size)
            (raw, ByteBuffer.wrap(raw).order(buf.order), 0)
          } else (bytes, buf, a0)
        val dsig = new String(arr, a, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        require(dsig == "FHDB", s"bad direct block signature '$dsig'")
        var p = a + headerSize
        val end = a + size.toInt
        var blockDone = false
        while (remaining > 0 && !blockDone && p + 4 <= end) {
          if ((arr(p) & 0xFF) != 1) blockDone = true // tail free space
          else {
            val (link, next) = parseLinkMessage(arr, bbuf, p)
            link.foreach(links += _)
            remaining -= 1
            p = next
          }
        }
      }
    }
    require(remaining == 0L,
      s"fractal heap scan found ${nManaged - remaining} of $nManaged links")
  }

  /** Huge/tiny fractal-heap objects: link messages that never enter a
    * managed direct block, so the sequential scan cannot see them.
    * Their heap IDs live in the group's NAME-INDEX v2 B-tree (record
    * type 5: 4-byte name hash + heap ID). A TINY object inlines the
    * whole message in the ID (normal form, heap IDs ≤ 18 bytes:
    * low nibble of byte 0 is length-1). A HUGE object is stored raw
    * (or deflated, in a filtered heap) elsewhere in the file: with a
    * heap ID wide enough (≥ 17 unfiltered / ≥ 29 filtered) the ID
    * carries address+length DIRECTLY and the heap header's huge
    * B-tree address stays undefined; otherwise the ID holds a
    * min(8, idLen-1)-byte object id resolved through the huge-object
    * v2 B-tree (record types 1 unfiltered / 2 filtered).
    *
    * Scope: trees of ANY depth (internal BTIN nodes walked with the
    * library's node-capacity recurrence — the same math as
    * [[readBtreeV2Chunks]], in throwing form). EXTENDED tiny IDs
    * (heap ID length > 18: the 12-bit length field spans bytes 0-1,
    * message at byte 2) parse like normal ones. Huge-object B-trees
    * of types 3/4 are the DIRECT-access tracking index (the spec
    * keeps one for deletion even though each heap ID carries
    * address+length itself), so direct-vs-indirect is decided by the
    * ID width rule, not by the tree's presence; in direct mode the
    * tree goes unread (the ID is authoritative for a listing). An ID
    * too narrow for direct access with no huge B-tree fails closed
    * (→ quarantine), never silently drops a link. */
  private def hugeTinyLinks(bytes: Array[Byte], buf: ByteBuffer,
                            h: Int, nameBtree: Long, nHuge: Long,
                            nTiny: Long,
                            links: ArrayBuffer[(String, Long)]): Unit = {
    require(nameBtree != -1L,
      "huge/tiny heap objects without a name-index v2 B-tree")
    val heapIdLen = buf.getShort(h + 5) & 0xFFFF
    val ioFilterLen = buf.getShort(h + 7) & 0xFFFF
    val hugeBtree = buf.getLong(h + 22)
    // huge-object B-tree (indirect IDs): object id -> (addr, stored
    // size, memory size or -1 when unfiltered)
    lazy val hugeRecords: Map[Long, (Long, Long, Long)] = {
      val (t, _, recs) = btreeV2Records(bytes, buf, hugeBtree)
      require(t == 1 || t == 2,
        s"unsupported huge-object v2 B-tree record type $t")
      recs.map { r =>
        val addr = buf.getLong(r)
        val len = buf.getLong(r + 8)
        if (t == 1) buf.getLong(r + 16) -> ((addr, len, -1L))
        else buf.getLong(r + 28) -> ((addr, len, buf.getLong(r + 20)))
      }.toMap
    }
    def parseHuge(addr: Long, stored: Long, mem: Long): Unit = {
      val (arr, b2, at) =
        if (mem >= 0) {
          val raw = inflateExact(
            bytes.slice(addr.toInt, (addr + stored).toInt), mem)
          (raw, ByteBuffer.wrap(raw).order(buf.order), 0)
        } else (bytes, buf, addr.toInt)
      parseLinkMessage(arr, b2, at)._1.foreach(links += _)
    }
    val (nameType, recSize, recs) = btreeV2Records(bytes, buf, nameBtree)
    require(nameType == 5, s"unexpected name-index record type $nameType")
    require(recSize >= 4 + heapIdLen,
      s"name-index record size $recSize below hash + heap ID")
    var hugeSeen = 0L
    var tinySeen = 0L
    recs.foreach { r =>
      val id = r + 4 // past the name hash
      val b0 = bytes(id) & 0xFF
      require((b0 >> 6) == 0, s"unknown heap ID version ${b0 >> 6}")
      (b0 >> 4) & 0x3 match {
        case 0 => () // managed: the sequential block scan covers these
        case 2 => // tiny: message inline in the ID. Normal form
          // (heap ID ≤ 18 bytes): 4-bit length-1 in byte 0, message
          // at byte 1. Extended form (> 18): 12-bit length-1 across
          // bytes 0-1, message at byte 2.
          val at = if (heapIdLen <= 18) id + 1 else id + 2
          parseLinkMessage(bytes, buf, at)._1.foreach(links += _)
          tinySeen += 1
        case 1 => // huge
          // direct when the ID is wide enough for address+length
          // (+ mask & memory size when filtered) — the spec's rule;
          // a type-3/4 huge B-tree may exist alongside direct IDs
          // (deletion tracking) and is not consulted for a listing
          val hugeDirect = heapIdLen >= (if (ioFilterLen > 0) 29 else 17)
          if (hugeDirect) { // direct: address + length in the ID
            val addr = buf.getLong(id + 1)
            val stored = buf.getLong(id + 9)
            val mem =
              if (ioFilterLen > 0) buf.getLong(id + 21) else -1L
            parseHuge(addr, stored, mem)
          } else { // indirect: object id into the huge B-tree
            require(hugeBtree != -1L,
              s"indirect huge heap ID ($heapIdLen bytes) without a " +
                "huge-object B-tree")
            val oid = leIntAt(bytes, id + 1, math.min(8, heapIdLen - 1))
            val (addr, stored, mem) = hugeRecords.getOrElse(oid,
              throw new IllegalArgumentException(
                s"huge object id $oid missing from B-tree"))
            parseHuge(addr, stored, mem)
          }
          hugeSeen += 1
        case other =>
          throw new IllegalArgumentException(s"heap ID type $other")
      }
    }
    require(hugeSeen == nHuge && tinySeen == nTiny,
      s"name index yielded $hugeSeen/$nHuge huge, $tinySeen/$nTiny tiny")
  }

  // ---------------------------------------------------------------
  // Chunked-storage assembly: v1 B-tree (node type 1) chunk index +
  // per-chunk filter reversal — the layout real HDF-EOS granules use
  // (netCDF4 writes chunked + shuffle + deflate by default,
  // `cogify/handler.py:96-120` reads it through the C library)
  // ---------------------------------------------------------------

  /** Assemble a chunked dataset's raw row-major bytes, or None when a
    * filter/size is unsupported (callers fall back to quarantine). */
  private def readChunked(bytes: Array[Byte], shape: Seq[Long],
                          ci: ChunkInfo): Option[Array[Byte]] = try {
    val rank = shape.size
    if (rank == 0 || ci.chunkDims.size != rank) return None
    val es = ci.elemSize
    val dims = shape.map(_.toInt).toArray
    val cdims = ci.chunkDims.map(_.toInt).toArray
    val totalBytes = shape.product * es
    if (totalBytes <= 0 || totalBytes > Int.MaxValue - 8) return None
    val out = new Array[Byte](totalBytes.toInt)
    // pre-fill with the dataset's fill value: writers routinely elide
    // chunks that are entirely fill, so regions with no allocated
    // chunk must decode to the fill value, not to zero bytes. No
    // fill-value message = HDF5's default all-zero fill, which the
    // fresh array already is; a declared fill of unexpected width is
    // undecodable → quarantine rather than guess.
    ci.fillBytes.foreach { fb =>
      if (fb.length != es) return None
      if (fb.exists(_ != 0)) {
        var p = 0
        while (p < out.length) { System.arraycopy(fb, 0, out, p, es); p += es }
      }
    }
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

    // dataset element strides (row-major)
    val dstr = new Array[Long](rank)
    dstr(rank - 1) = 1
    var d = rank - 2
    while (d >= 0) { dstr(d) = dstr(d + 1) * dims(d + 1); d -= 1 }
    val chunkElems = cdims.map(_.toLong).product
    val nominal = chunkElems * es
    if (nominal > Int.MaxValue - 8) return None

    // chunk grid in row-major chunk order — the layout-v4 indexes
    // address chunks by this linearization
    val gridDims = Array.tabulate(rank)(k =>
      (dims(k) + cdims(k) - 1) / cdims(k))
    val nChunks = gridDims.map(_.toLong).product
    def chunkOffs(idx: Long): Array[Long] = {
      val o = new Array[Long](rank)
      var rem = idx
      var k = rank - 1
      while (k >= 0) {
        o(k) = (rem % gridDims(k)) * cdims(k); rem /= gridDims(k); k -= 1
      }
      o
    }

    val chunks = ArrayBuffer.empty[(Array[Long], Int, Long, Int)]
    ci.indexType match {
      case ChunkIndex.BtreeV1 =>
        walkChunkBtree(bytes, buf, ci.addr, rank + 1, depth = 0, chunks)
      case ChunkIndex.Single =>
        // one chunk covers the whole (padded) dataset; a filtered
        // single chunk must carry its stored size in the message
        if (nChunks != 1L) return None
        if (ci.filters.nonEmpty && ci.singleSize.isEmpty) return None
        val sz = ci.singleSize.getOrElse(nominal)
        chunks += ((new Array[Long](rank), sz.toInt, ci.addr,
          ci.singleMask))
      case ChunkIndex.Implicit =>
        // unfiltered chunks packed row-major from the base address
        if (ci.filters.nonEmpty || nChunks > 65536L) return None
        var i = 0L
        while (i < nChunks) {
          chunks += ((chunkOffs(i), nominal.toInt,
            ci.addr + i * nominal, 0))
          i += 1
        }
      case ChunkIndex.FixedArray =>
        if (!readFixedArray(bytes, buf, ci, nominal.toInt, nChunks,
          chunkOffs, chunks)) return None
      case ChunkIndex.ExtArray =>
        if (!readExtensibleArray(bytes, buf, ci, nominal.toInt, nChunks,
          chunkOffs, chunks)) return None
      case ChunkIndex.BtreeV2 =>
        if (!readBtreeV2Chunks(bytes, buf, ci, rank, nominal.toInt,
          chunks)) return None
      case _ => return None
    }

    // hostile-input guard (found by FuzzSpec): no index structure can
    // legitimately carry more records than the dataset has chunk
    // positions — a mutated B-tree that multiplies records must fail
    // closed BEFORE the per-chunk decompress loop below turns each
    // bogus record into real inflate/unshuffle work (measured 16 s on
    // an 8 KB file)
    if (chunks.length > nChunks) return None

    chunks.foreach { case (offs, size, addr, mask) =>
      var raw = bytes.slice(addr.toInt, addr.toInt + size)
      // undo the pipeline in reverse; a set mask bit i means filter i
      // was SKIPPED for this chunk
      ci.filters.zipWithIndex.reverse.foreach { case (fid, idx) =>
        if ((mask & (1 << idx)) == 0) raw = fid match {
          case 1 => inflateExact(raw, nominal)
          case 2 => unshuffle(raw, es)
          case 3 => raw.dropRight(4) // fletcher32: strip the checksum
          case other => throw new IllegalArgumentException(
            s"unsupported HDF5 filter $other")
        }
      }
      // copy runs along the last axis; edge chunks are stored padded
      // to the full chunk shape, so the in-chunk stride is always
      // cdims — only the copy extent clips to the dataset bounds
      val lastC = cdims(rank - 1)
      val nOuter = if (rank == 1) 1
        else cdims.dropRight(1).map(_.toLong).product.toInt
      var oi = 0
      while (oi < nOuter) {
        var rem = oi; var inBounds = true; var dstBase = 0L
        var k = rank - 2
        while (k >= 0) {
          val c = rem % cdims(k); rem /= cdims(k)
          val ds = offs(k) + c
          if (ds >= dims(k)) inBounds = false
          dstBase += ds * dstr(k)
          k -= 1
        }
        if (inBounds) {
          val x0 = offs(rank - 1)
          val runLen = math.min(lastC.toLong, dims(rank - 1) - x0)
          if (runLen > 0) {
            val src = oi.toLong * lastC * es
            val dst = (dstBase + x0) * es
            // a chunk that decodes SHORT of its nominal extent is
            // corruption — skipping the copy would leave fill values
            // in place of real data and read "successfully" (silent
            // wrong output); throw → the method's catch → None →
            // quarantine, per the module's fail-closed contract
            require(src + runLen * es <= raw.length,
              s"chunk decoded short: need ${src + runLen * es} of " +
                s"${raw.length} bytes")
            System.arraycopy(raw, src.toInt, out, dst.toInt,
              (runLen * es).toInt)
          }
        }
        oi += 1
      }
    }
    Some(out)
  } catch { case _: Exception => None }

  /** Walk a v1 chunk B-tree (node type 1): keys carry (size, filter
    * mask, element offsets); leaf children are chunk data addresses. */
  private def walkChunkBtree(bytes: Array[Byte], buf: ByteBuffer,
                             addr: Long, nd: Int, depth: Int,
                             out: ArrayBuffer[(Array[Long], Int, Long, Int)])
  : Unit = {
    require(depth <= 12, "chunk B-tree too deep")
    val a = addr.toInt
    val sig = new String(bytes, a, 4, java.nio.charset.StandardCharsets.US_ASCII)
    require(sig == "TREE", s"bad chunk B-tree signature '$sig'")
    require((bytes(a + 4) & 0xFF) == 1, "not a raw-data chunk B-tree")
    val level = bytes(a + 5) & 0xFF
    val n = buf.getShort(a + 6) & 0xFFFF
    val keySize = 8 + 8 * nd
    var p = a + 24
    (0 until n).foreach { _ =>
      val size = buf.getInt(p)
      val mask = buf.getInt(p + 4)
      val offs = Array.tabulate(nd - 1)(j => buf.getLong(p + 8 + j * 8))
      val child = buf.getLong(p + keySize)
      if (level > 0) walkChunkBtree(bytes, buf, child, nd, depth + 1, out)
      else out += ((offs, size, child, mask))
      p += keySize + 8
    }
  }

  /** Fixed-array chunk index ("FAHD" header + "FADB" data block, the
    * layout-v4 default for fixed-shape datasets): entries are chunk
    * records in row-major chunk-grid order — client 0 is a bare
    * address per chunk, client 1 appends the stored size + filter
    * mask. Returns false (→ quarantine) on paged data blocks, entry-
    * count mismatches, or unknown client ids — never a wrong grid. */
  private def readFixedArray(bytes: Array[Byte], buf: ByteBuffer,
                             ci: ChunkInfo, nominal: Int, nChunks: Long,
                             chunkOffs: Long => Array[Long],
                             chunks: ArrayBuffer[(Array[Long], Int, Long, Int)])
  : Boolean = {
    val h = ci.addr.toInt
    if (new String(bytes, h, 4,
        java.nio.charset.StandardCharsets.US_ASCII) != "FAHD") return false
    val clientId = bytes(h + 5) & 0xFF
    val entrySize = bytes(h + 6) & 0xFF
    val pageBits = bytes(h + 7) & 0xFF
    val maxEntries = buf.getLong(h + 8)
    val dblk = buf.getLong(h + 16)
    if (maxEntries != nChunks) return false
    if (dblk == -1L) return true // nothing allocated: all fill value
    val dPos = dblk.toInt
    if (new String(bytes, dPos, 4,
        java.nio.charset.StandardCharsets.US_ASCII) != "FADB") return false

    def entryAt(p: Int, i: Long): Boolean =
      arrayChunkRecord(bytes, buf, p, i, clientId, entrySize, nominal,
        chunkOffs, chunks)

    val hdrEnd = dPos + 6 + 8 // sig(4) version(1) clientId(1) headerAddr(8)
    val pageElems = 1L << pageBits
    if (maxEntries <= pageElems) {
      // unpaged: elements packed right after the block header
      var p = hdrEnd
      var i = 0L
      while (i < maxEntries) {
        if (!entryAt(p, i)) return false
        p += entrySize
        i += 1
      }
    } else {
      // paged (large chunk counts): a page bitmap, then fixed-size
      // pages of elements each followed by its own checksum. Space is
      // allocated for EVERY page; an uninitialized page (bitmap bit
      // clear) means none of its chunks were written — fill value.
      val nPages = ((maxEntries + pageElems - 1) / pageElems).toInt
      val bitmapBytes = (nPages + 7) / 8
      // the data block's own 4-byte checksum sits between the bitmap
      // and the first page (each page then carries its own)
      var p = hdrEnd + bitmapBytes + 4
      var pg = 0
      while (pg < nPages) {
        // page-init bits are MSB-first: bit offset 0 is the first
        // byte's HIGH bit (H5VM_bit_get: `1 << (7 - offset % 8)`)
        val initialized =
          ((bytes(hdrEnd + pg / 8) >> (7 - pg % 8)) & 1) == 1
        val first = pg.toLong * pageElems
        val inPage = math.min(pageElems, maxEntries - first)
        if (initialized) {
          var j = 0L
          while (j < inPage) {
            if (!entryAt(p + (j * entrySize).toInt, first + j))
              return false
            j += 1
          }
        }
        p += (inPage * entrySize).toInt + 4 // + per-page checksum
        pg += 1
      }
    }
    true
  }

  /** Decode one fixed/extensible-array chunk record at `p` for
    * row-major chunk `i`: client 0 is a bare chunk address, client 1
    * appends the stored (filtered) size in `entrySize - 12` bytes
    * (minimal little-endian width, 1..8) plus a 4-byte filter mask.
    * An undefined address is an elided chunk — the region stays at
    * the pre-filled dataset fill value. */
  private def arrayChunkRecord(bytes: Array[Byte], buf: ByteBuffer,
                               p: Int, i: Long, clientId: Int,
                               entrySize: Int, nominal: Int,
                               chunkOffs: Long => Array[Long],
                               chunks: ArrayBuffer[(Array[Long], Int, Long, Int)])
  : Boolean = clientId match {
    case 0 => // non-filtered: chunk address only
      val addr = buf.getLong(p)
      if (addr != -1L) chunks += ((chunkOffs(i), nominal, addr, 0))
      true
    case 1 => // filtered: address + size(entrySize-12) + mask(4)
      val addr = buf.getLong(p)
      val szW = entrySize - 12
      if (szW < 1 || szW > 8) return false
      val sz = leIntAt(bytes, p + 8, szW)
      val mask = buf.getInt(p + 8 + szW)
      if (addr != -1L) chunks += ((chunkOffs(i), sz.toInt, addr, mask))
      true
    case _ => false
  }

  /** Extensible-array chunk index ("EAHD" header → "EAIB" index
    * block → "EASB" super blocks / "EADB" data blocks): the
    * layout-v4 index HDF5 >= 1.10 picks for datasets with ONE
    * unlimited dimension (the netCDF-4 record-dimension shape). The
    * array maps row-major chunk-grid indexes to chunk records in
    * three regions — the first `idxBlkElmts` elements inline in the
    * index block, then data blocks addressed from the index block
    * (super-block rows 0 .. 2·log2(minPtrs)−1 flattened), then data
    * blocks addressed from real super blocks; row u holds 2^(u/2)
    * data blocks of 2^((u+1)/2)·minElmts elements. Undefined
    * addresses at any level are elided chunks/blocks (fill value).
    * Super-block rows whose data blocks exceed the page size read
    * through the paged layout (per-page checksums, the super block's
    * MSB-first page-init bitmap). Fails closed (→ quarantine) on
    * index-block-addressed paged blocks (the library never pages
    * those — they have no bitmap to consult), unknown clients, or
    * bad signatures — never a wrong grid. */
  private def readExtensibleArray(bytes: Array[Byte], buf: ByteBuffer,
                                  ci: ChunkInfo, nominal: Int, nChunks: Long,
                                  chunkOffs: Long => Array[Long],
                                  chunks: ArrayBuffer[(Array[Long], Int, Long, Int)])
  : Boolean = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val h = ci.addr.toInt
    if (new String(bytes, h, 4, ascii) != "EAHD") return false
    val clientId = bytes(h + 5) & 0xFF
    val elemSize = bytes(h + 6) & 0xFF
    val maxBits = bytes(h + 7) & 0xFF
    val idxBlkElmts = bytes(h + 8) & 0xFF
    val minElmts = bytes(h + 9) & 0xFF
    val minPtrs = bytes(h + 10) & 0xFF
    val pageBits = bytes(h + 11) & 0xFF
    if (clientId > 1 || elemSize < 1) return false
    if (minElmts < 1 || (minElmts & (minElmts - 1)) != 0) return false
    if (minPtrs < 2 || (minPtrs & (minPtrs - 1)) != 0) return false
    def log2(v: Int): Int = 31 - Integer.numberOfLeadingZeros(v)
    val hdrNsblks = 1 + maxBits - log2(minElmts) // super-block rows
    val iblkNsblks = 2 * log2(minPtrs)           // rows inlined in EAIB
    if (hdrNsblks < iblkNsblks) return false
    val ndblkAddrs = 2 * (minPtrs - 1) // Σ 2^(u/2), u < iblkNsblks
    val offSize = (maxBits + 7) / 8    // block-offset field width
    val pageNelmts = 1L << pageBits
    // 6 × 8-byte array statistics between the params and the address
    val iblk = buf.getLong(h + 12 + 48)
    if (iblk == -1L) return true // nothing allocated: all fill
    val ib = iblk.toInt
    if (new String(bytes, ib, 4, ascii) != "EAIB") return false

    def readDataBlock(addr: Long, startIdx: Long, nelmts: Long): Boolean = {
      if (addr == -1L) return true // unwritten block: all fill
      if (nelmts > pageNelmts) return false // paged needs an init
      // bitmap, which only super blocks carry (see readPagedDataBlock)
      val d = addr.toInt
      if (new String(bytes, d, 4, ascii) != "EADB") return false
      var q = d + 6 + 8 + offSize // sig+ver+client, header addr, offset
      var j = 0L
      while (j < nelmts) {
        val idx = startIdx + j
        if (idx < nChunks && !arrayChunkRecord(bytes, buf, q, idx,
          clientId, elemSize, nominal, chunkOffs, chunks)) return false
        q += elemSize; j += 1
      }
      true
    }

    /** Paged data block: the on-disk block is just the prefix
      * (sig+ver+client, header addr, block offset, own checksum);
      * fixed-size element pages follow it directly, each with its own
      * trailing checksum. Which pages are initialized is recorded in
      * the OWNING super block's page-init bitmap (MSB-first bit
      * order, H5VM_bit_get) — an uninitialized page means none of its
      * chunks were written: fill value, never garbage. */
    def readPagedDataBlock(addr: Long, startIdx: Long, nelmts: Long,
                           bitmapBase: Int, bitStart: Int): Boolean = {
      if (addr == -1L) return true // unwritten block: all fill
      val d = addr.toInt
      if (new String(bytes, d, 4, ascii) != "EADB") return false
      val npages = (nelmts / pageNelmts).toInt
      var pageAddr = d + 6 + 8 + offSize + 4 // prefix incl. checksum
      var pg = 0
      while (pg < npages) {
        val bit = bitStart + pg
        val initialized =
          ((bytes(bitmapBase + bit / 8) >> (7 - bit % 8)) & 1) == 1
        if (initialized) {
          var k = 0L
          while (k < pageNelmts) {
            val idx = startIdx + pg.toLong * pageNelmts + k
            if (idx < nChunks && !arrayChunkRecord(bytes, buf,
              pageAddr + (k * elemSize).toInt, idx, clientId, elemSize,
              nominal, chunkOffs, chunks)) return false
            k += 1
          }
        }
        pageAddr += (pageNelmts * elemSize).toInt + 4 // + page checksum
        pg += 1
      }
      true
    }

    // region 1: elements inline in the index block
    var p = ib + 6 + 8
    var i = 0L
    while (i < math.min(idxBlkElmts.toLong, nChunks)) {
      if (!arrayChunkRecord(bytes, buf, p + (i * elemSize).toInt, i,
        clientId, elemSize, nominal, chunkOffs, chunks)) return false
      i += 1
    }
    p += idxBlkElmts * elemSize
    // region 2: data blocks addressed from the index block
    var startIdx = idxBlkElmts.toLong
    var u = 0
    var dp = p
    while (u < iblkNsblks) {
      val ndblks = 1L << (u / 2)
      val dblkNelmts = (1L << ((u + 1) / 2)) * minElmts
      var b = 0L
      while (b < ndblks) {
        if (startIdx < nChunks &&
          !readDataBlock(buf.getLong(dp), startIdx, dblkNelmts))
          return false
        dp += 8; startIdx += dblkNelmts; b += 1
      }
      u += 1
    }
    // region 3: data blocks addressed from super blocks. Rows whose
    // data blocks exceed the page size store elements in pages; the
    // super block then carries a page-init bitmap (ndblks × npages
    // bits, MSB-first) between its block offset and the addresses.
    var sp = p + ndblkAddrs * 8
    while (u < hdrNsblks && startIdx < nChunks) {
      val ndblks = 1L << (u / 2)
      val dblkNelmts = (1L << ((u + 1) / 2)) * minElmts
      val sAddr = buf.getLong(sp)
      if (sAddr != -1L) {
        val sb = sAddr.toInt
        if (new String(bytes, sb, 4, ascii) != "EASB") return false
        val paged = dblkNelmts > pageNelmts
        val npages = if (paged) (dblkNelmts / pageNelmts).toInt else 0
        val bitmapBase = sb + 6 + 8 + offSize
        val bitmapBytes =
          if (paged) ((ndblks * npages).toInt + 7) / 8 else 0
        var q = bitmapBase + bitmapBytes
        var si = startIdx
        var b = 0L
        while (b < ndblks) {
          val ok =
            if (si >= nChunks) true
            else if (paged) readPagedDataBlock(buf.getLong(q), si,
              dblkNelmts, bitmapBase, (b * npages).toInt)
            else readDataBlock(buf.getLong(q), si, dblkNelmts)
          if (!ok) return false
          q += 8; si += dblkNelmts; b += 1
        }
      }
      sp += 8; startIdx += ndblks * dblkNelmts; u += 1
    }
    true
  }

  /** Version-2 B-tree record enumeration at ANY depth: (record type,
    * record size, record offsets) — empty offsets for an empty tree
    * (undefined root). "BTHD" header → "BTIN" internal / "BTLF" leaf
    * nodes; child-pointer count-field widths replicate the library's
    * node-capacity recurrence (max/cumulative record counts per
    * depth). Records living in internal nodes are enumerated
    * alongside the leaves; callers consume the record SET, so order
    * is irrelevant. Throws on malformed trees — the huge/tiny link
    * walk propagates (whole-file quarantine) and the chunk-index
    * reader catches into its boolean fail-closed protocol. */
  private def btreeV2Records(bytes: Array[Byte], buf: ByteBuffer,
                             at: Long): (Int, Int, Seq[Int]) = {
    def sig4(p: Int): String = new String(bytes, p, 4,
      java.nio.charset.StandardCharsets.US_ASCII)
    val b = at.toInt
    require(sig4(b) == "BTHD", s"bad v2 B-tree signature '${sig4(b)}'")
    val btType = bytes(b + 5) & 0xFF
    val nodeSize = buf.getInt(b + 6)
    val recSize = buf.getShort(b + 10) & 0xFFFF
    val depth = buf.getShort(b + 12) & 0xFFFF
    val root = buf.getLong(b + 16)
    val rootNrec = buf.getShort(b + 24) & 0xFFFF
    require(depth <= 12, s"v2 B-tree depth $depth out of range")
    if (root == -1L) return (btType, recSize, Nil) // empty tree
    def encSize(v: Long): Int = {
      var n = 1; var x = v >>> 8
      while (x != 0) { n += 1; x >>>= 8 }
      n
    }
    val maxNrecLeaf = (nodeSize - 10) / recSize // 10 = sig+ver+type+cksum
    require(maxNrecLeaf > 0, "v2 B-tree node size below one record")
    val maxNrecSize = encSize(maxNrecLeaf.toLong)
    val cumMax = new Array[Long](depth + 1)
    val cumSize = new Array[Int](depth + 1)
    cumMax(0) = maxNrecLeaf.toLong
    var u = 1
    while (u <= depth) {
      val ptrSize = 8 + maxNrecSize + cumSize(u - 1)
      val maxNrec = (nodeSize - (10 + ptrSize)) / (recSize + ptrSize)
      require(maxNrec > 0, "v2 B-tree internal capacity underflow")
      cumMax(u) = (maxNrec + 1) * cumMax(u - 1) + maxNrec
      cumSize(u) = encSize(cumMax(u))
      u += 1
    }
    def intAt(p: Int, w: Int): Long = leIntAt(bytes, p, w)
    val out = Seq.newBuilder[Int]
    // hostile-input guards (found by FuzzSpec): the walk trusts
    // file-supplied child record counts, so without these a mutated
    // tree re-enters the same nodes with inflated nrec and the
    // traversal explodes combinatorially (measured 16 s on an 8 KB
    // file) — a valid B-tree visits every node once, keeps each
    // node's records inside its node size, and cannot hold more
    // records than the file has bytes (recSize >= 1)
    val seen = scala.collection.mutable.HashSet.empty[Long]
    var budget = math.max(65536, bytes.length)
    def walk(addr: Long, d: Int, nrec: Int): Unit = {
      require(addr != -1L, "undefined v2 B-tree node")
      require(seen.add(addr), "v2 B-tree node cycle")
      require(nrec >= 0 && nrec.toLong * recSize <= nodeSize.toLong,
        "v2 B-tree record count exceeds node capacity")
      budget -= nrec + 1
      require(budget >= 0, "v2 B-tree record budget exceeded")
      val a = addr.toInt
      require((bytes(a + 5) & 0xFF) == btType,
        s"v2 B-tree node type mismatch at $addr")
      if (d == 0) {
        require(sig4(a) == "BTLF", s"bad v2 B-tree leaf '${sig4(a)}'")
        (0 until nrec).foreach(i => out += a + 6 + i * recSize)
      } else {
        require(sig4(a) == "BTIN",
          s"bad v2 B-tree internal node '${sig4(a)}'")
        val ptrSize = 8 + maxNrecSize + cumSize(d - 1)
        val recBase = a + 6
        (0 until nrec).foreach(i => out += recBase + i * recSize)
        val ptrBase = recBase + nrec * recSize
        var c = 0
        while (c <= nrec) {
          val cp = ptrBase + c * ptrSize
          walk(buf.getLong(cp), d - 1, intAt(cp + 8, maxNrecSize).toInt)
          c += 1
        }
      }
    }
    walk(root, depth, rootNrec)
    (btType, recSize, out.result())
  }

  /** Version-2 B-tree chunk index (record types 10 = non-filtered and
    * 11 = filtered dataset chunks): the layout-v4 index for datasets
    * with more than one unlimited dimension. Records carry the chunk
    * address (+ stored size and filter mask for type 11) and the
    * chunk's SCALED offsets — chunk-grid coordinates, multiplied by
    * the chunk shape to place the chunk. Elided chunks simply have no
    * record. Tree walking is [[btreeV2Records]]; this wrapper keeps
    * the chunk path's boolean fail-closed protocol (false on unknown
    * record types, capacity underflow, bad signatures). */
  private def readBtreeV2Chunks(bytes: Array[Byte], buf: ByteBuffer,
                                ci: ChunkInfo, rank: Int, nominal: Int,
                                chunks: ArrayBuffer[(Array[Long], Int, Long, Int)])
  : Boolean = try {
    val (recType, recSize, recs) = btreeV2Records(bytes, buf, ci.addr)
    if (recType != 10 && recType != 11) return false
    val szW = if (recType == 11) recSize - 12 - 8 * rank else 0
    if (recType == 10 && recSize != 8 + 8 * rank) return false
    if (recType == 11 && (szW < 1 || szW > 8)) return false
    def intAt(p: Int, w: Int): Long = leIntAt(bytes, p, w)
    recs.foreach { p =>
      val addr = buf.getLong(p)
      var q = p + 8
      var size = nominal
      var mask = 0
      if (recType == 11) {
        size = intAt(q, szW).toInt; q += szW
        mask = buf.getInt(q); q += 4
      }
      val offs = Array.tabulate(rank)(k =>
        buf.getLong(q + k * 8) * ci.chunkDims(k))
      if (addr != -1L) chunks += ((offs, size, addr, mask))
    }
    true
  } catch { case scala.util.control.NonFatal(_) => false }

  /** Inflate a DEFLATE stream that must decode to exactly `len` bytes
    * (a chunk, a filtered heap block or huge object): one that ends
    * early is corruption and throws → the caller's fail-closed path,
    * never zero bytes in place of lost data. */
  private def inflateExact(compressed: Array[Byte], len: Long): Array[Byte] = {
    val raw = GeoTiffWriter.inflateFully(compressed, len.toInt)
    require(raw.length == len,
      s"DEFLATE stream decoded short: ${raw.length} of $len bytes")
    raw
  }

  /** Undo the HDF5 shuffle filter: de-interleave byte planes back to
    * whole elements (trailing non-multiple bytes pass through). */
  private def unshuffle(in: Array[Byte], es: Int): Array[Byte] = {
    if (es <= 1) return in
    val count = in.length / es
    val out = new Array[Byte](in.length)
    var j = 0
    while (j < es) {
      var i = 0
      while (i < count) { out(i * es + j) = in(j * count + i); i += 1 }
      j += 1
    }
    val rem = in.length % es
    if (rem > 0)
      System.arraycopy(in, in.length - rem, out, out.length - rem, rem)
    out
  }

  // ---------------------------------------------------------------
  // The S6 contract: what the cogify stage needs per file
  // ---------------------------------------------------------------

  /** Grid envelope for a configured variable — the exact inputs
    * `hdf5_to_cog` derives before reprojection (`handler.py:96-120`):
    * shape[0]/shape[1] as height/width, `_FillValue`, and x/y extents
    * (read from classic coordinate data; the reference's global
    * default `[-180, -90, 180, 90]` otherwise). */
  case class GridInfo(height: Long, width: Long, fillValue: Option[Double],
                      xmin: Double, ymin: Double, xmax: Double, ymax: Double)

  def gridInfo(bytes: Array[Byte], variableName: String,
               group: Option[String] = None,
               xVariable: Option[String] = None,
               yVariable: Option[String] = None,
               shapeOp: Seq[Long] => Seq[Long] = identity)
  : Either[String, GridInfo] =
    parse(bytes).flatMap { meta =>
      val path = group.map(g => s"$g/$variableName").getOrElse(variableName)
      meta.vars.find(_.path == path).toRight(s"no variable $path").flatMap { v =>
        // dims come from the shape AFTER the configured grid ops, like
        // the reference reading variable.shape after its transpose/
        // flipud branches (handler.py:106-112)
        scala.util.Try(shapeOp(v.shape)).toEither
          .left.map(e => s"grid ops reject $path: ${e.getMessage}")
          .flatMap { shape =>
            if (shape.size < 2)
              Left(s"variable $path is not 2-D " +
                s"(shape ${shape.mkString("x")})")
            else {
              val xe = xVariable.flatMap(x => coordExtent(bytes, meta, x))
              val ye = yVariable.flatMap(y => coordExtent(bytes, meta, y))
              val (xmin, xmax) = xe.getOrElse((-180.0, 180.0))
              val (ymin, ymax) = ye.getOrElse((-90.0, 90.0))
              Right(GridInfo(shape(0), shape(1), v.fillValue,
                xmin, ymin, xmax, ymax))
            }
          }
      }
    }

  /** One scanned row (the [[GeoTiff.scanMetadata]] shape): path +
    * either per-variable metadata or the fallback reason. */
  case class ScanResult(path: String, ok: Boolean, error: String,
                        format: String, varPath: String, shape: Seq[Long],
                        typeName: String, fillValue: Option[Double])

  /** Scan a `binaryFile` DataFrame (path, content) partition-parallel;
    * one output row per variable, or one error row per unparseable
    * file (the reference's quarantine path). */
  def scanMetadata(media: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.Dataset[ScanResult] = {
    val spark = media.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    media.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, bytes) =>
        parse(bytes) match {
          case Right(m) if m.vars.nonEmpty => m.vars.map(v =>
            ScanResult(path, ok = true, null, m.format, v.path, v.shape,
              v.typeName, v.fillValue))
          case Right(m) => Seq(ScanResult(path, ok = true, null, m.format,
            null, Nil, null, None))
          case Left(err) => Seq(ScanResult(path, ok = false, err, null,
            null, Nil, null, None))
        }
      })
  }
}
