package graft

import graft.operators.Cogify
import graft.sources.{NetCdf, NetCdfFixtures}
import java.nio.file.Files

/** S6 — NetCDF classic + HDF5 header parsers against spec-built
  * fixture bytes (the GeoTiffSpec pattern: no native libs, bytes from
  * the published on-disk formats, parsed back field by field). */
class NetCdfSpec extends SparkSuite {

  test("classic: dims, shapes, types, attributes, fill value") {
    val m = NetCdf.parse(NetCdfFixtures.classicGrid())
      .fold(e => fail(e), identity)
    assert(m.format == "netcdf-classic CDF-1")
    assert(m.dims == Seq("lat" -> 4L, "lon" -> 6L))
    assert(m.vars.map(_.path) == Seq("lat", "lon", "precip"))
    val precip = m.vars.find(_.path == "precip").get
    assert(precip.shape == Seq(4L, 6L))
    assert(precip.typeName == "float")
    assert(precip.fillValue.contains(-9999.0))
    assert(precip.attrs.exists(a =>
      a.name == "units" && a.str.contains("mm/hr")))
    assert(m.vars.find(_.path == "lat").get.typeName == "double")
  }

  test("classic: coordinate extents read from the data section") {
    val bytes = NetCdfFixtures.classicGrid()
    val m = NetCdf.parse(bytes).toOption.get
    assert(NetCdf.coordExtent(bytes, m, "lat").contains((-30.0, 30.0)))
    assert(NetCdf.coordExtent(bytes, m, "lon").contains((-120.0, 120.0)))
    assert(NetCdf.coordExtent(bytes, m, "precip").isEmpty) // 2-D
    assert(NetCdf.coordExtent(bytes, m, "nope").isEmpty)
  }

  test("gridInfo mirrors hdf5_to_cog's inputs (handler.py:96-120)") {
    val g = NetCdf.gridInfo(NetCdfFixtures.classicGrid(), "precip",
      xVariable = Some("lon"), yVariable = Some("lat"))
      .fold(e => fail(e), identity)
    assert(g.height == 4 && g.width == 6)
    assert(g.fillValue.contains(-9999.0))
    assert(g.xmin == -120.0 && g.xmax == 120.0)
    assert(g.ymin == -30.0 && g.ymax == 30.0)
    // no x/y variables configured -> the reference's global default
    val d = NetCdf.gridInfo(NetCdfFixtures.classicGrid(), "precip")
      .toOption.get
    assert((d.xmin, d.ymin, d.xmax, d.ymax) == (-180.0, -90.0, 180.0, 90.0))
    assert(NetCdf.gridInfo(NetCdfFixtures.classicGrid(), "missing").isLeft)
  }

  test("hdf5: superblock v0 symbol-table walk finds nested datasets") {
    val m = NetCdf.parse(NetCdfFixtures.hdf5())
      .fold(e => fail(e), identity)
    assert(m.format == "hdf5 superblock-v0")
    assert(m.vars.map(_.path).toSet ==
      Set("lat", "precip", "science/temp"))
    val precip = m.vars.find(_.path == "precip").get
    assert(precip.shape == Seq(10L, 20L))
    assert(precip.typeName == "float")
    assert(precip.fillValue.contains(-9999.0))
    val temp = m.vars.find(_.path == "science/temp").get
    assert(temp.shape == Seq(5L, 7L))
    assert(temp.typeName == "double")
    // no fill-value MESSAGE, but a `_FillValue` ATTRIBUTE — the
    // `variable._FillValue` the reference reads (handler.py:105)
    assert(temp.fillValue.contains(-7777.0))
    assert(temp.attrs.exists(a =>
      a.name == "units" && a.str.contains("K")))
    assert(temp.attrs.exists(a =>
      a.name == "_FillValue" && a.nums == Seq(-7777.0)))
  }

  test("hdf5 user block: addresses are base-relative, so a file with " +
    "a user block parses and reads identically to its bare twin") {
    // HDF5 base address = superblock offset; a 512-byte user block
    // shifts every internal address's file position by 512 while the
    // stored addresses stay base-relative. Parse AND data reads must
    // agree with the bare file (pre-fix: every address in a
    // user-block file resolved 512 bytes short).
    for (bare <- Seq(NetCdfFixtures.hdf5(), NetCdfFixtures.hdf5Chunked())) {
      val junk = Array.tabulate[Byte](512)(i => (i * 31 + 7).toByte)
      val withBlock = junk ++ bare
      val mBare = NetCdf.parse(bare).fold(e => fail(e), identity)
      val mBlock = NetCdf.parse(withBlock).fold(e => fail(e), identity)
      assert(mBlock.vars.map(v => (v.path, v.shape, v.typeName)) ===
        mBare.vars.map(v => (v.path, v.shape, v.typeName)))
      for (v <- mBare.vars) {
        val a = NetCdf.readGridRaw(bare, mBare, v.path)
        val b = NetCdf.readGridRaw(withBlock, mBlock, v.path)
        assert(a.map(_.toSeq) === b.map(_.toSeq), s"grid mismatch ${v.path}")
        assert(NetCdf.coordExtent(bare, mBare, v.path) ===
          NetCdf.coordExtent(withBlock, mBlock, v.path))
      }
    }
  }

  test("hdf5: contiguous-layout coordinate data reads exactly") {
    val bytes = NetCdfFixtures.hdf5()
    val m = NetCdf.parse(bytes).toOption.get
    assert(NetCdf.coordExtent(bytes, m, "lat").contains((-10.0, 10.0)))
    // chunked/layout-less datasets have no readable data offset
    assert(NetCdf.readGridRaw(bytes, m, "precip").isEmpty)
  }

  test("hdf5: grouped variable lookup (the reference's group config)") {
    val g = NetCdf.gridInfo(NetCdfFixtures.hdf5(), "temp",
      group = Some("science")).fold(e => fail(e), identity)
    assert(g.height == 5 && g.width == 7)
    // no x/y variables configured -> global default
    assert((g.xmin, g.ymin, g.xmax, g.ymax) == (-180.0, -90.0, 180.0, 90.0))
    // a configured contiguous y variable reads its true extent
    val g2 = NetCdf.gridInfo(NetCdfFixtures.hdf5(), "temp",
      group = Some("science"), yVariable = Some("lat")).toOption.get
    assert(g2.ymin == -10.0 && g2.ymax == 10.0)
    assert(g2.xmin == -180.0 && g2.xmax == 180.0) // x stays default
  }

  test("Cogify.netcdfGrid: config dispatch + affine eval (F15)") {
    import graft.operators.Cogify
    val cfg = Cogify.CollectionConfig(
      variableName = Some("precip"),
      xVariable = Some("lon"), yVariable = Some("lat"),
      affine = Some(Cogify.parseAffine("(xmin, xres, 0, ymax, 0, -yres)")))
    val (g, affine) = Cogify.netcdfGrid(NetCdfFixtures.classicGrid(), cfg)
      .fold(e => fail(e), identity)
    assert(g.height == 4 && g.width == 6)
    // xres = (120 - -120)/6 = 40, yres = (30 - -30)/4 = 15
    assert(affine.contains(Seq(-120.0, 40.0, 0.0, 30.0, 0.0, -15.0)))
    assert(Cogify.netcdfGrid(NetCdfFixtures.hdf5(),
      Cogify.CollectionConfig(variableName = Some("temp"),
        group = Some("science"))).isRight)
    assert(Cogify.netcdfGrid(NetCdfFixtures.classicGrid(),
      Cogify.CollectionConfig()).isLeft)
  }

  test("unrecognized bytes hit the fallback, not an exception") {
    assert(NetCdf.parse("plain text".getBytes).isLeft)
    assert(NetCdf.parse(Array[Byte]()).isLeft)
    assert(NetCdf.parse("CDF".getBytes ++ Array[Byte](9)).isLeft)
  }

  test("scanMetadata: partition-parallel scan over binaryFile rows") {
    val dir = Files.createTempDirectory("netcdf-scan")
    Files.write(dir.resolve("grid.nc"), NetCdfFixtures.classicGrid())
    Files.write(dir.resolve("nested.h5"), NetCdfFixtures.hdf5())
    Files.write(dir.resolve("junk.bin"), "not a netcdf".getBytes)
    val scanned = NetCdf.scanMetadata(
      spark.read.format("binaryFile").load(dir.toString)).collect()
    assert(scanned.count(_.ok) == 6) // 3 classic vars + 3 hdf5 datasets
    val bad = scanned.filter(!_.ok)
    assert(bad.length == 1 && bad.head.path.endsWith("junk.bin"))
    val precipRows = scanned.filter(r => r.ok && r.varPath == "precip")
    assert(precipRows.map(_.format).toSet ==
      Set("netcdf-classic CDF-1", "hdf5 superblock-v0"))
  }

  test("hdf5 chunked: shuffle+deflate grid equals the contiguous copy") {
    val bytes = NetCdfFixtures.hdf5Chunked()
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    val precip = m.vars.find(_.path == "precip").get
    assert(precip.begin.isEmpty && precip.chunks.isDefined)
    assert(precip.chunks.get.chunkDims == Seq(3L, 4L))
    assert(precip.chunks.get.filters == Seq(2, 1)) // shuffle, deflate
    assert(precip.fillValue.contains(-9999.0))
    val chunked = NetCdf.readGridRaw(bytes, m, "precip")
      .getOrElse(fail("chunked grid unreadable"))
    val contig = NetCdf.readGridRaw(bytes, m, "precip_contig")
      .getOrElse(fail("contiguous grid unreadable"))
    assert(chunked.toSeq == contig.toSeq)
    assert(chunked(0) == 0f && chunked(6) == 6f && chunked(34) == 46f)
  }

  test("hdf5 chunked: 1-D coordinate extents (gzip, gzip+fletcher32)") {
    val bytes = NetCdfFixtures.hdf5Chunked()
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    assert(NetCdf.coordExtent(bytes, m, "lon").contains((-150.0, 150.0)))
    assert(NetCdf.coordExtent(bytes, m, "lat").contains((-10.0, 10.0)))
    // gridInfo wires the chunked coords through to the cogify envelope
    val g = NetCdf.gridInfo(bytes, "precip",
      xVariable = Some("lon"), yVariable = Some("lat"))
      .fold(e => fail(e), identity)
    assert(g.height == 5 && g.width == 7)
    assert(g.xmin == -150.0 && g.xmax == 150.0)
    assert(g.ymin == -10.0 && g.ymax == 10.0)
    assert(g.fillValue.contains(-9999.0))
  }

  test("hdf5 chunked: cogify converts a chunked granule end to end") {
    val bytes = NetCdfFixtures.hdf5Chunked()
    val cfg = Cogify.CollectionConfig(variableName = Some("precip"),
      xVariable = Some("lon"), yVariable = Some("lat"))
    val cog = Cogify.classicNetcdfToCog(bytes, cfg)
      .fold(e => fail(e), identity)
    val m = graft.sources.GeoTiff.parse(cog).fold(e => fail(e), identity)
    assert(m.width == 7 && m.height == 5)
    val (_, decoded) = graft.sources.GeoTiff.readSamples(cog)
      .fold(e => fail(e), identity)
    // chunk-assembled values survive the COG write bit-exactly
    assert(decoded(0) == 0f && decoded(6) == 6f && decoded(34) == 46f)
  }

  test("hdf5 v2/layout-v4 granule: cogify converts end to end") {
    // the "latest format" storage through the SAME conversion path:
    // superblock v2, link-message group, fixed-array chunk index —
    // grid (incl. the elided-chunk fill region) lands in the COG
    val bytes = NetCdfFixtures.hdf5V2Chunked()
    val cfg = Cogify.CollectionConfig(variableName = Some("precip"),
      xVariable = Some("lon"), yVariable = Some("lat"))
    val cog = Cogify.classicNetcdfToCog(bytes, cfg)
      .fold(e => fail(e), identity)
    val m = graft.sources.GeoTiff.parse(cog).fold(e => fail(e), identity)
    assert(m.width == 7 && m.height == 5)
    assert(m.nodata.contains(-9999.0)) // fill carried as GDAL_NODATA
    val (_, decoded) = graft.sources.GeoTiff.readSamples(cog)
      .fold(e => fail(e), identity)
    assert(decoded(0) == 0f && decoded(24) == 33f) // (3,3) last written
    assert(decoded(34) == -9999f)                  // elided chunk cell
  }

  test("hdf5 chunked: a DEFLATE chunk that ends early quarantines, " +
    "never a zero-filled grid") {
    val bytes = NetCdfFixtures.hdf5Chunked()
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    // the first zlib stream that inflates to a whole precip chunk
    // (3x4 float32 = 48 bytes): swap in a complete stream of its
    // first 4 bytes, zero-padded to the stored size
    def inflated(at: Int): Option[(Array[Byte], Int)] = {
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(bytes, at, bytes.length - at)
        val out = new Array[Byte](64)
        val n = inf.inflate(out)
        if (inf.finished()) Some((out.take(n), inf.getTotalIn)) else None
      } catch { case _: java.util.zip.DataFormatException => None }
      finally inf.end()
    }
    val (at, (raw, stored)) = bytes.indices.iterator
      .filter(i => bytes(i) == 0x78) // zlib header
      .flatMap(i => inflated(i).map(i -> _))
      .find(_._2._1.length == 48)
      .getOrElse(fail("no precip chunk stream found"))
    val shortStream = graft.sources.RasterFixtures.deflate(raw.take(4))
    assert(shortStream.length <= stored)
    val mangled = bytes.clone()
    java.util.Arrays.fill(mangled, at, at + stored, 0.toByte)
    System.arraycopy(shortStream, 0, mangled, at, shortStream.length)
    assert(NetCdf.readGridRaw(bytes, m, "precip").isDefined)
    assert(NetCdf.readGridRaw(mangled, m, "precip").isEmpty)
  }

  test("hdf5 chunked: unknown filter id quarantines, never a wrong grid") {
    // corrupt the precip pipeline's deflate id (1 -> 250): the read
    // must fail closed (None), not return garbage
    val bytes = NetCdfFixtures.hdf5Chunked()
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    val mangled = bytes.clone()
    // find the filter-pipeline message bytes for [shuffle, deflate]:
    // v1 filter entries are (id, 0, 0, ncv) shorts — locate id=1
    // following id=2 in the precip object header region
    var hit = -1
    var i = 0
    while (hit < 0 && i < mangled.length - 24) {
      if (mangled(i) == 2 && mangled(i + 1) == 0 && mangled(i + 6) == 1 &&
          mangled(i + 16) == 1 && mangled(i + 17) == 0 &&
          mangled(i + 22) == 1) hit = i + 16
      i += 1
    }
    assert(hit > 0, "could not locate the deflate filter entry")
    mangled(hit) = 250.toByte
    val m2 = NetCdf.parse(mangled).fold(e => fail(e), identity)
    assert(m2.vars.find(_.path == "precip").get.chunks.get.filters
      == Seq(2, 250))
    assert(NetCdf.readGridRaw(mangled, m2, "precip").isEmpty)
  }

  test("hdf5 superblock v2: link-message groups parse to the v0 twin") {
    val v0 = NetCdf.parse(NetCdfFixtures.hdf5()).fold(e => fail(e), identity)
    val v2 = NetCdf.parse(NetCdfFixtures.hdf5V2())
      .fold(e => fail(e), identity)
    assert(v2.format == "hdf5 superblock-v2")
    // identical logical content: same vars (incl. the OCHK-continued
    // "science" group), shapes, types, fills — only the format differs
    def key(m: graft.sources.NetCdf.FileMeta) =
      m.vars.map(v => (v.path, v.shape, v.typeName, v.fillValue,
        v.attrs.map(a => (a.name, a.str, a.nums)).sortBy(_._1)))
        .sortBy(_._1)
    assert(key(v2) == key(v0)) // incl. v1-vs-v3 attribute messages
  }

  test("hdf5 superblock v2: contiguous data reads through v4 layout") {
    val bytes = NetCdfFixtures.hdf5V2()
    val m = NetCdf.parse(bytes).toOption.get
    // same values the v0 twin's contiguous read sees
    assert(NetCdf.coordExtent(bytes, m, "lat").contains((-10.0, 10.0)))
    assert(NetCdf.coordExtent(NetCdfFixtures.hdf5(),
      NetCdf.parse(NetCdfFixtures.hdf5()).toOption.get, "lat")
      .contains((-10.0, 10.0)))
  }

  test("hdf5 v2 + layout v4: fixed-array, single-chunk and implicit " +
    "indexes decode; elided chunks read as FILL") {
    val bytes = NetCdfFixtures.hdf5V2Chunked()
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    assert(m.format == "hdf5 superblock-v2")
    // fixed-array shuffle+deflate grid equals its contiguous twin,
    // INCLUDING the elided (never-written) chunk region = fill value
    val precip = NetCdf.readGridRaw(bytes, m, "precip")
      .getOrElse(fail("precip did not decode"))
    val contig = NetCdf.readGridRaw(bytes, m, "precip_contig")
      .getOrElse(fail("precip_contig did not decode"))
    assert(precip.toSeq == contig.toSeq)
    assert(precip(4 * 7 + 6) == -9999f) // elided chunk -> fill, not 0
    assert(precip(4 * 7 + 3) == 43f)    // last written cell
    // single-chunk (deflate-filtered) and implicit indexes
    assert(NetCdf.coordExtent(bytes, m, "lon").contains((-150.0, 150.0)))
    assert(NetCdf.coordExtent(bytes, m, "lat").contains((-10.0, 10.0)))
  }

  test("hdf5 v4 chunked: PAGED fixed-array data block decodes " +
    "identically to the unpaged layout") {
    val unpaged = NetCdfFixtures.hdf5V2Chunked()
    val paged = NetCdfFixtures.hdf5V2Chunked(pagedIndex = true)
    val mu = NetCdf.parse(unpaged).fold(e => fail(e), identity)
    val mp = NetCdf.parse(paged).fold(e => fail(e), identity)
    val gu = NetCdf.readGridRaw(unpaged, mu, "precip")
      .getOrElse(fail("unpaged precip did not decode"))
    val gp = NetCdf.readGridRaw(paged, mp, "precip")
      .getOrElse(fail("paged precip did not decode"))
    assert(gp.toSeq == gu.toSeq)
    // an UNINITIALIZED page (bitmap bit clear) = none of its chunks
    // written -> those regions read as fill, never garbage
    val mangled = paged.clone()
    var fadb = -1
    var i = 0
    while (fadb < 0 && i < mangled.length - 4) {
      if (mangled(i) == 'F' && mangled(i + 1) == 'A' &&
          mangled(i + 2) == 'D' && mangled(i + 3) == 'B') fadb = i
      i += 1
    }
    assert(fadb > 0)
    // only page 0 initialized — MSB-first bit order (H5VM_bit_get:
    // bit offset 0 is the first byte's HIGH bit), so 0x80 not 0x01
    mangled(fadb + 14) = 0x80.toByte
    val mm = NetCdf.parse(mangled).fold(e => fail(e), identity)
    val gm = NetCdf.readGridRaw(mangled, mm, "precip")
      .getOrElse(fail("bitmap-mangled precip did not decode"))
    // page 1 covered chunks (3,0) and (3,4): rows 3-4 now all fill
    assert((0 until 3 * 7).map(gm(_)).toSeq ==
      (0 until 3 * 7).map(gu(_)).toSeq)
    assert((3 * 7 until 5 * 7).forall(gm(_) == -9999f))
  }

  test("hdf5 v4 chunked: unknown index types quarantine the read") {
    // patch precip's layout index type 3 (fixed array) -> 6 (not a
    // defined index type): metadata still parses, the data read
    // fails closed instead of misreading
    val bytes = NetCdfFixtures.hdf5V2Chunked()
    val sig = Array[Byte](4, 2, 0, 2, 4, 3, 0, 0, 0, 4, 0, 0, 0, 3)
    var hit = -1
    var i = 0
    while (hit < 0 && i < bytes.length - sig.length) {
      if ((0 until sig.length).forall(j => bytes(i + j) == sig(j)))
        hit = i + sig.length - 1 // the index-type byte
      i += 1
    }
    assert(hit > 0, "could not locate the v4 chunked layout message")
    val mangled = bytes.clone()
    mangled(hit) = 6
    val m = NetCdf.parse(mangled).fold(e => fail(e), identity)
    // index type 6 is recorded as unreadable: no chunks, no begin
    val v = m.vars.find(_.path == "precip").get
    assert(v.chunks.isEmpty && v.begin.isEmpty)
    assert(NetCdf.readGridRaw(mangled, m, "precip").isEmpty)
  }

  test("hdf5 v4 EA + v2-btree chunk indexes decode equal to the " +
    "contiguous twin") {
    val bytes = NetCdfFixtures.hdf5V2EaBt2()
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    assert(m.vars.find(_.path == "precip_ea").get.chunks
      .exists(_.indexType == NetCdf.ChunkIndex.ExtArray))
    assert(m.vars.find(_.path == "precip_bt2").get.chunks
      .exists(_.indexType == NetCdf.ChunkIndex.BtreeV2))
    val ct = NetCdf.readGridRaw(bytes, m, "precip_contig")
      .getOrElse(fail("contiguous twin did not decode"))
    for (v <- Seq("precip_ea", "precip_bt2")) {
      val g = NetCdf.readGridRaw(bytes, m, v)
        .getOrElse(fail(s"$v did not decode"))
      assert(g.sameElements(ct), v)
      // the elided chunk (row 4, cols 4-6) is fill, not zeros
      assert((32 until 35).forall(g(_) == -9999f), v)
    }
    // client-0 (unfiltered) extensible array spanning inline elements
    // and an index-block data block
    assert(NetCdf.coordExtent(bytes, m, "lat_ea").contains((-10.0, 10.0)))
  }

  test("hdf5 v4 EA/v2-btree: mangled indexes quarantine, never a " +
    "wrong grid") {
    val base = NetCdfFixtures.hdf5V2EaBt2()
    def sigPos(sig: String): Int = {
      val sb = sig.getBytes
      val i = (0 until base.length - sb.length).indexWhere(p =>
        sb.indices.forall(j => base(p + j) == sb(j)))
      assert(i > 0, s"fixture does not contain $sig"); i
    }
    def gridOf(bytes: Array[Byte], v: String): Option[Array[Float]] = {
      val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
      NetCdf.readGridRaw(bytes, m, v)
    }
    // (a) broken EAHD signature -> precip_ea quarantines
    val a = base.clone(); a(sigPos("EAHD")) = 'X'.toByte
    assert(gridOf(a, "precip_ea").isEmpty)
    // (b) page bits 0 makes every data block "paged" -> fail closed:
    // index-block-addressed data blocks have no page-init bitmap, so
    // paging there is unreadable by construction (super-block-row
    // paging IS parsed — see the hdf5V2EaPaged test);
    // lat's own index is untouched and still reads
    val b = base.clone(); b(sigPos("EAHD") + 11) = 0
    assert(gridOf(b, "precip_ea").isEmpty)
    assert(gridOf(b, "lat_ea").isDefined)
    // (c) super-block signature broken -> quarantine (inline and
    // index-block regions alone never yield a partial grid)
    val c = base.clone(); c(sigPos("EASB")) = 'X'.toByte
    assert(gridOf(c, "precip_ea").isEmpty)
    // (d) unknown v2-btree record type -> quarantine
    val d = base.clone(); d(sigPos("BTHD") + 5) = 9.toByte
    assert(gridOf(d, "precip_bt2").isEmpty)
  }

  test("auto mask-and-scale parity: CF packed data unpacks via " +
    "scale_factor/add_offset, fill cells keep the raw fill") {
    import graft.sources.NetCdfFixtures.CVar
    // int16 packed variable, the CF convention netCDF4-python unpacks
    // by default (the reference's src[var][:] read, handler.py:101)
    val bytes = NetCdfFixtures.classic(
      dims = Seq("y" -> 2, "x" -> 3),
      vars = Seq(
        CVar("packed", Seq("y", "x"), 3,
          Seq(0.0, 2.0, -32768.0, 4.0, -6.0, 100.0),
          attrs = Seq("_FillValue" -> Right(Seq(-32768.0)),
            "scale_factor" -> Right(Seq(0.5)),
            "add_offset" -> Right(Seq(10.0)))),
        CVar("plain", Seq("y", "x"), 3,
          Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))))
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    val raw = NetCdf.readGridRaw(bytes, m, "packed")
      .getOrElse(fail("raw read failed"))
    assert(raw.toSeq == Seq(0f, 2f, -32768f, 4f, -6f, 100f))
    val scaled = NetCdf.readGridScaled(bytes, m, "packed")
      .getOrElse(fail("scaled read failed"))
    // raw*0.5 + 10, EXCEPT the fill cell which stays at the raw fill
    assert(scaled.toSeq == Seq(10f, 11f, -32768f, 12f, 7f, 60f))
    // no scale attributes -> scaled == raw
    val plain = NetCdf.readGridScaled(bytes, m, "plain")
      .getOrElse(fail("plain read failed"))
    assert(plain.toSeq == Seq(1f, 2f, 3f, 4f, 5f, 6f))
    // and the cogify conversion carries the UNPACKED values + raw
    // fill as nodata (the reference writes variable.astype(float32)
    // of the masked+scaled array, nodata = the raw _FillValue)
    val cfg = graft.operators.Cogify.CollectionConfig(
      variableName = Some("packed"))
    val cog = graft.operators.Cogify.classicNetcdfToCog(bytes, cfg)
      .fold(e => fail(e), identity)
    val (cm, data) = graft.sources.GeoTiff.readSamples(cog)
      .fold(e => fail(e), identity)
    assert(cm.nodata.contains(-32768.0))
    assert(data.toSeq == Seq(10f, 11f, -32768f, 12f, 7f, 60f))
  }

  test("auto mask-and-scale parity: missing_value and " +
    "valid_range/valid_min/valid_max mask in the raw domain") {
    import graft.sources.NetCdfFixtures.CVar
    // netCDF4's set_auto_mask also masks missing_value matches (every
    // listed value) and cells outside valid_range / valid_min /
    // valid_max — all compared against the PACKED values (CF §2.5.1);
    // masked cells keep the raw value, like the fill path above
    val bytes = NetCdfFixtures.classic(
      dims = Seq("y" -> 2, "x" -> 3),
      vars = Seq(
        CVar("miss", Seq("y", "x"), 3,
          Seq(0.0, -99.0, 2.0, -88.0, 4.0, 6.0),
          attrs = Seq("missing_value" -> Right(Seq(-99.0, -88.0)),
            "scale_factor" -> Right(Seq(0.5)))),
        CVar("rng", Seq("y", "x"), 3,
          Seq(0.0, 50.0, 150.0, -10.0, 100.0, 7.0),
          attrs = Seq("valid_range" -> Right(Seq(0.0, 100.0)),
            // valid_range wins: these would otherwise re-admit 150
            "valid_min" -> Right(Seq(-100.0)),
            "valid_max" -> Right(Seq(200.0)),
            "add_offset" -> Right(Seq(1000.0)))),
        CVar("minmax", Seq("y", "x"), 3,
          Seq(0.0, 5.0, -1.0, 11.0, 10.0, 3.0),
          attrs = Seq("valid_min" -> Right(Seq(0.0)),
            "valid_max" -> Right(Seq(10.0)),
            "scale_factor" -> Right(Seq(2.0)),
            "add_offset" -> Right(Seq(1.0))))))
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    def scaled(v: String): Seq[Float] =
      NetCdf.readGridScaled(bytes, m, v).getOrElse(fail(s"$v read")).toSeq
    // both missing values stay raw; the rest unpack
    assert(scaled("miss") == Seq(0f, -99f, 1f, -88f, 2f, 3f))
    // out-of-range 150 and -10 stay raw (valid_range beats min/max)
    assert(scaled("rng") == Seq(1000f, 1050f, 150f, -10f, 1100f, 1007f))
    // valid_min/valid_max individually: -1 and 11 stay raw
    assert(scaled("minmax") == Seq(1f, 11f, -1f, 11f, 21f, 7f))
  }

  test("hdf5 v4 v2-btree: DEPTH-2 tree walks both internal levels " +
    "(cumulative-count pointer widths)") {
    val bytes = NetCdfFixtures.hdf5V2Bt2Deep()
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    val ct = NetCdf.readGridRaw(bytes, m, "precip_contig")
      .getOrElse(fail("contiguous twin did not decode"))
    val g = NetCdf.readGridRaw(bytes, m, "precip_bt2")
      .getOrElse(fail("depth-2 precip_bt2 did not decode"))
    assert(g.sameElements(ct))
    // interior elided chunks (5, 10) and tail ones (17, 19) are fill
    for ((r, c) <- Seq((1, 2), (1, 3), (2, 4), (2, 5), (4, 2), (4, 3),
      (4, 6)))
      assert(g(r * 7 + c) == -9999f, s"($r,$c)")
    assert(g(4 * 7 + 5) == 45f) // last written cell
    // a broken depth-1 internal signature quarantines the read
    def sigPositions(sig: String): Seq[Int] = {
      val sb = sig.getBytes
      (0 until bytes.length - sb.length).filter(p =>
        sb.indices.forall(j => bytes(p + j) == sb(j)))
    }
    val btins = sigPositions("BTIN")
    assert(btins.size == 3) // root + two depth-1 nodes
    val mangled = bytes.clone(); mangled(btins(1)) = 'X'.toByte
    val mm = NetCdf.parse(mangled).fold(e => fail(e), identity)
    assert(NetCdf.readGridRaw(mangled, mm, "precip_bt2").isEmpty)
  }

  test("hdf5 v4 EA: PAGED super-block data blocks decode; the " +
    "page-init bitmap is MSB-first") {
    val bytes = NetCdfFixtures.hdf5V2EaPaged()
    val m = NetCdf.parse(bytes).fold(e => fail(e), identity)
    val ct = NetCdf.readGridRaw(bytes, m, "precip_contig")
      .getOrElse(fail("contiguous twin did not decode"))
    val g = NetCdf.readGridRaw(bytes, m, "precip_ea")
      .getOrElse(fail("paged precip_ea did not decode"))
    assert(g.sameElements(ct))
    assert(g(4 * 7 + 6) == -9999f) // elided chunk INSIDE an init page
    assert(g(4 * 7 + 5) == 45f)    // last written cell (page 0 data)

    // find the paged super block's bitmap: the second EASB
    def sigPositions(sig: String): Seq[Int] = {
      val sb = sig.getBytes
      (0 until bytes.length - sb.length).filter(p =>
        sb.indices.forall(j => bytes(p + j) == sb(j)))
    }
    val easbs = sigPositions("EASB")
    assert(easbs.size == 2)
    val bitmapAt = easbs(1) + 15
    assert(bytes(bitmapAt) == 0x80.toByte)
    // clearing the bit -> the whole page reads as FILL, never garbage
    val cleared = bytes.clone(); cleared(bitmapAt) = 0x00
    val mc = NetCdf.parse(cleared).fold(e => fail(e), identity)
    val gc = NetCdf.readGridRaw(cleared, mc, "precip_ea")
      .getOrElse(fail("cleared-bitmap precip_ea did not decode"))
    assert((0 until 4 * 7).forall(i => gc(i) == ct(i)))
    assert((4 * 7 until 5 * 7).forall(gc(_) == -9999f))
    // 0x01 is bit 7 in MSB-first order (NOT page 0): an LSB-first
    // reader would see page 0 initialized and return data — pin the
    // order by requiring fill here too
    val lsb = bytes.clone(); lsb(bitmapAt) = 0x01
    val ml = NetCdf.parse(lsb).fold(e => fail(e), identity)
    val gl = NetCdf.readGridRaw(lsb, ml, "precip_ea")
      .getOrElse(fail("lsb-bitmap precip_ea did not decode"))
    assert((4 * 7 until 5 * 7).forall(gl(_) == -9999f))
  }

  test("hdf5 v2 dense links: fractal-heap groups list all members") {
    for (indirect <- Seq(false, true)) {
      val bytes = NetCdfFixtures.hdf5V2Dense(indirect)
      val m = NetCdf.parse(bytes)
        .fold(e => fail(s"indirect=$indirect: $e"), identity)
      // all 10 links recovered (past the compact limit of 8), through
      // a direct-root heap and a one-level indirect-root heap alike
      assert(m.vars.map(_.path).sorted ==
        (0 until 10).map(i => f"v$i%02d"), s"indirect=$indirect")
      // contiguous data reads through the dense-linked headers
      assert(NetCdf.coordExtent(bytes, m, "v03").contains((3.0, 4.0)))
      assert(NetCdf.coordExtent(bytes, m, "v09").contains((9.0, 10.0)))
    }
  }

  test("hdf5 v2 dense links: deflate-filtered heaps list the same " +
    "links as their unfiltered twins") {
    for (indirect <- Seq(false, true)) {
      val plain = NetCdfFixtures.hdf5V2Dense(indirect)
      val filt = NetCdfFixtures.hdf5V2Dense(indirect, filtered = true)
      val mp = NetCdf.parse(plain)
        .fold(e => fail(s"plain indirect=$indirect: $e"), identity)
      val mf = NetCdf.parse(filt)
        .fold(e => fail(s"filtered indirect=$indirect: $e"), identity)
      assert(mf.vars.map(_.path).sorted == mp.vars.map(_.path).sorted,
        s"indirect=$indirect")
      // data reads bit-identically through the filtered listing
      assert(NetCdf.coordExtent(filt, mf, "v03").contains((3.0, 4.0)))
      assert(NetCdf.coordExtent(filt, mf, "v09").contains((9.0, 10.0)))
      // a non-deflate heap pipeline fails closed: flip the filter id
      // (deflate=1 -> szip=4) inside the header's filter info
      val bad = filt.clone()
      var frhp = -1; var i = 0
      while (frhp < 0 && i < bad.length - 4) {
        if (bad(i) == 'F' && bad(i + 1) == 'R' && bad(i + 2) == 'H' &&
            bad(i + 3) == 'P') frhp = i
        i += 1
      }
      val infoAt = frhp + 142 + (if (indirect) 0 else 12)
      java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putShort(infoAt + 2, 4.toShort)
      assert(NetCdf.parse(bad).isLeft, s"szip indirect=$indirect")
    }
  }

  test("hdf5 v2 dense links: NESTED indirect blocks (root row past " +
    "maxDirectRows -> child indirect) list all members, plain + " +
    "deflate-filtered") {
    for (filtered <- Seq(false, true)) {
      val bytes = NetCdfFixtures.hdf5V2DenseNested(filtered)
      val m = NetCdf.parse(bytes)
        .fold(e => fail(s"filtered=$filtered: $e"), identity)
      assert(m.vars.map(_.path).sorted ==
        (0 until 10).map(i => f"v$i%02d"), s"filtered=$filtered")
      // data reads through links recovered from the nested child
      assert(NetCdf.coordExtent(bytes, m, "v07").contains((7.0, 8.0)))
      assert(NetCdf.coordExtent(bytes, m, "v09").contains((9.0, 10.0)))
      // a corrupted CHILD indirect signature fails the whole listing
      // closed (the group never silently loses its tail links)
      val bad = bytes.clone()
      var hits = 0; var i = 0; var second = -1
      while (i < bad.length - 4) {
        if (bad(i) == 'F' && bad(i + 1) == 'H' && bad(i + 2) == 'I' &&
            bad(i + 3) == 'B') { hits += 1; if (hits == 2) second = i }
        i += 1
      }
      // scan order: root FHIB (320) first, child (448) second —
      // the second hit IS the child
      assert(hits == 2, s"filtered=$filtered: $hits FHIB blocks")
      bad(second) = 'X'
      assert(NetCdf.parse(bad).isLeft, s"filtered=$filtered child")
    }
  }

  test("hdf5 v2 dense links: short or bogus-filter heaps quarantine") {
    val bytes = NetCdfFixtures.hdf5V2Dense()
    // (a) nManaged larger than the heap holds -> short-scan failure
    val m1 = bytes.clone()
    var frhp = -1
    var i = 0
    while (frhp < 0 && i < m1.length - 4) {
      if (m1(i) == 'F' && m1(i + 1) == 'R' && m1(i + 2) == 'H' &&
          m1(i + 3) == 'P') frhp = i
      i += 1
    }
    assert(frhp > 0)
    java.nio.ByteBuffer.wrap(m1).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(frhp + 70, 50L)
    assert(NetCdf.parse(m1).isLeft)
    // (b) a heap CLAIMING filters whose filter info is garbage (an
    // empty pipeline here) -> quarantine, never a misread block
    val m2 = bytes.clone()
    java.nio.ByteBuffer.wrap(m2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(frhp + 7, 8)
    assert(NetCdf.parse(m2).isLeft)
  }

  test("hdf5 v2 dense links: huge/tiny heap objects list via the " +
    "name-index B-tree, both huge ID modes") {
    val direct = NetCdf.parse(NetCdfFixtures.hdf5V2DenseHugeTiny())
      .toOption.get
    assert(direct.vars.map(_.path).sorted ===
      (Seq("t") ++ (0 until 10).map(i => f"v$i%02d") ++ Seq("w" * 64)))
    val indirect = NetCdf.parse(
      NetCdfFixtures.hdf5V2DenseHugeTiny(indirectHuge = true)).toOption.get
    assert(indirect.vars.map(_.path).sorted ===
      ((0 until 10).map(i => f"v$i%02d") ++ Seq("w" * 64)))
  }

  test("hdf5 v2 dense links: EXTENDED tiny heap IDs (len > 18, 12-bit " +
    "length across bytes 0-1) and a type-3 direct-huge tracking B-tree") {
    // extended tiny: 19-byte heap IDs; the 17-byte message's
    // length-1 = 16 needs byte 1 (low nibble of byte 0 is zero)
    val ext = NetCdf.parse(
      NetCdfFixtures.hdf5V2DenseHugeTiny(extendedTiny = true))
      .toOption.get
    assert(ext.vars.map(_.path).sorted ===
      ((0 until 10).map(i => f"v$i%02d") ++
        Seq("tttttt", "w" * 64)).sorted)
    // the tiny-linked dataset reads exactly through the extended ID
    val extBytes = NetCdfFixtures.hdf5V2DenseHugeTiny(extendedTiny = true)
    assert(NetCdf.readGridRaw(extBytes, ext, "tttttt")
      .exists(_.sameElements(Array(11.0f, 11.5f, 12.0f))))
    // direct huge IDs WITH a type-3 tracking B-tree present: the walk
    // must resolve from the ID (direct), not flip to indirect and
    // choke on the unexpected record type
    val dir3 = NetCdf.parse(
      NetCdfFixtures.hdf5V2DenseHugeTiny(hugeBtreeDirect = true))
      .toOption.get
    assert(dir3.vars.map(_.path).sorted ===
      (Seq("t") ++ (0 until 10).map(i => f"v$i%02d") ++ Seq("w" * 64)))
  }

  test("hdf5 v2 dense links: DEPTH-1 name-index B-tree — records in " +
    "internal nodes (the huge and tiny IDs) are enumerated too") {
    val deep = NetCdf.parse(
      NetCdfFixtures.hdf5V2DenseHugeTiny(deepNameIndex = true))
      .toOption.get
    assert(deep.vars.map(_.path).sorted ===
      (Seq("t") ++ (0 until 10).map(i => f"v$i%02d") ++ Seq("w" * 64)))
    // data reachable through the internal-node links reads exactly
    val bytes = NetCdfFixtures.hdf5V2DenseHugeTiny(deepNameIndex = true)
    assert(NetCdf.readGridRaw(bytes, deep, "w" * 64)
      .exists(_.sameElements(Array(10.0f, 10.5f, 11.0f))))
    assert(NetCdf.readGridRaw(bytes, deep, "t")
      .exists(_.sameElements(Array(11.0f, 11.5f, 12.0f))))
    // a mangled leaf UNDER the internal node still fails closed
    val m = NetCdfFixtures.hdf5V2DenseHugeTiny(deepNameIndex = true)
    def at(bytes: Array[Byte], sig: String): Int = {
      val s = sig.getBytes
      (0 until bytes.length - 4).find(i =>
        bytes(i) == s(0) && bytes(i + 1) == s(1) &&
          bytes(i + 2) == s(2) && bytes(i + 3) == s(3)).getOrElse(-1)
    }
    val leaf = at(m, "BTLF")
    assert(leaf > 0)
    m(leaf) = 'X'
    assert(NetCdf.parse(m).isLeft)
  }

  test("hdf5 v2 dense links: corrupt huge/tiny structures quarantine") {
    def at(bytes: Array[Byte], sig: String): Int = {
      val s = sig.getBytes
      (0 until bytes.length - 4).find(i =>
        bytes(i) == s(0) && bytes(i + 1) == s(1) &&
          bytes(i + 2) == s(2) && bytes(i + 3) == s(3)).getOrElse(-1)
    }
    // (a) name-index B-tree signature mangled -> fail closed
    val m1 = NetCdfFixtures.hdf5V2DenseHugeTiny()
    val bt1 = at(m1, "BTHD")
    assert(bt1 > 0)
    m1(bt1) = 'X'
    assert(NetCdf.parse(m1).isLeft)
    // (b) depth field corrupted to 1 on a depth-0 tree -> the walk
    // expects a BTIN root, finds the BTLF leaf -> fail closed
    val m2 = NetCdfFixtures.hdf5V2DenseHugeTiny()
    java.nio.ByteBuffer.wrap(m2).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(at(m2, "BTHD") + 12, 1)
    assert(NetCdf.parse(m2).isLeft)
    // (c) huge object id missing from the huge B-tree -> fail closed
    val m3 = NetCdfFixtures.hdf5V2DenseHugeTiny(indirectHuge = true)
    val leafRec = at(m3, "BTLF") // name-index leaf comes first
    assert(leafRec > 0)
    // zero the huge heap ID's object id (record 11: hash 4 + id byte0)
    val idAt = leafRec + 6 + 10 * 12 + 4 + 1
    (0 until 7).foreach(i => m3(idAt + i) = 0x7F.toByte)
    assert(NetCdf.parse(m3).isLeft)
    // (d) tiny/huge statistics present but NO name-index address
    val m4 = NetCdfFixtures.hdf5V2DenseHugeTiny()
    // link-info message: heap addr then name-btree addr; stomp the
    // btree address to undefined
    val ohdr = at(m4, "OHDR")
    val b4 = java.nio.ByteBuffer.wrap(m4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // locate the 8-byte little-endian value 1088 (nameBt) after OHDR
    val pos = (ohdr until ohdr + 64)
      .find(p => b4.getLong(p) == 1088L).get
    b4.putLong(pos, -1L)
    assert(NetCdf.parse(m4).isLeft)
  }

  test("hdf5 huge/tiny fixtures: truncations and bit flips return " +
    "Either, never throw") {
    val variants = Seq(
      NetCdfFixtures.hdf5V2DenseHugeTiny(),
      NetCdfFixtures.hdf5V2DenseHugeTiny(indirectHuge = true),
      NetCdfFixtures.hdf5V2DenseHugeTiny(deepNameIndex = true),
      NetCdfFixtures.hdf5V2DenseHugeTiny(extendedTiny = true),
      NetCdfFixtures.hdf5V2DenseHugeTiny(hugeBtreeDirect = true))
    for (good <- variants) {
      (0 until good.length by 37).foreach(n => NetCdf.parse(good.take(n)))
      val rnd = new scala.util.Random(11)
      (1 to 200).foreach { _ =>
        val b = good.clone()
        b(rnd.nextInt(b.length)) = rnd.nextInt().toByte
        NetCdf.parse(b) // Left or Right, never an escaped exception
      }
    }
  }

  test("hdf5 v2: compact links take precedence over a defined heap; " +
    "a bogus heap with no compact links quarantines") {
    // hdf5V2's root carries compact link messages, so even a garbage
    // heap address in link-info must not be consulted
    val compact = NetCdfFixtures.hdf5V2()
    assert(NetCdf.parse(compact).isRight)
    // a dense file whose heap signature is corrupted: no compact
    // links to fall back on -> fail closed (Left), never an empty
    // group
    val mangled = NetCdfFixtures.hdf5V2Dense()
    var frhp = -1
    var i = 0
    while (frhp < 0 && i < mangled.length - 4) {
      if (mangled(i) == 'F' && mangled(i + 1) == 'R' &&
          mangled(i + 2) == 'H' && mangled(i + 3) == 'P') frhp = i
      i += 1
    }
    assert(frhp > 0)
    mangled(frhp) = 'X'
    assert(NetCdf.parse(mangled).isLeft)
  }

  test("q_s6_netcdf: same rows with ANSI mode on (1-d and junk shapes " +
    "have no second dimension)") {
    def rows(): Seq[org.apache.spark.sql.Row] =
      Queries.s6NetCdf(spark, "").collect().toSeq
    val default = rows()
    assert(default.exists(r => r.isNullAt(r.fieldIndex("dim1"))))
    withConf("spark.sql.ansi.enabled" -> "false") {
      assert(rows() === default)
    }
  }
}
