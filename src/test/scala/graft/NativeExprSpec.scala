package graft

import graft.functions.Geo
import graft.llm.Dedup
import graft.SpecTwins._
import org.apache.spark.sql.functions._

/** The native Catalyst expressions (shingle_hashes / minhash_sig /
  * simhash64 / cmr_geometry / geometry_bbox) must be bit-identical to
  * their declarative HOF twins ([[SpecTwins]]) — the HOF
  * forms are the executable spec of the semantics; the natives exist
  * purely for speed. */
class NativeExprSpec extends SparkSuite {
  import spark.implicits._

  /** The hash twins' Horner folds and affine permutations wrap on
    * 64-bit overflow, as the kernels (and every hash library) do; SQL
    * arithmetic wraps only with ANSI off, so their comparisons run
    * there. */
  private def wrapping[T](f: => T): T =
    withConf("spark.sql.ansi.enabled" -> "false")(f)

  private val texts = Seq(
    "The quick brown fox jumps over the lazy dog",
    "the  quick\tbrown\nfox", // whitespace runs + tabs/newlines
    "", " ", "\t \n", // blank-ish edge cases
    "one", "one two", "one two three four", // below shingle size k=5
    "ÄÖÜ Straße ÉCOLE naïve ΣΟΦΙΑ", // unicode lowercasing
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "dup dup dup dup dup dup dup dup") // repeated shingles -> distinct

  test("shingle_hashes / minhash_sig / simhash64 match HOF twins") {
    wrapping {
      val df = texts.toDF("text")
      for (k <- Seq(1, 3, 5)) {
        val rows = df.select(
          Dedup.shingleHashes(col("text"), k).as("nat"),
          shingleHashesHof(col("text"), k).as("hof")).collect()
        rows.zip(texts).foreach { case (r, t) =>
          assert(r.getSeq[Long](0) == r.getSeq[Long](1),
            s"shingle mismatch k=$k text='$t'")
        }
      }
      for (n <- Seq(16, 64)) {
        val rows = df.select(
          Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 5), n).as("nat"),
          minhashSignatureHof(shingleHashesHof(col("text"), 5), n)
            .as("hof")).collect()
        rows.zip(texts).foreach { case (r, t) =>
          assert(r.getSeq[Long](0) == r.getSeq[Long](1),
            s"signature mismatch n=$n text='$t'")
        }
      }
      val sims = df.select(Dedup.simhash(col("text")).as("nat"),
        simhashHof(col("text")).as("hof")).collect()
      sims.zip(texts).foreach { case (r, t) =>
        assert(r.getLong(0) == r.getLong(1), s"simhash mismatch text='$t'")
      }
    }
  }

  test("sig_agree matches the zip_with HOF twin, incl. length mismatch") {
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v)
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 9L, 3L)),   // partial agreement
      (Seq(1L, 2L), Seq(1L, 2L)),           // full
      (Seq(1L, 2L, 3L), Seq(1L, 2L)),       // length mismatch: pad → 0
      (Seq.empty[Long], Seq(1L))).toDF("a", "b")
    val bad = df.select(call_function("sig_agree", col("a"), col("b"))
      .as("nat"), hof(col("a"), col("b")).as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(bad == 0)
    // real signatures over the documents table
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(Dedup.minhashSignature(
        Dedup.shingleHashes(col("text"), 5), 64).as("sig"),
        Dedup.minhashSignature(
          Dedup.shingleHashes(concat(col("text"), lit(" tail")), 5), 64)
          .as("sig2"))
    val bad2 = docs.select(
      call_function("sig_agree", col("sig"), col("sig2")).as("nat"),
      hof(col("sig"), col("sig2")).as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(bad2 == 0)
  }

  test("shingle_hashes matches HOF on the real documents table") {
    wrapping {
      val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      val bad = docs.select(
        Dedup.shingleHashes(col("text"), 5).as("nat"),
        shingleHashesHof(col("text"), 5).as("hof"),
        Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 5), 64).as("nsig"),
        minhashSignatureHof(shingleHashesHof(col("text"), 5), 64).as("hsig"))
        .filter(col("nat") =!= col("hof") || col("nsig") =!= col("hsig"))
        .count()
      assert(bad == 0)
    }
  }

  test("text_fingerprint matches its HOF twin (edge cases + real docs)") {
    import graft.llm.Text
    wrapping {
      val edge = texts.toDF("text").select(
        Text.fingerprint(col("text")).as("nat"),
        fingerprintHof(col("text")).as("hof"))
        .filter(col("nat") =!= col("hof")).count()
      assert(edge == 0)
      val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      val bad = docs.select(
        Text.fingerprint(col("text")).as("nat"),
        fingerprintHof(col("text")).as("hof"))
        .filter(col("nat") =!= col("hof")).count()
      assert(bad == 0)
    }
  }

  test("md5_prefix matches the conv(substring(md5)) chain (1..15 nibbles)") {
    // edge strings + the real corpus, at several prefix widths incl.
    // the call sites' 2 and 8
    val edge = (texts ++ Seq("", " ", "Σ", "é中文"))
      .toDF("t")
    for (n <- Seq(1, 2, 8, 15)) {
      val bad = edge.select(
        GraftFunctions.call("md5_prefix", col("t"), lit(n)).as("nat"),
        conv(substring(md5(col("t")), 1, n), 16, 10).cast("long").as("hof"))
        .filter(col("nat") =!= col("hof")).count()
      assert(bad == 0, s"nHex=$n edge mismatch")
    }
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val bad = docs.select(
      GraftFunctions.call("md5_prefix", col("text"), lit(8)).as("nat"),
      conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("hof"))
      .filter(col("nat") =!= col("hof")).count()
    assert(bad == 0)
  }

  test("alpha_tokens / ws_token_count match their declarative twins") {
    val edge = (texts ++ Seq("", " ", "\t", "a\t", "\ta", "a\t\tb",
      "  x  ", "É Σ abc123def", "ONE two THREE", "中a文b"))
      .toDF("t")
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text").as("t"))
    for (df <- Seq(edge, docs)) {
      val badTok = df.select(
        graft.expr.AlphaTokens(col("t")).as("nat"),
        regexp_extract_all(lower(col("t")), lit("[a-z]+"), lit(0)).as("hof"))
        .filter(col("nat") =!= col("hof")).count()
      assert(badTok == 0)
      val badCnt = df.select(
        graft.expr.WsTokenCount(col("t")).as("nat"),
        when(length(trim(col("t"))) === 0, 0)
          .otherwise(size(split(trim(col("t")), "\\s+"))).as("hof"))
        .filter(col("nat") =!= col("hof")).count()
      assert(badCnt == 0)
    }
  }

  test("norm_words matches Text.words(Text.normalize) exactly") {
    import graft.llm.Text
    val edge = (texts ++ Seq("", " ", "\t", "a\t", "\ta", "a\t\tb",
      "  x  ", " mixed\tcontrols ", "É Σ ΣΙΓΜΑ", "中 文"))
      .toDF("t")
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text").as("t"))
    for (df <- Seq(edge, docs)) {
      val bad = df.select(
        graft.expr.NormWords(col("t")).as("nat"),
        Text.words(Text.normalize(col("t"))).as("hof"))
        .filter(col("nat") =!= col("hof")).count()
      assert(bad == 0)
    }
  }

  test("vec_dot / cosine_sim / lsh_bucket match HOF twins on embeddings") {
    val e = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select((col("vec_id") + 1).as("id_b"), col("embedding").as("vb"))
    val pairs = a.join(b, col("id_a") === col("id_b")).limit(200)
    val bad = pairs.select(
      graft.llm.Similarity.dot(col("va"), col("vb")).as("nd"),
      dotHof(col("va"), col("vb")).as("hd"),
      graft.llm.Similarity.cosine(col("va"), col("vb")).as("nc"),
      cosineHof(col("va"), col("vb")).as("hc"),
      graft.llm.Similarity.lshBucket(col("va"), 8, 64).as("nb"),
      lshBucketHof(col("va"),
        graft.llm.Similarity.hyperplanes(8, 64)).as("hb"))
      .filter(col("nd") =!= col("hd") || col("nc") =!= col("hc") ||
        col("nb") =!= col("hb"))
      .count()
    assert(bad == 0)
  }

  test("property: shingle/minhash/simhash native == HOF on random text") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("the", "Straße", "ΣΟΦΙΑ", "的", "a-b_c", "x.y", ""),
      Gen.listOfN(3, Gen.choose('!', '~')).map(_.mkString))
    val textGen = for {
      n <- Gen.choose(0, 30)
      ws <- Gen.listOfN(n, word)
      sep <- Gen.oneOf(" ", "  ", "\t", " \n ")
    } yield ws.mkString(sep)
    // deterministic sample (no scalatest-scalacheck bridge offline)
    val random = Gen.listOfN(300, textGen)
      .apply(Gen.Parameters.default, Seed(42L)).getOrElse(Nil)
    assert(random.size == 300)
    wrapping {
      val df = random.toDF("text")
      val bad = df.select(
        Dedup.shingleHashes(col("text"), 3).as("ns"),
        shingleHashesHof(col("text"), 3).as("hs"),
        Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 16)
          .as("nm"),
        minhashSignatureHof(shingleHashesHof(col("text"), 3), 16)
          .as("hm"),
        Dedup.simhash(col("text")).as("nh"),
        simhashHof(col("text")).as("hh"))
        .filter(col("ns") =!= col("hs") || col("nm") =!= col("hm") ||
          col("nh") =!= col("hh"))
        .count()
      assert(bad == 0)
    }
  }

  test("cosine_sim is null on zero-norm vectors (native == HOF twin)") {
    val df = Seq(
      (Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)),
      (Seq(1f, 2f, 3f), Seq(0f, 0f, 0f)),
      (Seq(0f, 0f, 0f), Seq(0f, 0f, 0f))).toDF("va", "vb")
    val rows = df.select(
      graft.llm.Similarity.cosine(col("va"), col("vb")).as("nc"),
      cosineHof(col("va"), col("vb")).as("hc"))
      .collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      // the twin's try_divide yields NULL on a 0.0 divisor; the native
      // path must match, never NaN/Infinity
      assert(r.isNullAt(0), s"native cosine not null, case $i")
      assert(r.isNullAt(1), s"HOF cosine not null, case $i")
    }
  }

  test("pq_encode matches the declarative PQ / IVF-PQ twins exactly") {
    import graft.llm.{IvfPq, Pq}
    val e = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    // plain PQ: codes must agree row-by-row
    val cb = Pq.train(e, m = 8, k = 16, iters = 3)
    val nat = Pq.encode(e, cb).orderBy("vec_id").collect()
    val dec = Pq.encodeDeclarative(e, cb).orderBy("vec_id").collect()
    assert(nat.length == dec.length && nat.length > 0)
    nat.zip(dec).foreach { case (n, d) =>
      assert(n.getLong(0) == d.getLong(0))
      assert(n.getSeq[Int](1) == d.getSeq[Int](1),
        s"PQ codes mismatch for vec ${n.getLong(0)}")
    }
    // IVF-PQ: cell AND residual codes must agree
    val (coarse, rcb) = IvfPq.train(e, nCells = 8, m = 8, k = 16, iters = 3)
    val natI = IvfPq.encode(e, coarse, rcb).orderBy("vec_id").collect()
    val decI = IvfPq.encodeDeclarative(e, coarse, rcb)
      .orderBy("vec_id").collect()
    assert(natI.length == decI.length && natI.length > 0)
    natI.zip(decI).foreach { case (n, d) =>
      assert(n.getInt(1) == d.getInt(1),
        s"cell mismatch for vec ${n.getLong(0)}")
      assert(n.getSeq[Int](2) == d.getSeq[Int](2),
        s"IVF-PQ codes mismatch for vec ${n.getLong(0)}")
    }
  }

  test("extract_dates native matches the declarative cascade") {
    val names = Seq(
      "s3://d/file_2020-01-15.tif", "s3://d/f_20200115_x.tif",
      "s3://d/f_202001.tif", "s3://d/f_2020.tif",
      "s3://d/f_20200101_to_20200301.tif", "s3://d/nodate.tif",
      "s3://d/f_99999999.tif") // unparseable hit -> NULL both ways
    for (range <- Seq(null, "month", "year")) {
      val rows = names.toDF("f").select(
        graft.functions.Dates.extractDates(col("f"), lit(range)).as("nat"),
        extractDatesDecl(col("f"), lit(range))
          .as("dec")).collect()
      rows.zip(names).foreach { case (r, n) =>
        assert(r.get(0) == r.get(1), s"mismatch for '$n' range=$range")
      }
    }
  }

  test("cmr_geometry / geometry_bbox match HOF twins") {
    val cases = Seq(
      // (polygons, boxes, reverse)
      (Seq(Seq("0 0 0 10 10 10 10 0 0 0")), null, false),
      (Seq(Seq("1 2 3 4 5 6 1 2")), null, true), // reversed lat-lon
      (null, Seq("-10 -20 30 40"), false), // box -> closed 5-pt ring
      (null, Seq("1.5 2.5 3.5 4.5"), true), // reverse ignored for boxes
      (null, Seq(" 7  8   9 10 "), false), // ragged whitespace
      (Seq(Seq("1 2 3")), null, false), // odd token dropped
      (null, Seq("1 x 3 4"), false), // junk token -> null coordinate
      (null, null, false), // neither -> NULL geometry
      // empty/whitespace-only token strings: Python ''.split() == []
      // -> `if not str_coords: return None` (stac.py:199-200)
      (Seq(Seq("")), null, false),
      (Seq(Seq("  \t ")), null, true),
      (null, Seq(""), false),
      (null, Seq("   "), false),
      (Seq(Seq.empty[String]), null, false)) // empty first polygon
      .toDF("polygons", "boxes", "reverse")
    val rows = cases.select(
      Geo.cmrGeometry(col("polygons"), col("boxes"), col("reverse")).as("nat"),
      SpecTwins.cmrGeometryHof(col("polygons"), col("boxes"), col("reverse")).as("hof"),
      Geo.geometryBbox(
        Geo.cmrGeometry(col("polygons"), col("boxes"), col("reverse")))
        .as("nbb"),
      SpecTwins.geometryBboxHof(
        SpecTwins.cmrGeometryHof(col("polygons"), col("boxes"), col("reverse")))
        .as("hbb")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.get(0) == r.get(1), s"geometry mismatch case $i")
      assert(r.get(2) == r.get(3), s"bbox mismatch case $i")
      if (i >= 8) assert(r.isNullAt(0),
        s"empty-token case $i must yield NULL geometry")
    }
  }

  test("multi_asset_parts matches the three-regex declarative twin") {
    import graft.operators.MultiAsset
    val urls: Seq[String] = Seq(
      "s3://store/prod42_f1.bin", // data file, '_' separator
      "s3://store/prod42_f2.bin", // sibling
      "s3://store/prod42.f1.bin", // '.' separator
      "s3://store/prod42-meta.xml", // '-' separator
      "s3://store/prod42f1.bin", // no separator at all
      "s3://store/other/path.tif", // no product match
      "prod7", // match IS the whole string -> empty asset name
      "s3://prod1/prod2_f1.bin", // TWO matches: greedy .* takes last
      "s3://store/PROD42_f1.bin", // case-sensitive: no match
      "aprod33_f1.binprod44", // match after the data file too
      "", // empty string
      null) // null url
    val cases = urls.zipWithIndex
      .map { case (u, i) => (i.toLong, u) }.toDF("i", "url")
    for ((re, df) <- Seq(
      ("prod\\d+", "f1\\.bin"), // the shipped literal-modulo-escapes case
      ("prod\\d+", "f\\d\\.bin"), // non-literal data_file (no prefilter)
      ("aa", "a"))) { // overlapping-candidate torture (greedy vs find)
      val rows = cases.select(col("i"),
        call_function("multi_asset_parts", col("url"), lit(re), lit(df))
          .as("nat"),
        MultiAsset.partsTwin(col("url"), re, df).as("hof"))
        .collect()
      rows.foreach { r =>
        assert(r.get(1) == r.get(2),
          s"multi_asset_parts mismatch url='${urls(r.getLong(0).toInt)}' " +
            s"regex='$re' dataFile='$df': ${r.get(1)} vs ${r.get(2)}")
      }
    }
    // and on the overlapping case specifically, through real strings:
    // "xaaa_f" — greedy .*aa[-_.]? backtracks to the LAST place aa can
    // match, which repeated find() would not see
    val torture = Seq((0L, "xaaa_f"), (1L, "aaaa"), (2L, "aa-aa.aa_t"))
      .toDF("i", "url")
    val tr = torture.select(
      call_function("multi_asset_parts", col("url"), lit("aa"), lit("t"))
        .as("nat"),
      MultiAsset.partsTwin(col("url"), "aa", "t").as("hof")).collect()
    tr.foreach(r => assert(r.get(0) == r.get(1),
      s"overlap-case mismatch: ${r.get(0)} vs ${r.get(1)}"))
  }

  test("MultiAsset.attach (single-agg shape) reproduces the join-back " +
    "shape's exact output, including duplicate-asset last-wins") {
    import graft.operators.MultiAsset
    val objs = Seq(
      "s3://store/prod1_f1.bin", // data file of prod1
      "s3://store/prod1_f2.bin",
      "s3://store/prod1-meta.xml",
      "s3://store/prod2_f1.bin", // prod2's data file
      "s3://store/prod3_f2.bin", // prod3 has NO data file -> dropped
      "s3://a/prod4_dup.xml", // duplicate asset name within prod4:
      "s3://b/prod4_dup.xml", //   max href ("s3://b/...") must win
      "s3://store/prod4_f1.bin",
      "s3://store/nomatch.bin") // no product id -> dropped
      .toDF("remote_fileurl")
    val got = MultiAsset.attach(objs, dataFile = "f1\\.bin",
      dataFileRegex = "prod\\d+")
    assert(got.columns.toSeq ===
      Seq("product_id", "remote_fileurl", "assets"))
    val rows = got.collect().map(r => (r.getString(0), r.getString(1),
      r.getMap[String, String](2).toSeq.sorted)).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq("prod1", "prod2", "prod4"))
    assert(rows(0)._2 === "s3://store/prod1_f1.bin")
    assert(rows(0)._3 === Seq("f1.bin" -> "s3://store/prod1_f1.bin",
      "f2.bin" -> "s3://store/prod1_f2.bin",
      "meta.xml" -> "s3://store/prod1-meta.xml"))
    assert(rows(1)._3 === Seq("f1.bin" -> "s3://store/prod2_f1.bin"))
    // duplicate asset name: lexicographically max href wins (the old
    // groupBy(product_id, asset_name).agg(max(href)) contract)
    assert(rows(2)._3 === Seq("dup.xml" -> "s3://b/prod4_dup.xml",
      "f1.bin" -> "s3://store/prod4_f1.bin"))
    // duplicate DATA rows are preserved 1:1 (not collapsed)
    val dup = MultiAsset.attach(
      Seq("s3://x/prod9_f1.bin", "s3://x/prod9_f1.bin")
        .toDF("remote_fileurl"), "f1\\.bin", "prod\\d+")
    assert(dup.count() === 2L)
  }

  private val jaccardSchema = org.apache.spark.sql.types.StructType
    .fromDDL("a ARRAY<BIGINT>, b ARRAY<BIGINT>")

  private def jaccardFormula(a: org.apache.spark.sql.Column,
                             b: org.apache.spark.sql.Column) =
    try_divide(size(array_intersect(a, b)).cast("double"),
      size(array_union(a, b)))

  /** Rows where set_jaccard differs from the formula (null-safe). */
  private def jaccardMismatches(df: org.apache.spark.sql.DataFrame) =
    df.select(col("a"), col("b"),
      call_function("set_jaccard", col("a"), col("b")).as("nat"),
      jaccardFormula(col("a"), col("b")).as("hof"))
      .filter(!(col("nat") <=> col("hof"))).collect().toSeq

  test("set_jaccard matches the array_intersect / array_union formula") {
    import org.apache.spark.sql.Row
    def arr(xs: Any*): Seq[Any] = xs
    val edge = Seq(
      Row(arr(1L, 1L, 2L), arr(2L, 3L, 3L)),      // duplicates count once
      Row(arr(1L, null), arr(null, 2L)),          // null is one member
      Row(arr(null, null), arr(1L)),
      Row(arr(null), arr(null)),
      Row(arr(), arr()),                          // empty ∪ empty: null
      Row(arr(), arr(5L)),
      Row(null, arr(1L)), Row(arr(1L), null), Row(null, null),
      Row(arr(1L, 2L, 3L), arr(4L, 5L)),          // disjoint
      Row(arr(3L, 1L, 2L), arr(2L, 3L, 1L)),      // identical sets
      Row(arr(Long.MinValue, -1L, 0L, Long.MaxValue),
        arr(Long.MaxValue, 0L, 7L)))
    val edgeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(edge, 2), jaccardSchema)
    assert(jaccardMismatches(edgeDf).isEmpty)
    val got = edgeDf.select(call_function("set_jaccard", col("a"), col("b")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(1.0 / 3), Some(1.0 / 3), Some(0.0),
      Some(1.0), None, Some(0.0), None, None, None, Some(0.0), Some(1.0),
      Some(2.0 / 5)))
    // random pairs over a small value range: overlaps, duplicates and
    // null elements are common
    val rnd = new scala.util.Random(17)
    def randArr(): Seq[Any] =
      if (rnd.nextInt(20) == 0) null
      else Seq.fill(rnd.nextInt(14))(
        if (rnd.nextInt(10) == 0) null else (rnd.nextInt(16) - 4).toLong)
    val random = Seq.fill(600)(Row(randArr(), randArr()))
    assert(jaccardMismatches(spark.createDataFrame(
      spark.sparkContext.parallelize(random, 4), jaccardSchema)).isEmpty)
    // real shingle sets: each document against an edited copy of itself
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(Dedup.shingleHashes(col("text"), 3).as("a"),
        Dedup.shingleHashes(concat(lit("tail of "), col("text")), 3).as("b"))
    assert(jaccardMismatches(docs).isEmpty)
  }

  test("stopword_count matches the split/filter/array_contains formula") {
    import graft.expr.TextCore.Stopwords
    val formula = (t: org.apache.spark.sql.Column) =>
      size(filter(split(trim(lower(t)), "\\s+"),
        w => array_contains(typedlit(Stopwords), w)))
    val edge = (texts ++ Seq(
      "the\ta\tof", "\tthe", "the\t", "\u000Bthe\u000Ba\u000B",
      "the\fand\ris\nit", "the\u00A0a and", "\u00A0the\u00A0",
      "  the  a  ", " ", "", "\t", "THE The tHe AnD", "the, and. a",
      "ΟΔΟΣ the ΣΑΣ σ ς Σ", "\u212A the \u212Aa", "\u0130t İS it",
      "thé a\u0301 an", "that with was by be at as on for",
      "a a a a", "thethe", "中 the 文 a"))
      .map(Option(_)) :+ None
    val random = {
      val rnd = new scala.util.Random(29)
      val pieces = Stopwords ++ Seq("THE", "And", "\u212A", "ΟΔΟΣ",
        "word", "x", "İ", "thé", "")
      val seps = Seq(" ", "  ", "\t", "\n", "\u000B", "\u00A0", "\r\n")
      Seq.fill(400)(Option(Seq.fill(rnd.nextInt(12))(
        pieces(rnd.nextInt(pieces.size)) + seps(rnd.nextInt(seps.size)))
        .mkString))
    }
    val docs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text").as("t"))
    for (icu <- Seq("true", "false")) withConf(
        "spark.sql.icu.caseMappings.enabled" -> icu) {
      for (df <- Seq((edge ++ random).toDF("t"), docs)) {
        val bad = df.select(col("t"),
          graft.expr.StopwordCount(col("t")).as("nat"),
          formula(col("t")).as("hof"))
          .filter(!(col("nat") <=> col("hof"))).collect()
        assert(bad.isEmpty, s"icu=$icu: ${bad.take(5).mkString("; ")}")
      }
    }
  }
}
