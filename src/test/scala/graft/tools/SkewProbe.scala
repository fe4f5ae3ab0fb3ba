package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial-skew scale probe (r10): Sf1Gen's uniform copies cannot
  * expose partition-key skew by construction, so this builds a corpus
  * that concentrates every content-derived key the engine partitions
  * on:
  *
  *  - ONE boilerplate 120-char span planted twice in half the docs at
  *    arbitrary (id-dependent) offsets → ~1.5e5 identical span sites
  *    (the repeated-span family's hot key, and crossDocSpans' df-cap
  *    stressor);
  *  - ONE source holding 50% of docs (curate budget window /
  *    capPerGroup hot group);
  *  - ONE language holding 90% of docs (the CCNet per-language
  *    ranking stressor);
  *  - half the docs sharing ONE exact text (the exact-dedup hot hash)
  *    via the boilerplate-only degenerate copy — see `megadup` below;
  *  - (r11) ONE shared word sequence in half the docs → each of its
  *    winnow fingerprint hashes sits in ~7e4 docs (the
  *    fingerprintCatalog df stressor behind the r11 de-window);
  *  - (r11) ONE token in 90% of docs (an inverted-index posting list
  *    ≈ |corpus| — the bounded-heap pre-cap stressor);
  *  - (r11) the megadup clone set doubles as ONE near-dup cluster of
  *    ~2e4 members (the dupClusters groupBy+join stressor);
  *  - (r11) the 50% source also concentrates the synthetic URL host
  *    (domain curation's hot registrable domain).
  *
  * 30 copies of the sf0.1 documents table (~150k docs). Other tables
  * pass through from sf0.1 so the full query registry stays runnable.
  * Output: /tmp/graft_skew/<table>.parquet; run with
  * `sbt "Test/runMain graft.tools.SkewProbe [gen] [query...]"`.
  */
object SkewProbe {
  val Copies = 30
  val OutDir = "/tmp/graft_skew"

  // deterministic aperiodic 120-char boilerplate
  val Boiler: String = graft.TestText.letters(120, 77)
  // 16 deterministic words: every word 3-gram of this sequence is a
  // winnow fingerprint shared by ALL docs that carry it
  val BoilerWords: String =
    (0 until 16).map(i => graft.TestText.letters(6, 100 + i)).mkString(" ")

  private val ProbeQueries = Seq(
    "q_repeated_spans", "q_span_removal", "q_span_removal_inc",
    "q_crossdoc_spans", "q_ccnet_buckets", "q_cap_per_source",
    "q_curate_pipeline", "q_dedup_keep", "q_dedup_best",
    "q_clean_corpus", "q_dedup_exact_stats",
    // r11: the de-windowed shapes under their own hot keys
    "q_winnow_fp", "q_winnow_incremental", "q_inverted_index",
    "q_dup_clusters", "q_domain_stats", "q_url_dedup")

  def gen(spark: SparkSession, src: String): Unit = {
    import spark.implicits._
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$OutDir/$t.parquet")
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)]
    val out = (0 until Copies).map { k =>
      docs.map { case (id, text, lang, srcName, _) =>
        // per-copy token perturbation (the Sf1Gen trick): keeps
        // cross-copy near-dup pairs out of minhash range
        val base =
          if (k == 0) text
          else text.split(' ').zipWithIndex.map { case (w, i) =>
            if (i % 3 == 0) w + "x" + k else w
          }.mkString(" ")
        val hot = id % 2 == 0
        // megadup: 1/8 of docs are EXACTLY the boilerplate → one text
        // hash holding ~19k docs (exact-dedup hot key)
        val megadup = id % 8 == 3
        val t2 =
          if (megadup) Boiler // pure clones: ONE exact-hash + ONE cluster
          else {
            val withSpan = if (hot) {
              val off = ((id * 7 + k * 13) % math.max(1, base.length)).toInt
              base.take(off) + Boiler + base.drop(off) + Boiler
            } else base
            // hot winnow fingerprints: the shared word sequence rides
            // in every hot doc; hot inverted-index term: 'zzhot' in
            // 90% of docs
            val withWords =
              if (hot) withSpan + " " + BoilerWords else withSpan
            if ((id * 13 + k) % 10 != 0) withWords + " zzhot" else withWords
          }
        val lang2 = if ((id * 31 + k) % 10 != 0) "en" else lang
        val src2 = if (hot) "megasource" else srcName
        (id + k * 10000000L, t2, lang2, src2, t2.length.toLong)
      }
    }.reduce(_ unionAll _).toDF("doc_id", "text", "lang", "source", "n_chars")
    out.write.mode("overwrite").parquet(s"$OutDir/documents.parquet")
    val d = spark.read.parquet(s"$OutDir/documents.parquet")
    println(s"docs: ${d.count()} rows; boiler sites >= " +
      s"${d.filter(col("text").contains(Boiler)).count()} docs")
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder()
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    // an absolute-path arg overrides the data dir (baseline runs
    // against plain sf0.1 use the same noop-write harness)
    val dir = args.find(_.startsWith("/")).getOrElse(OutDir)
    val rest = args.toSeq.filterNot(a => a == "gen" || a.startsWith("/"))
    val names = if (rest.isEmpty) ProbeQueries else rest
    if (args.isEmpty || args.contains("gen")) gen(spark, src)
    for (name <- names) {
      val t0 = System.nanoTime()
      try {
        // noop write forces full evaluation (count() can prune whole
        // subtrees, e.g. span_removal's outer join)
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch {
        case e: Throwable =>
          println(s"$name: FAILED ${e.getClass.getSimpleName} ${e.getMessage.take(200)}")
      }
      try {
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      } catch { case _: Throwable => () }
      System.gc()
    }
    spark.stop()
  }
}
