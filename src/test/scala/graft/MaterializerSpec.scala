package graft

import graft.llm.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import scala.jdk.CollectionConverters._

/** Pins the [[Materializer]] seam: the default strategy is a local
  * checkpoint that computes each reuse point once, and swapping in
  * [[Materializer.PersistedTable]] (the cluster deployment move)
  * changes WHERE reuse points live — real parquet tables on disk —
  * without changing a single output row. */
class MaterializerSpec extends SparkSuite {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Counts the rows each reuse point's input computes: an always-true
    * nondeterministic filter over the frame (same attributes, same
    * partitioning) adds one per row it passes, then the frame goes to
    * [[Materializer.LocalCheckpoint]] with the call's eagerness. */
  private final class Counting extends Materializer.Strategy {
    val calls = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, LongAccumulator, DataFrame)]()
    override def materialize(df: DataFrame, site: String,
                             eager: Boolean): DataFrame = {
      val acc = df.sparkSession.sparkContext.longAccumulator(site)
      val pass = udf(() => { acc.add(1); true }).asNondeterministic()
      val out = Materializer.LocalCheckpoint
        .materialize(df.filter(pass()), site, eager)
      calls.add((site, acc, out))
      out
    }
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  private val docs = Seq(
    (1L, "good clean prose text here", "A", true),
    (2L, "good clean prose text here", "A", true),
    (3L, "spam junk spam junk buy buy", "A", false),
    (4L, "good prose text words here again", "B", true),
    (5L, "good clean text words prose print", "B", true)
  ).toDF("doc_id", "text", "source", "is_en")

  test("PersistedTable strategy: identical results, reuse points " +
    "written as parquet tables named by their site") {
    val base = graft.llm.Curate
      .pipeline(docs, "doc_id", "text", "source", "is_en")
      .orderBy("doc_id").collect().toSeq
    val lmBase = graft.llm.LangModel
      .unigramNll(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val dir = tempDir("graft_materializer")
    Materializer.set(Materializer.PersistedTable(dir))
    try {
      val got = graft.llm.Curate
        .pipeline(docs, "doc_id", "text", "source", "is_en")
        .orderBy("doc_id").collect().toSeq
      assert(got === base)
      val lmGot = graft.llm.LangModel
        .unigramNll(docs, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
      assert(lmGot === lmBase)
      // the reuse points are now inspectable tables under their sites
      for (site <- Seq("curate_dedup_survivors", "classifier_tf",
          "langmodel_unigram_tf"))
        assert(new java.io.File(s"$dir/$site").isDirectory,
          s"missing persisted reuse table $site")
      // and they are REAL parquet: readable back with rows
      assert(spark.read.parquet(s"$dir/curate_dedup_survivors")
        .count() > 0)
    } finally {
      Materializer.reset()
      delete(dir)
    }
  }

  test("PersistedTable: two invocations of the SAME site keep " +
    "distinct tables — no silent overwrite across branches") {
    val dir = tempDir("graft_materializer3")
    // branch B sees a DIFFERENT corpus (docs 1-3 only), so its tf
    // table differs from branch A's — serving B's table to A would
    // change A's NLL VALUES, which the row-level compare catches
    val docsB = docs.filter(col("doc_id") <= 3)
    val expectA = graft.llm.LangModel.unigramNll(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val expectB = graft.llm.LangModel.unigramNll(docsB, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    Materializer.set(Materializer.PersistedTable(dir))
    try {
      // two branches of one composed job hit the same reuse site;
      // the read-back is lazy, so with a shared table name branch A
      // would silently serve branch B's rows after the overwrite
      val a = graft.llm.LangModel.unigramNll(docs, "doc_id", "text")
      val b = graft.llm.LangModel.unigramNll(docsB, "doc_id", "text")
      assert(a.orderBy("doc_id").collect().toSeq === expectA)
      assert(b.orderBy("doc_id").collect().toSeq === expectB)
      // both invocations' tables exist side by side
      val tables = new java.io.File(dir).list().toSeq
        .filter(_.startsWith("langmodel_unigram_tf"))
      assert(tables.size >= 2, s"expected per-invocation tables, got $tables")
    } finally {
      Materializer.reset()
      delete(dir)
    }
  }

  test("reset restores the lazy localCheckpoint default") {
    val dir = tempDir("graft_materializer2")
    Materializer.set(Materializer.PersistedTable(dir))
    Materializer.reset()
    try {
      // after reset, running a reuse-point operator writes NO tables
      graft.llm.LangModel.unigramNll(docs, "doc_id", "text").collect()
      assert(Option(new java.io.File(dir).list()).forall(_.isEmpty))
    } finally {
      delete(dir)
    }
  }

  test("two-consumer lazy reuse points compute their input once per " +
    "query") {
    for ((query, sites) <- Seq(
        "q_clean_corpus" -> Seq("clean_gate_survivors",
          "clean_exact_survivors"),
        "q_dup_clusters" -> Seq("q_dup_clusters_assigned"),
        "q_dedup_best" -> Seq("q_dedup_best_clustered"))) {
      val counting = new Counting
      Materializer.set(counting)
      try SparkEntry.queries(query)(spark, sf).collect()
      finally Materializer.reset()
      val calls = counting.calls.asScala.toSeq
      for (site <- sites)
        assert(calls.exists(_._1 == site), s"$query never reached $site")
      // a checkpoint fills every partition by the end of its first job,
      // so the count below reads blocks and computes nothing
      for ((site, acc, frame) <- calls) {
        val computed = acc.value.longValue
        val rows = frame.count()
        assert(computed == rows,
          s"$query: $site computed $computed rows for $rows")
        assert(acc.value.longValue == computed,
          s"$query: $site left partitions uncomputed")
        if (sites.contains(site)) assert(rows > 0, s"$query: $site empty")
      }
    }
  }

  test("PersistedTable: every reuse point as a table, same rows as the " +
    "default strategy") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "q_pagerank", "q_triangles", "q_minhash_near_dups",
      "q_ngram_jaccard", "q_dedup_incremental", "q_dsir_scores",
      "q_clean_corpus", "q_line_dedup", "q_pmi_bigrams", "q_semdedup",
      "q_u_set_ops", "q_dup_clusters", "q_dedup_best"
    ).map(q => q -> (() => SparkEntry.queries(q)(spark, sf))) ++ Seq(
      // the only path above DefaultDriverMaxEdges: no registry query
      // reaches it at this scale
      "connectedComponentsStars loop" -> (() =>
        Dedup.connectedComponentsStars(pairs, driverMaxEdges = 0)))
    def rows(run: () => DataFrame): Seq[String] =
      run().collect().map(_.toString).sorted.toSeq
    val base = runs.map { case (_, run) => rows(run) }
    val dir = tempDir("graft_materializer_parity")
    Materializer.set(Materializer.PersistedTable(dir))
    try {
      for (((name, run), want) <- runs.zip(base))
        assert(rows(run) === want, s"$name differs under PersistedTable")
      val sites = Seq("q_u_set_ops_users", "q_dup_clusters_assigned",
        "q_dedup_best_clustered", "pagerank_edges", "pagerank_nodes",
        "pagerank_outdeg", "pagerank_deg_edges", "pagerank_ranks_init",
        "pagerank_ranks", "triangles_undirected", "triangles_oriented",
        "clean_gate_survivors", "clean_exact_survivors",
        "ngram_jaccard_shingles", "near_dup_pairs",
        "catalog_dedup_batch_shingles", "catalog_dedup_candidates",
        "cc_stars_edges_init", "cc_stars_edges", "dsir_subset_bucket_counts",
        "line_dedup_lines", "pmi_unigrams", "semdedup_cells")
      val missing = sites.filterNot(s => new java.io.File(dir, s).isDirectory)
      assert(missing.isEmpty, s"no persisted table for $missing")
    } finally {
      Materializer.reset()
      delete(dir)
    }
  }
}
