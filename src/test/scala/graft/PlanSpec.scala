package graft

import org.apache.spark.sql.functions._

/** Physical-plan regression guards: the scale properties the engine
  * promises (broadcast dims, no cartesian products, pruned scans,
  * pushed filters) asserted on the actual executed plans. */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("star-schema dims broadcast; no sort-merge for small dims") {
    val p = planOf("q_j2_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("no cartesian product anywhere in the dedup/LSH plans") {
    for (q <- Seq("q_minhash_near_dups", "q_simhash_near_dups",
        "q_embed_near_dups", "q_ngram_jaccard")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian join")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q has a nested-loop join")
    }
  }

  test("PlanAudit prints the same text for two plannings of one query") {
    for (q <- Seq("q_ngram_jaccard", "q_text_quality", "q_ann_lsh",
        "q_domain_stats")) {
      val a = PlanAudit.plan(spark, q, dir)
      val b = PlanAudit.plan(spark, q, dir)
      assert(a == b, s"$q plan text differs between runs")
      assert(!"#[0-9]|plan_id=[0-9]|Lambda\\$[0-9]|RDD\\[[0-9]".r.findFirstIn(a)
        .isDefined, s"$q plan keeps a per-run token:\n$a")
    }
  }

  test("parquet scans prune columns (ReadSchema subsets)") {
    val p = SparkEntry.queries("q_a6_counts")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // only the group key is read, not the whole orders schema
    assert(p.contains("ReadSchema: struct<o_orderpriority:string>"), p)
  }

  test("anti-join stays a broadcast/shuffle hash join, never nested-loop") {
    val p = planOf("q_j3_anti_join")
    assert(p.contains("LeftAnti"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("brute-force ANN broadcasts the query side only") {
    val p = planOf("q_ann_top1")
    // the corpus side must not be broadcast (it is the big side)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("CartesianProduct")) // cross join is intentional here
    assert(p.contains("BuildRight") || p.contains("Broadcast"), p.take(400))
  }

  test("no window partitioned by a content-derived key; the " +
    "inverted-index ranking window is pre-capped") {
    // the r10 verdict's three unsplittable windows, pinned gone: a
    // window partitioned by a fingerprint/span hash or a cluster id
    // serializes a boilerplate/viral key into ONE task AQE cannot
    // split — these shapes must stay map-side-combinable aggregates
    assert(!planOf("q_winnow_incremental").contains(
      "windowspecdefinition(fp_hash"), "fp_hash window is back")
    assert(!planOf("q_winnow_fp").contains(
      "windowspecdefinition(fp_hash"), "fp_hash window is back")
    for (q <- Seq("q_dup_clusters", "q_dedup_best"))
      assert(!planOf(q).contains("windowspecdefinition(cluster_id"),
        s"$q sizes clusters through a cluster_id window again")
    for (q <- Seq("q_repeated_spans", "q_span_removal"))
      assert(!planOf(q).contains("windowspecdefinition(span_hash"),
        s"$q regrew a span_hash window")
    // the per-term posting rank window is allowed ONLY because the
    // bounded-heap pre-pass (MapPartitions) caps its input at
    // maxPostings rows per term per partition
    val inv = planOf("q_inverted_index")
    assert(inv.contains("windowspecdefinition(term"))
    assert(inv.contains("MapPartitions"),
      "inverted index lost its bounded-heap pre-pass")
    // the per-source token-budget window is allowed ONLY because the
    // per-partition budget pre-filter (MapPartitions over a local
    // sort) caps its input: real LLM mixes have one source at ~50% of
    // the corpus, which would otherwise serialize into one window task
    val cur = planOf("q_curate_pipeline")
    assert(cur.contains("windowspecdefinition(source"))
    assert(cur.contains("MapPartitions"),
      "curate budget window lost its per-partition budget pre-pass")
  }

  test("full sweep: no query grows an unplanned cartesian/nested-loop join") {
    // Every entry here is a vetted non-equi join of a deliberately
    // tiny side — a 1-row corpus-stats/merged-sketch aggregate crossed
    // back over the data (bm25/tfidf/unigram idf totals, hll/kll/cms
    // merged-sketch scalars, set-ops counts), the intentional
    // brute-force ANN baseline, or the |groups|² sketch-pair compare.
    // A nested-loop against a SINGLE-ROW build is O(n) work, not
    // quadratic; anything NOT on this list joining non-equi is a
    // scale regression and must fail here.
    val vetted = Set("q_ann_top1", "q_bm25_topk", "q_cms_counts",
      "q_hll_users", "q_kll_quantiles", "q_set_jaccard",
      "q_tfidf_terms", "q_u_set_ops", "q_unigram_nll",
      // 1-row corpus-token-total crossed over the bigram table for
      // the PMI denominator — the same single-row-build shape
      "q_pmi_bigrams",
      // two 1-row aggregates (sketch pair × exact scalar) crossed
      "q_cms_join_size",
      // 1-row model constants (priors/OOV weight) crossed over the
      // scored corpus — the same single-row-build shape as the stats
      // scalars above
      "q_quality_classifier", "q_curate_pipeline",
      // 1-row (tot_raw, tot_target) ngram totals crossed onto the
      // K-row bucket-weight domain — single-row build over a
      // CONSTANT-sized (nBuckets) side, not the corpus
      "q_dsir_scores",
      // composes q_dsir_scores' scoring verbatim before the Gumbel
      // top-k — the SAME vetted 1-row ngram-totals cross, no new join
      "q_dsir_resample",
      // composes q_unigram_nll's surprisal scoring (vetted 1-row
      // corpus-token-total cross) under the histogram order
      // statistic; both passes reuse that single-row-build shape
      "q_ccnet_buckets",
      // 1-row model-token-total broadcast crossed over the scored
      // positions — the same single-row-build shape as q_unigram_nll
      "q_bigram_backoff")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val p = planOf(name)
      if ((p.contains("CartesianProduct") ||
          p.contains("BroadcastNestedLoopJoin")) && !vetted(name))
        Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"unvetted cartesian/nested-loop joins in: $offenders")
  }

  test("J1 single-agg shape: the fused native expression, no join, " +
    "one keyed exchange") {
    val p = planOf("q_j1_multi_asset")
    // the per-row triple runs as ONE fused expression (r13)
    assert(p.contains("multiassetpartsexpr"), p.take(600))
    // the old groups-then-join-back shape is gone: no join operator of
    // any kind — ONE groupBy builds both the sibling map and the
    // data-row bag
    for (j <- Seq("SortMergeJoin", "ShuffledHashJoin",
        "BroadcastHashJoin", "CartesianProduct",
        "BroadcastNestedLoopJoin"))
      assert(!p.contains(j), s"q_j1 grew a $j back")
  }
}
