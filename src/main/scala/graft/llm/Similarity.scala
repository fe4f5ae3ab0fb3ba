package graft.llm

import graft.Materializer.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k against a (broadcast)
  *    query set. Correctness baseline; cost O(|corpus| x |queries|)
  *    but fully distributed and shuffle-free except the final top-k.
  *  - [[lshTopK]] — random-hyperplane LSH bucketing: corpus is hashed
  *    once into sign-pattern buckets, queries probe only their bucket
  *    (plus multiprobe neighbors), so the join is a bucket equi-join.
  *    This is the 100 TB path: the corpus shuffles once on bucket key.
  */
object Similarity {

  private def asDouble(a: Column): Column = transform(a, _.cast("double"))

  /** Dot product, left-to-right fold — native
    * [[graft.expr.VecDotExpr]]; HOF twin below is the equivalence-spec
    * reference. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Declarative HOF twin of [[dot]] (spec reference only). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(asDouble(a), lit(0.0), (acc, v) => acc + v * v))

  /** Cosine similarity — native [[graft.expr.CosineSimExpr]]. */
  def cosine(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Declarative HOF twin of [[cosine]] (spec reference only). */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (norm(a) * norm(b))

  /** Global top-k per query over a (query_id, nn_id, sim) frame, with
    * a per-partition bounded-heap pre-pass: each input partition emits
    * at most k rows per query, so the per-query window that follows
    * ranks at most numPartitions * k rows — never the whole corpus.
    * Without the pre-pass, `row_number over (partition by query_id)`
    * funnels every scored row for one query into a single task — the
    * classic skew trap at corpus scale. Ordering (and ties) match the
    * window exactly: sim desc, nn_id asc; null sims rank last. */
  private[graft] def localTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    val sch = scored.schema
    // "worse" = larger under this ordering, so the heap head is the
    // eviction candidate
    val byBadness: Ordering[Row] = new Ordering[Row] {
      private def simOf(r: Row): Double =
        if (r.isNullAt(2)) Double.NegativeInfinity else r.getDouble(2)
      override def compare(a: Row, b: Row): Int = {
        val c = java.lang.Double.compare(simOf(b), simOf(a))
        if (c != 0) c
        else a.get(1).asInstanceOf[Comparable[Any]]
          .compareTo(b.get(1).asInstanceOf[Comparable[Any]])
      }
    }
    val partial = scored.mapPartitions { rows =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[Row]]
      rows.foreach { r =>
        // NaN sims rank FIRST under Double.compare (and under the
        // final window's desc sort) — one corrupt vector would become
        // every query's top neighbor. Skip them HERE, on materialized
        // rows: a DataFrame-level filter on the `sim` alias gets
        // pushed below the projection by Catalyst, substituting the
        // cosine expression and evaluating the O(pairs) kernel twice.
        // Null sims keep their existing rank-last behavior.
        val nanSim = !r.isNullAt(2) && r.getDouble(2).isNaN
        if (!nanSim) {
          val h = heaps.getOrElseUpdate(r.get(0),
            scala.collection.mutable.PriorityQueue.empty[Row](byBadness))
          if (h.size < k) h.enqueue(r)
          else if (byBadness.compare(r, h.head) < 0) { h.dequeue(); h.enqueue(r) }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }(RowEncoder.encoderFor(sch))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("nn_id"))
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "nn_id", "sim", "rank")
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self-matches excluded). Queries are broadcast — the big
    * side never shuffles; a per-partition bounded heap pre-selects k
    * candidates per (partition, query) so the final per-query ranking
    * window never sees the full corpus ([[localTopK]]). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("sim"))
    localTopK(scored, k)
  }

  /** Deterministic random hyperplanes (seed 7): `nBits` planes of
    * dimension `dim`. */
  private[graft] def hyperplanes(nBits: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-pattern LSH bucket id for a vector: bit i = sign(v . plane_i),
    * planes = deterministic seed-7 gaussians — native
    * [[graft.expr.LshBucketExpr]]. */
  def lshBucket(vec: Column, nBits: Int, dim: Int): Column =
    call_function("lsh_bucket", vec, lit(nBits), lit(dim))

  /** Declarative HOF twin of [[lshBucket]] (spec reference only). */
  def lshBucketHof(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotHof(vec, typedlit(p)) >= 0, lit(1L) * lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Approximate top-k: bucket the corpus on `nBits` hyperplane signs,
    * join queries to their bucket, rank by exact cosine inside the
    * bucket. Multiprobe: each query also probes every bucket at
    * Hamming distance 1 (query-side explode — the big corpus side
    * never fans out), trading a small query blow-up for much higher
    * recall. Corpus-side work stays one narrow shuffle on bucket key. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nBits: Int = 8, multiprobe: Boolean = true,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      lshBucket(col(vecCol), nBits, dim).as("bucket"))
    // the base bucket is projected once; the probes XOR that attribute
    // (an inline lsh_bucket would run nBits + 1 times per query)
    val qBucket = col("q_bucket")
    val probes =
      if (multiprobe)
        array(qBucket +: (0 until nBits).map(i =>
          qBucket.bitwiseXOR(lit(1L << i))): _*)
      else array(qBucket)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        lshBucket(col(vecCol), nBits, dim).as("q_bucket"))
      .select(col("query_id"), col("q_vec"), explode(probes).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("nn_id") =!= col("query_id"))
      // a (query, candidate) pair can meet in several probe buckets
      .groupBy("query_id", "nn_id")
      .agg(first("q_vec").as("q_vec"), first("nn_vec").as("nn_vec"))
      .select(col("query_id"), col("nn_id"),
        cosine(col("q_vec"), col("nn_vec")).as("sim"))
    localTopK(scored, k)
  }

  /** IVF (inverted-file) ANN — the scale path for clustered corpora:
    * a KMeans codebook (trained once, on a sample at 100 TB scale)
    * partitions the corpus into `nCentroids` cells; each query probes
    * its `nProbe` nearest cells, so the search join is a cell-id
    * equi-join touching ~nProbe/nCentroids of the corpus.
    *
    * Corpus-side work: one ML assignment pass + one shuffle on cell id.
    * Query-side: distances to the (broadcast-literal) codebook, probe
    * explode, rank by exact cosine inside probed cells. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              assignTop: Int = 1,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val (cells, codebook) =
      ivfIndex(corpus, nCentroids, assignTop, idCol, vecCol)
    ivfSearch(cells, codebook, queries, k, nProbe, idCol, vecCol,
      softAssign = assignTop > 1)
  }

  /** Persistable IVF index: `(cells, codebook)` DataFrames.
    * `cells` is one row per corpus vector `(nn_id, nn_vec, cell)` —
    * write it as parquet PARTITIONED BY cell so probed search reads
    * only nProbe/nCentroids of the data from disk; `codebook` is the
    * tiny `(cid, centroid)` table. Build ONCE per corpus version
    * (train on a sample at 100 TB scale), search many times with
    * [[ivfSearch]] — the index is data, not a live model object. */
  def ivfIndex(corpus: DataFrame, nCentroids: Int = 16,
               assignTop: Int = 1,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    require(assignTop >= 1 && assignTop <= nCentroids,
      s"assignTop must be in [1, $nCentroids], got $assignTop")
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.GraftFunctions.register(spark)
    // centroids from the engine's deterministic sample-trained Lloyd
    // kernel (the [[semanticDedup]] lesson applied here too): Spark
    // ML's k-means|| pays ~20 scheduler-bound jobs and samples
    // per-partition (partitioning-dependent cells); the driver kernel
    // is bit-deterministic, and at 100 TB the sample bound is the
    // difference between one TakeOrdered pass and 20 full scans
    val cents = Pq.train(corpus, m = 1, k = nCentroids, iters = 25,
      sampleSize = math.max(8192, 32 * nCentroids),
      idCol = idCol, vecCol = vecCol).head
    val c0 = corpus.select(col(idCol).as("nn_id"),
      asDouble(col(vecCol)).as("nn_vec"))
    val cbLit = typedlit(cents.zipWithIndex.map { case (v, i) => (i, v) })
    // max-dot (spherical) assignment: cosine search lives in the dot
    // metric, so assigning AND probing by dot keeps a query's
    // neighbors in the cells it probes first. assignTop > 1 files
    // each vector under its assignTop nearest cells (FAISS-style
    // soft assignment) — the recall knob for true neighbors sitting
    // just across a cell boundary, at assignTop× index size.
    val cells =
      if (assignTop == 1) {
        val zeroBias = Seq(Seq(cents.map(_ => 0.0)))
        c0.withColumn("cell", element_at(
          call_function("pq_encode", col("nn_vec"), typedlit(Seq(cents)),
            typedlit(zeroBias), lit(0)), 1))
      } else {
        val scoredCells = transform(cbLit, e => struct(
          (lit(0.0) - dot(col("nn_vec"), e.getField("_2"))).as("d"),
          e.getField("_1").as("cid")))
        c0.withColumn("cell",
          explode(transform(slice(array_sort(scoredCells), 1, assignTop),
            _.getField("cid"))))
      }
    val codebook = cents.zipWithIndex
      .map { case (v, i) => (i, v) }
      .toDF("cid", "centroid")
    (cells, codebook)
  }

  /** Probed search over a prebuilt [[ivfIndex]] (freshly built or read
    * back from parquet). The codebook — nCentroids × dim doubles, KB
    * to low MB — is collected to a driver literal so probe selection
    * is a per-row expression, never a join. */
  /** @param softAssign whether the index was built with assignTop > 1
    *   (each vector filed in several cells). Only then can a (query,
    *   candidate) pair meet more than once and need the pre-top-k
    *   dedup shuffle; a hard-assigned index (the common case) skips
    *   it — the default stays true so an index of unknown provenance
    *   read back from parquet is deduped rather than over-counted. */
  def ivfSearch(cells: DataFrame, codebook: DataFrame,
                queries: DataFrame, k: Int, nProbe: Int = 4,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                softAssign: Boolean = true): DataFrame = {
    val cb = codebook.select(col("cid"), asDouble(col("centroid")))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
      .sortBy(_._1)
    // probe ranking uses the SAME max-dot metric the index assigns
    // cells by — a metric mismatch between assignment and probing
    // sends queries to cells their neighbors were never filed under
    val cbLit = typedlit(cb)
    val q0 = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("q_vec"))
    val scoredCells = transform(cbLit, e => struct(
      (lit(0.0) - dot(col("q_vec"), e.getField("_2"))).as("d"),
      e.getField("_1").as("cid")))
    val probes = slice(array_sort(scoredCells), 1, nProbe)
    val q = q0.select(col("query_id"), col("q_vec"),
      explode(transform(probes, _.getField("cid"))).as("cell"))
    val met = cells.join(q, Seq("cell"))
      .filter(col("nn_id") =!= col("query_id"))
    // an assignTop>1 index files a vector in several cells, so a
    // (query, candidate) pair can meet more than once — dedup BEFORE
    // top-k or duplicates would occupy top-k slots. A hard-assigned
    // index cannot produce duplicates, so it skips this full shuffle
    // of candidate vectors (the hot probe path's dominant cost).
    val uniq =
      if (softAssign)
        met.groupBy("query_id", "nn_id")
          .agg(first("q_vec").as("q_vec"), first("nn_vec").as("nn_vec"))
      else met
    val scored = uniq.select(col("query_id"), col("nn_id"),
      cosine(col("q_vec"), col("nn_vec")).as("sim"))
    localTopK(scored, k)
  }

  /** SemDeDup-style semantic deduplication: KMeans cells partition the
    * corpus, near-dup pairs are found by exact cosine WITHIN cells
    * only, resolved into clusters (connected components, min-id
    * label), and each cluster keeps its min-id member. Output:
    * `(vec_id, cluster_id, keep)` — one row per corpus vector,
    * singletons keep themselves.
    *
    * Scale shape: the quadratic compare never crosses cell
    * boundaries — per-cell work is (n/k)², so `nCentroids` is chosen
    * to make cells fit an executor (tens of thousands of cells at
    * 100 TB; the codebook trains on a sample and assignment is one
    * map pass against a broadcast literal). GROW `nCentroids` WITH
    * THE CORPUS: k ∝ n keeps per-cell density — and with it total
    * pair work — linear in n (the r9 sf1 probe measured 11.8× for
    * 10× data at FIXED k, exactly the (n/k)² prediction; scaling k
    * restores ~linearity). Pair generation is a
    * cell-keyed self-join — row-based, so a giant cell becomes a big
    * join group, never a single collected array row — and cell count
    * IS the parallelism of that stage. `assignTop > 1` assigns each
    * vector to its `assignTop` nearest cells (pairs meet if their
    * cell sets intersect) — the recall knob for near-dups straddling
    * a Voronoi boundary, at `assignTop×` candidate cost. Component
    * resolution is the alternating-stars loop — O(log n) rounds on
    * the (tiny) edge set. */
  /** @param driverMaxEdges forwarded to
    *   [[Dedup.connectedComponentsStars]]: edge counts at or below it
    *   resolve with the exact driver union-find, above it the
    *   distributed alternating-stars loop runs. Tune down on
    *   small-heap drivers. */
  /** Cell count at or above which [[semanticDedup]] switches from the
    * flat −dot argmin (O(k) per row) to the two-level
    * [[graft.expr.SemRouter]] (O(√k) per row) with
    * proportional-to-sample-mass fine-cell allocation. The bench-SF
    * registry queries stay below it (flat path bit-identical to every
    * prior round); the corpus-scaled k of sf10+ crosses it.
    * Deployment override: `spark.graft.semdedup.hierK` (and
    * `spark.graft.semdedup.coarseProbes` for the recall/cost dial —
    * the sf10 equivalence run measured 2 probes losing 0.24% and 4
    * probes 0.08% of BORDERLINE near-pairs vs the flat route, at 9×
    * less assignment+pair time; exact clones are never at risk, the
    * collapse pre-pass links them before any routing). */
  private[graft] val HierK = 512

  /** SemDeDup-style embedding-cluster dedup. NOTE for callers passing
    * `nCentroids >= 512` (spark.graft.semdedup.hierK): candidate
    * generation switches to the two-level router — an explicit
    * recall/cost trade (measured 0.08% of borderline near-pairs at
    * the 4-probe default, 9× less assignment+pair work; exact clones
    * are always caught via the collapse pre-pass) whose dials are the
    * session confs above. Below hierK the flat assignment runs,
    * bit-identical to prior rounds. */
  def semanticDedup(corpus: DataFrame, threshold: Double,
                    nCentroids: Int = 16, assignTop: Int = 1,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    driverMaxEdges: Long = Dedup.DefaultDriverMaxEdges)
  : DataFrame = {
    require(assignTop >= 1 && assignTop <= nCentroids,
      s"assignTop must be in [1, $nCentroids], got $assignTop")
    graft.GraftFunctions.register(corpus.sparkSession)
    val c0 = corpus.select(col(idCol).as("id"),
      asDouble(col(vecCol)).as("vec"))
    // EXACT-COLLAPSE pre-pass (r13): byte-identical non-degenerate
    // vectors form cosine-1 cliques at any threshold < 1, so ONE
    // representative (min id) per distinct vector carries the family
    // through candidate generation and each member links to its rep
    // by a direct edge. Components are IDENTICAL to the uncollapsed
    // run — any edge a member would have scored, its rep scores with
    // the exact same cosine — while clone-heavy cells (real corpora
    // are full of exact dup embeddings) drop quadratically in pair
    // work: the sf10 probe's 29k-row hot cell was mostly clone
    // families. The pre-pass is part of the SCALE path (k >= hierK,
    // the same gate as the two-level router): below it the flat
    // algorithm handles clones fine in-cell and the pre-pass's fixed
    // cost (one vec-keyed exchange + the extra plan stages) buys
    // nothing — measured ~+1 s on the 4.7k-row bench corpus for a
    // −460 s win at sf10. Also OFF at threshold ≥ 1.0: the float
    // cosine of identical vectors is not reliably exactly 1.0 (norm
    // round-trip), so linking them would diverge from the base
    // algorithm's data-dependent behavior there. Zero-norm / NaN /
    // null-element vectors never produce a cosine edge (see the NaN
    // guard on the pair filter below), so they bypass the collapse as
    // self-representatives — the `!isnan` keeps NaN self-dots (which
    // compare LARGEST under Spark's nan-safe ordering, not null) out
    // of the collapsible set. ONE vec-keyed shuffle produces both the
    // reps and the member edges.
    val hierK = corpus.sparkSession.conf
      .get("spark.graft.semdedup.hierK", HierK.toString).toInt
    // collapse needs cosine(v, v) >= threshold for identical vectors,
    // and the FLOAT cosine of identical vectors is 1 minus a few ulps
    // (norm round-trip) — the 1e-12 margin is ~1000x that error, so
    // thresholds inside [1-1e-12, 1] fall back to the base algorithm
    // instead of linking pairs it would have split
    val collapse = nCentroids >= hierK && threshold < 1.0 - 1e-12
    // small-k keeps the prior rounds' plan EXACTLY (no collapse
    // stages scheduled for nothing)
    val (cand, memberEdges) =
      if (!collapse) (c0, None)
      else {
        val selfDot = call_function("vec_dot", col("vec"), col("vec"))
        val degenerate =
          selfDot.isNull || isnan(selfDot) || selfDot <= 0.0
        // min-agg + join-back (the Dedup.dropExactDuplicates idiom):
        // ROW-BASED on both sides, so a mega-family (one boilerplate
        // embedding in 10^8 docs) streams through a sorted join group
        // instead of materializing a collect_list buffer in one
        // aggregation task — bounded memory at any family size, at
        // the price of one extra vec-keyed exchange on the scale path
        val nondeg = c0.filter(!degenerate)
        val reps = nondeg.groupBy("vec").agg(min(col("id")).as("rid"))
        val members = nondeg.join(reps, Seq("vec"))
          .filter(col("id") =!= col("rid"))
          .select(col("id").as("id_a"), col("rid").as("id_b"))
        (reps.select(col("rid").as("id"), col("vec"))
          .unionByName(c0.filter(degenerate).select("id", "vec")),
          Some(members))
      }
    // cells from the deterministic sample-trained Lloyd's (Pq.train
    // with one subspace spanning the full vector, dim inferred from
    // the sample): bit-identical codebook under any partitioning —
    // Spark ML's k-means|| samples per-partition, which made cell
    // assignment (and thus the candidate set) partitioning-dependent.
    // The sample scales with the cell count (≥32 points per centroid)
    // so "tens of thousands of cells at 100 TB" stays reachable.
    // NOTE: centroids are NOT unit-norm (means of unit vectors sit
    // inside the ball), so −dot ranking is a deterministic assignment
    // proxy, not exactly KMeans-Euclidean-nearest — candidate
    // generation only needs the assignment to be consistent across
    // the corpus, which it is.
    val assigned =
      if (nCentroids < hierK) {
        val cb = Pq.train(corpus, m = 1, k = nCentroids, iters = 5,
          sampleSize = math.max(2048, 32 * nCentroids),
          idCol = idCol, vecCol = vecCol).head
          .zipWithIndex.map { case (v, i) => (i, v) }
        val cbLit = typedlit(cb)
        // assignTop cells per vector by −dot against the
        // broadcast-literal codebook (ties broken by cell id)
        val scoredCells = transform(cbLit, e => struct(
          (lit(0.0) - dot(col("vec"), e.getField("_2"))).as("d"),
          e.getField("_1").as("cid")))
        cand.select(col("id"), col("vec"),
          explode(transform(slice(array_sort(scoredCells), 1, assignTop),
            _.getField("cid"))).as("cell"))
      } else {
        // large k: flat O(k)-per-row assignment (and the O(sample·k)
        // driver Lloyd's behind it) turns quadratic once k ∝ n — route
        // hierarchically instead: √k coarse cells, fine cells
        // allocated to each coarse PROPORTIONAL to its sample mass
        // (dense regions get more cells — the flat under-allocation
        // is exactly what produced the sf10 probe's 48×-average hot
        // cell), probe the 2 nearest coarse, take assignTop fine.
        val router = buildRouter(corpus, nCentroids, assignTop,
          idCol, vecCol)
        // expressions with non-Expression params can't ride through
        // call_function's fixed registrations — build the Column
        // DIRECTLY around the expression (ExprColumn bridge) instead
        // of registering a per-router session function: the r13
        // registry scheme retained one entry (closure pinning the
        // ~k·dim-double tensors) per distinct router for the
        // session's lifetime, an unbounded leak for a long-lived
        // driver cycling corpora. The direct expression produces the
        // IDENTICAL resolved plan (same SemRouteExpr node) with
        // nothing to deregister — the tensors' lifetime is the
        // plan's, exactly as it should be
        import org.apache.spark.sql.graftbridge.ExprColumn
        val routeCol = ExprColumn.column(graft.expr.SemRouteExpr(
          ExprColumn.expression(col("vec")), router))
        cand.select(col("id"), col("vec"),
          explode(routeCol).as("cell"))
      }
    // Materialize the assignment ONCE, pre-partitioned by cell: both
    // sides of the in-cell self-join read it, and without this each
    // side re-ran the whole assignment subtree — the O(k·dim)-per-row
    // centroid scoring (flat path) or the router walk plus the
    // collapse pre-pass's vec-keyed exchange (scale path) — twice,
    // plus one cell exchange per side. The explicit repartition at
    // numShufflePartitions means localCheckpoint preserves a layout
    // both join inputs already satisfy (the PageRank degEdges idiom),
    // so the join schedules NO exchange. The per-vector norm rides
    // along: VectorCore.cosine recomputes sqrt(Σv²) of BOTH vectors
    // for every pair (3n flops/pair); hoisting the norms per vector
    // and dividing the pair dot by their product is the identical
    // IEEE computation — same left-to-right fold, same sqrt, same
    // d/(na*nb) expression — at n flops/pair.
    val par = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val assignedM = assigned
      .withColumn("nrm", norm(col("vec")))
      .repartition(par, col("cell"))
      .materialized("semdedup_cells", eager = true)
    val a = assignedM.select(col("cell"), col("id").as("id_a"),
      col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = assignedM.select(col("cell"), col("id").as("id_b"),
      col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    // NaN guard (r13 review find): the cosine of a NaN-element vector
    // is NaN (not null), and Spark's nan-safe ordering makes
    // NaN >= threshold TRUE — without the reject, ONE corrupt
    // embedding would edge to every cell-mate and glue unrelated
    // vectors into a single cluster. nanvl (NaN → null → comparison
    // null → dropped) keeps the pair kernel evaluated ONCE per pair:
    // FilterExec does no common-subexpression elimination, so the
    // `!isnan(c) && c >= t` spelling would compute it twice.
    // Null/zero-norm semantics match VectorCore.cosine exactly: a
    // null element nulls the dot AND the norm; Spark's non-ANSI
    // Divide yields NULL on a 0.0 divisor, which is the kernel's
    // explicit zero-norm branch.
    val pairCos = nanvl(
      dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")),
      lit(null).cast("double"))
    val repEdges = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(pairCos >= threshold)
      .select("id_a", "id_b")
      .distinct() // multi-assigned pairs meet in up to assignTop cells
    val edges = memberEdges.fold(repEdges)(repEdges.unionByName)
    val comps = Dedup.connectedComponentsStars(edges,
      driverMaxEdges = driverMaxEdges)
    corpus.select(col(idCol).as("vec_id"))
      .join(comps.withColumnRenamed("id", "vec_id"),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col("vec_id"))
  }

  /** Deterministic two-level router (large-k [[semanticDedup]]): the
    * usual Pq sample (≥32 points per target cell), √k coarse Lloyd's,
    * sample partitioned by (−dot, id)-nearest coarse, fine cells per
    * coarse allocated ∝ sample mass (≥1; an empty coarse keeps its
    * own centroid as its only fine cell so routing never dead-ends),
    * fine Lloyd's per coarse over its owned sample. Global fine ids
    * number consecutively in coarse order — deterministic under any
    * partitioning, like every sample-trained codebook here. */
  private def buildRouter(corpus: DataFrame, nCentroids: Int,
                          assignTop: Int, idCol: String,
                          vecCol: String): graft.expr.SemRouter = {
    val sample = Pq.sampleVectors(corpus,
      math.max(2048, 32 * nCentroids), idCol, vecCol)
    val dim = sample.head.length
    val kc = math.max(1, math.ceil(math.sqrt(nCentroids.toDouble)).toInt)
    val coarse = Pq.lloyd(sample, math.min(kc, sample.length), 5, dim)
      .map(_.toArray).toArray
    val buckets = Array.fill(coarse.length)(
      List.newBuilder[Array[Double]])
    sample.foreach { x =>
      var best = 0
      var bestS = Double.MaxValue
      var c = 0
      while (c < coarse.length) {
        var s = 0.0
        var i = 0
        while (i < dim) { s += x(i) * coarse(c)(i); i += 1 }
        if (-s < bestS) { bestS = -s; best = c } // ties keep smaller c
        c += 1
      }
      buckets(best) += x
    }
    val fines = List.newBuilder[Array[Double]]
    val owned = Array.newBuilder[Array[Int]]
    var nextId = 0
    for (c <- coarse.indices) {
      val b = buckets(c).result().toArray
      val kf = math.max(1, math.min(b.length,
        math.round(nCentroids.toDouble * b.length / sample.length).toInt))
      val cents =
        if (b.isEmpty) Array(coarse(c))
        else Pq.lloyd(b, kf, 5, dim).map(_.toArray).toArray
      owned += Array.range(nextId, nextId + cents.length)
      cents.foreach(fines += _)
      nextId += cents.length
    }
    // 4 coarse probes default: the sf10 equivalence run measured 2
    // probes losing 376 of ~155k borderline near-pairs (0.24%) across
    // coarse boundaries; 4 cut that to 135 rows (0.08%) at ~2× the
    // fine-candidate cost — still O(√k) per row vs the flat O(k)
    val wc = corpus.sparkSession.conf
      .get("spark.graft.semdedup.coarseProbes", "4").toInt
    new graft.expr.SemRouter(coarse, fines.result().toArray,
      owned.result(), wc = math.max(1, math.min(wc, coarse.length)),
      topN = assignTop)
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via LSH
    * buckets (near-identical vectors collide in all-bit buckets with
    * high probability). */
  def embeddingNearDups(corpus: DataFrame, threshold: Double, dim: Int,
                        nBits: Int = 8, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxBucketSize: Int = 10000): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      lshBucket(col(vecCol), nBits, dim).as("bucket"))
    // one scan → bucket groupBy → in-bucket pairwise combinations
    // (no self-join, signatures computed once)
    val buckets = c.groupBy("bucket")
      .agg(sort_array(collect_list(struct(col("id"), col("vec"))))
        .as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
    buckets
      .select(explode(flatten(transform(col("members"), (x, i) =>
        transform(slice(col("members"), i + 2, size(col("members"))),
          y => struct(
            x.getField("id").as("id_a"),
            y.getField("id").as("id_b"),
            cosine(x.getField("vec"), y.getField("vec")).as("sim"))))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.sim").as("sim"))
      // !isnan: a NaN cosine compares largest and would pass any
      // threshold, pairing a corrupt vector with every bucket-mate
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
  }
}
