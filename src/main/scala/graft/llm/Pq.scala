package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compression
  * layer of billion-scale ANN: split each d-dim vector into `m`
  * subvectors, learn a k-codeword codebook per subspace, store each
  * vector as `m` small codes (64 floats → 8 bytes at m=8/k=16,
  * 32× smaller). Search scores compressed codes with a per-query
  * lookup table (ADC — asymmetric distance computation), shortlists,
  * and reranks the shortlist exactly.
  *
  * Scale shape:
  *  - TRAINING runs driver-side on a deterministic bounded sample
  *    (the standard PQ practice — see [[train]]); only encode/search
  *    touch the full corpus.
  *  - ENCODING is one map pass against the broadcast-literal codebook
  *    (argmin over k codewords per subspace).
  *  - SEARCH touches only the 8-byte-scale code column: per-query
  *    dot-product tables (m×k doubles each) travel as ONE literal,
  *    every (vector, query) ADC score is m array lookups, and the
  *    shortlist reranks through [[Similarity.localTopK]] heaps. Raw
  *    vectors are read ONLY for the shortlist rerank (|queries|×C
  *    rows) — at 100 TB the float vectors stay on disk, column-pruned
  *    away from the scan, which is the entire point of PQ.
  *
  * Determinism: codebook init picks the k lowest-md5(id) vectors per
  * subspace (no RNG); ties in assignment break toward the lower code.
  * Centroid means are FP sums (order-dependent in the last ulp — same
  * caveat as Spark ML's own KMeans, accepted for the IVF path too);
  * the oracle gate reranks exactly, so recall, not centroid ulps,
  * decides correctness. */
object Pq {

  /** Learn `(m × k × dsub)` codebooks on a deterministic sample,
    * driver-side: returns the centroid table for
    * [[encode]]/[[searchTopK]] literals — KB-scale model state, like
    * [[Similarity.ivfSearch]]'s codebook.
    *
    * Training on a bounded sample is the standard PQ practice (FAISS
    * trains codebooks on 10⁵-10⁶ sampled vectors regardless of corpus
    * size) — the sample (≤ `sampleSize` × dim doubles, single-digit
    * MBs) collects once via TakeOrdered on md5(id), and Lloyd's runs
    * as plain Scala with a FIXED iteration order, so the codebook is
    * bit-identical on every run, partitioning, and cluster size. The
    * DISTRIBUTED work — encoding the full corpus, ADC scoring — is
    * where the 100 TB goes, and it compiles its expressions exactly
    * once (a cluster-side Lloyd's would pay a fresh Janino compile of
    * the m×k-dot assignment chain per iteration: measured 3 s/round
    * of pure compile at m=16). `dim` must be divisible by `m`. */
  def train(corpus: DataFrame, dim: Int = 0, m: Int = 8, k: Int = 16,
            iters: Int = 5, sampleSize: Int = 2048,
            idCol: String = "vec_id",
            vecCol: String = "embedding"): Seq[Seq[Seq[Double]]] = {
    require(k >= 1 && iters >= 0, s"bad k=$k iters=$iters")
    require(sampleSize >= k, s"sampleSize $sampleSize < k $k")
    val sample = sampleVectors(corpus, sampleSize, idCol, vecCol)
    require(sample.length >= k,
      s"corpus has ${sample.length} rows < k = $k")
    trainOnSample(sample, dim, m, k, iters)
  }

  /** Codebooks from an already-collected sample (shared with
    * [[IvfPq]], which trains both layers off ONE sample collection). */
  private[llm] def trainOnSample(sample: Array[Array[Double]], dim: Int,
                                 m: Int, k: Int, iters: Int)
      : Seq[Seq[Seq[Double]]] = {
    // dim <= 0 → infer from the data (no extra driver job for callers)
    val d = if (dim > 0) dim else sample.head.length
    require(d % m == 0, s"dim $d not divisible by m $m")
    val dsub = d / m
    Seq.tabulate(m) { s =>
      lloyd(sample.map(v => java.util.Arrays.copyOfRange(
        v, s * dsub, (s + 1) * dsub)), k, iters, dsub)
    }
  }

  /** Deterministic sample: lowest-md5(id) rows, stable under any
    * partitioning (TakeOrdered, never a full sort). Vectors with a
    * NaN or null element are excluded BEFORE the sample: one such
    * vector in the sample poisons a Lloyd's centroid (NaN distances
    * dump every NaN point into cluster 0, turning its mean NaN), and
    * a NaN centroid corrupts every downstream assignment — the
    * codebook must be trained on clean data only (r13 ADVICE find;
    * NaN vectors still flow through the OPERATORS, which fail them
    * closed per-row). */
  private[llm] def sampleVectors(corpus: DataFrame, sampleSize: Int,
                                 idCol: String, vecCol: String)
      : Array[Array[Double]] =
    corpus
      .select(col(idCol).cast("string").as("sid"),
        transform(col(vecCol), _.cast("double")).as("v"))
      .filter(col("v").isNotNull &&
        !exists(col("v"), x => x.isNull || isnan(x)))
      .orderBy(md5(col("sid")), col("sid")).limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)

  /** Driver-side Lloyd's with FIXED iteration order, first-k seeds,
    * first-wins ties, empty clusters keeping their center — the ONE
    * kernel behind every sample-trained codebook in the engine. */
  private[llm] def lloyd(xs: Array[Array[Double]], k: Int, iters: Int,
                         dsub: Int): Seq[Seq[Double]] = {
    require(xs.length >= k, s"sample ${xs.length} rows < k = $k")
    var cents = Array.tabulate(k)(i => xs(i).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dsub))
      val counts = new Array[Long](k)
      xs.foreach { x =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dsub) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dsub) { sums(best)(i) += x(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
    }
    cents.map(_.toSeq).toSeq
  }

  /** Linear-size argmin over score columns (first-wins ties) — a
    * when/otherwise fold duplicates the accumulator subtree per
    * codeword (2^k expression nodes). */
  private[llm] def argminScores(scores: Seq[Column]): Column = {
    val arr = array(scores: _*)
    (array_position(arr, array_min(arr)) - 1).cast("int")
  }

  /** Nearest-codeword id for a subvector against ONE subspace's
    * centroids, ties toward the lower code. Squared-L2 argmin via the
    * identity `argmin ‖x−c‖² = argmin (‖c‖²/2 − x·c)` so the per-row
    * work is k native codegen'd [[Similarity.dot]] calls — NOT
    * zip_with/aggregate HOFs, which evaluate interpreted (this
    * repo's measured 3-10× lesson) and made the first cut of this
    * operator minutes-slow. */
  private def assignCode(sv: Column, cents: Seq[Seq[Double]]): Column = {
    argminScores(cents.map { c =>
      lit(c.map(x => x * x).sum / 2) - Similarity.dot(sv, typedlit(c))
    })
  }

  /** The plain-PQ bias tensor for [[graft.expr.PqEncodeExpr]]: one
    * "cell" of `‖c‖²/2` per (sub, code). */
  private[llm] def plainBias(cb: Seq[Seq[Seq[Double]]])
  : Seq[Seq[Seq[Double]]] =
    Seq(cb.map(_.map(c => c.map(x => x * x).sum / 2)))

  /** Encode the corpus: `(vec_id, codes array<int> of length m)` —
    * persist this next to (or instead of) the raw vectors; it is the
    * 8-bytes-per-vector search structure. One native codegen'd
    * expression ([[graft.expr.PqEncodeExpr]]) — the declarative twin
    * below stays as the NativeExprSpec parity contract. */
  def encode(corpus: DataFrame, cb: Seq[Seq[Seq[Double]]],
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    corpus.select(col(idCol).as("vec_id"),
      call("pq_encode", col(vecCol), typedlit(cb),
        typedlit(plainBias(cb)), lit(0)).as("codes"))
  }

  /** Declarative twin of [[encode]] (m×k dot-product expressions +
    * argmin scaffolding): same codes bit-for-bit, kept as the
    * readable spec of the semantics and the parity oracle. */
  def encodeDeclarative(corpus: DataFrame, cb: Seq[Seq[Seq[Double]]],
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val m = cb.length
    val dsub = cb.head.head.length
    val v = transform(col(vecCol), _.cast("double"))
    val codes = (0 until m).map { s =>
      assignCode(slice(v, s * dsub + 1, dsub), cb(s))
    }
    corpus.select(col(idCol).as("vec_id"), array(codes: _*).as("codes"))
  }

  /** ADC top-k: score every code row for every query via the m-lookup
    * table sum, shortlist `shortlist` candidates per query, rerank
    * the shortlist with exact cosine against the raw vectors. Returns
    * `(query_id, nn_id, sim)` — `sim` is the EXACT cosine of the
    * reranked winners, so precision is exact and PQ decides recall
    * only (shortlist size is the recall knob). */
  def searchTopK(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                 cb: Seq[Seq[Seq[Double]]], kTop: Int,
                 shortlist: Int = 32, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val m = cb.length
    val dsub = cb.head.head.length
    // per-query tables: dot(q_sub, centroid) for every (sub, code) —
    // |queries| × m × k doubles, collected to ONE literal (the
    // ivfSearch codebook-literal pattern)
    // integral id contract (cast, not getLong: int/short ids survive)
    val q = queries.select(col(idCol).cast("long").as("qid"),
      transform(col(vecCol), _.cast("double")).as("qv")).collect()
    val tables = q.map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Double](1)
      (qid, cb.zipWithIndex.map { case (cents, s) =>
        val sv = qv.slice(s * dsub, (s + 1) * dsub)
        cents.map(c => c.iterator.zip(sv.iterator).map {
          case (a, b) => a * b }.sum)
      })
    }.toSeq
    val tblLit = typedlit(tables) // (qid, m × k) per query
    val scored = codes.select(col("vec_id").as("nn_id"), col("codes"),
      explode(tblLit).as("qt"))
      .select(col("qt").getField("_1").as("query_id"), col("nn_id"),
        (0 until m).map { s =>
          element_at(element_at(col("qt").getField("_2"), s + 1),
            element_at(col("codes"), s + 1) + 1)
        }.reduce(_ + _).as("sim"))
      .filter(col("nn_id") =!= col("query_id"))
    val short = Similarity.localTopK(scored, shortlist)
      .select(col("query_id"), col("nn_id"))
    // exact rerank: raw vectors touched ONLY for shortlist rows
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nv"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv2"))
    val exact = short.join(c, "nn_id").join(qv, "query_id")
      .select(col("query_id"), col("nn_id"),
        Similarity.cosine(col("qv2"), col("nv")).as("sim"))
    Similarity.localTopK(exact, kTop)
  }
}
