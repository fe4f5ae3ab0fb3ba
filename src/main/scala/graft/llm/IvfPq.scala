package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** IVF-PQ — the composed billion-scale ANN index (FAISS's
  * `IndexIVFPQ`): a coarse quantizer partitions the corpus into
  * cells (the IVF layer — searches probe a few cells, so most of the
  * corpus is never touched), and each vector's RESIDUAL from its
  * cell centroid is product-quantized (the PQ layer — what IS
  * touched is m small codes, not floats). Residuals concentrate
  * around zero, so a shared residual codebook quantizes far better
  * than PQ on raw vectors.
  *
  * Everything stays codegen'd native-dot arithmetic via the residual
  * identity: for subvector `v_s` in cell `g` with centroid slice
  * `u_s`, `argmin_c ‖(v_s − u_s) − c‖²` =
  * `argmin_c [‖c‖²/2 + u_s·c] − v_s·c` — the bracket is a plan-time
  * CONSTANT per (cell, sub, code), so encoding is the same k native
  * dots per subspace as plain PQ plus a literal bias lookup; no
  * per-row residual array is ever materialized. Search scores
  * `q·v ≈ q·u_g + Σ_s q_s·c(code_s)`: one per-cell constant plus the
  * same shared ADC table as PQ.
  *
  * Scale shape: both codebooks train driver-side on the bounded
  * deterministic sample ([[Pq.train]]); the corpus pays one map pass
  * to (cell, codes) — write it parquet PARTITIONED BY cell and a
  * probed search reads ~nProbe/nCells of the bytes; the search join
  * is a cell equi-join against the (tiny) exploded probe list, ADC
  * is m lookups per touched code row, and raw vectors are read only
  * for the final shortlist rerank. */
object IvfPq {

  /** Train both layers: `(coarse, residualCb)` — coarse is nCells ×
    * dim, residualCb is m × k × dsub over residuals of the SAME
    * deterministic sample. */
  def train(corpus: DataFrame, nCells: Int = 16, m: Int = 8,
            k: Int = 16, iters: Int = 5, sampleSize: Int = 2048,
            idCol: String = "vec_id", vecCol: String = "embedding")
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    // ONE sample collection (one TakeOrdered pass over the corpus)
    // trains BOTH layers — sized for whichever layer needs more
    val eff = math.max(math.max(sampleSize, 32 * nCells), k)
    val sample = Pq.sampleVectors(corpus, eff, idCol, vecCol)
    val coarse =
      Pq.trainOnSample(sample, dim = 0, m = 1, k = nCells, iters).head
    val residuals = sample.map { v =>
      val g = nearestCell(v, coarse)
      Array.tabulate(v.length)(i => v(i) - coarse(g)(i))
    }
    val dim = sample.head.length
    val residualCb =
      Pq.trainOnSample(residuals, dim, m, k, iters)
    (coarse, residualCb)
  }

  private def nearestCell(v: Array[Double],
                          coarse: Seq[Seq[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var g = 0
    while (g < coarse.length) {
      var d = 0.0; var i = 0
      val c = coarse(g)
      while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = g }
      g += 1
    }
    best
  }

  /** The IVF-PQ bias tensor for [[graft.expr.PqEncodeExpr]]:
    * `bias(cell)(s)(c) = ‖c‖²/2 + u_cell,s·c` — the residual identity
    * folded into plan-time constants. */
  private[llm] def residualBias(coarse: Seq[Seq[Double]],
                                residualCb: Seq[Seq[Seq[Double]]])
  : Seq[Seq[Seq[Double]]] = {
    val dsub = residualCb.head.head.length
    coarse.map { u =>
      residualCb.zipWithIndex.map { case (codes, s) =>
        val us = u.slice(s * dsub, (s + 1) * dsub)
        codes.map { c =>
          c.map(x => x * x).sum / 2 +
            us.iterator.zip(c.iterator).map { case (a, b) => a * b }.sum
        }
      }
    }
  }

  /** Encode: `(vec_id, cell, codes)` — one map pass, two native
    * codegen'd [[graft.expr.PqEncodeExpr]] calls (cell assign = a
    * 1-subspace encode over the coarse centroids; residual codes =
    * an m-subspace encode biased per cell). The declarative twin
    * below is the NativeExprSpec parity contract. */
  def encode(corpus: DataFrame, coarse: Seq[Seq[Double]],
             residualCb: Seq[Seq[Seq[Double]]],
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol)
    val cellCol = element_at(
      call("pq_encode", v, typedlit(Seq(coarse)),
        typedlit(Pq.plainBias(Seq(coarse))), lit(0)), 1)
    corpus.select(col(idCol).as("vec_id"), v.as("v"),
        cellCol.as("cell"))
      .select(col("vec_id"), col("cell"),
        call("pq_encode", col("v"), typedlit(residualCb),
          typedlit(residualBias(coarse, residualCb)), col("cell"))
          .as("codes"))
  }

  /** Declarative twin of [[encode]] — same (cell, codes) bit-for-bit
    * through m×k dot expressions; kept as the readable semantics and
    * the parity oracle. */
  def encodeDeclarative(corpus: DataFrame, coarse: Seq[Seq[Double]],
                        residualCb: Seq[Seq[Seq[Double]]],
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val m = residualCb.length
    val dsub = residualCb.head.head.length
    val v = transform(col(vecCol), _.cast("double"))
    val cellCol = argminScores(coarse.map(u =>
      lit(u.map(x => x * x).sum / 2) - Similarity.dot(v, typedlit(u))))
    val withCell = corpus.select(col(idCol).as("vec_id"), v.as("v"),
      cellCol.as("cell"))
    // residual-code argmin: [‖c‖²/2 + u_s·c] − v_s·c, bias looked up
    // from a (cell → per-code bias) literal per (sub, code)
    val codes = (0 until m).map { s =>
      val vs = slice(col("v"), s * dsub + 1, dsub)
      val scores = residualCb(s).zipWithIndex.map { case (c, _) =>
        val biasByCell = coarse.map { u =>
          val us = u.slice(s * dsub, (s + 1) * dsub)
          c.map(x => x * x).sum / 2 +
            us.iterator.zip(c.iterator).map { case (a, b) => a * b }.sum
        }
        element_at(typedlit(biasByCell), col("cell") + 1) -
          Similarity.dot(vs, typedlit(c))
      }
      argminScores(scores)
    }
    withCell.select(col("vec_id"), col("cell"),
      array(codes: _*).as("codes"))
  }

  private def argminScores(scores: Seq[Column]): Column =
    Pq.argminScores(scores)

  /** Probed ADC top-k + exact rerank: each query probes its `nProbe`
    * nearest cells, the code table is joined ON CELL (touching
    * ~nProbe/nCells of it), scores are `q·u_cell + Σ_s tbl[s][code]`,
    * and the shortlist reranks with exact cosine. */
  def searchTopK(codes: DataFrame, corpus: DataFrame,
                 queries: DataFrame, coarse: Seq[Seq[Double]],
                 residualCb: Seq[Seq[Seq[Double]]], kTop: Int,
                 nProbe: Int = 4, shortlist: Int = 32,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val m = residualCb.length
    val dsub = residualCb.head.head.length
    val q = queries.select(col(idCol).cast("long").as("qid"),
      transform(col(vecCol), _.cast("double")).as("qv")).collect()
    // per query: probed cells (by exact dot to centroids) with their
    // q·u constants, and the shared residual ADC table ONCE per query
    // (duplicating the m×k table into every probe row would inflate
    // the broadcast nProbe-fold)
    val spark = codes.sparkSession
    import spark.implicits._
    val probes = q.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Double](1)
      coarse.zipWithIndex.map { case (u, g) =>
        (u.iterator.zip(qv.iterator).map { case (a, b) => a * b }.sum, g)
      }.sortBy { case (d, g) => (-d, g) }.take(nProbe)
        .map { case (centDot, g) => (qid, g, centDot) }
    }.toSeq
    val tables = q.map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Double](1)
      (qid, residualCb.zipWithIndex.map { case (cents, s) =>
        val qs = qv.slice(s * dsub, (s + 1) * dsub)
        cents.map(c => c.iterator.zip(qs.iterator).map {
          case (a, b) => a * b }.sum)
      })
    }.toSeq
    val probeDf = broadcast(probes.toDF("query_id", "cell", "cent_dot"))
    val tblDf = broadcast(tables.toDF("query_id", "tbl"))
    val scored = codes.join(probeDf, "cell").join(tblDf, "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nn_id"),
        ((0 until m).map { s =>
          element_at(element_at(col("tbl"), s + 1),
            element_at(col("codes"), s + 1) + 1)
        }.reduce(_ + _) + col("cent_dot")).as("sim"))
    val short = Similarity.localTopK(scored, shortlist)
      .select(col("query_id"), col("nn_id"))
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nv"))
    val qv2 = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv2"))
    val exact = short.join(c, "nn_id").join(qv2, "query_id")
      .select(col("query_id"), col("nn_id"),
        Similarity.cosine(col("qv2"), col("nv")).as("sim"))
    Similarity.localTopK(exact, kTop)
  }
}
