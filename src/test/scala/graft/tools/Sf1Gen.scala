package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sf1 (10× sf0.1) scale-probe data, derived from the
  * driver's sf0.1 tables so the value distributions match: ten key-
  * offset copies per fact table, with document text perturbed per
  * copy (every third token suffixed) so cross-copy near-duplicate
  * pairs stay OUT of minhash range and the dedup workload density
  * matches the source corpus instead of multiplying by 10. Dimension
  * tables (region, nation) pass through. Output:
  * /tmp/graft_sf1/<table>.parquet. No RNG — copy index is the only
  * new information, so the output is bit-stable across runs. */
object Sf1Gen {
  // r13: env-overridable for deeper scale probes — SPARK_GRAFT_COPIES=100
  // SPARK_GRAFT_OUT=/tmp/graft_sf10 generates sf10 (~60M lineitem,
  // ~500k docs) with the same copy discipline
  val Copies: Int = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
  val OutDir: String = sys.env.getOrElse("SPARK_GRAFT_OUT", "/tmp/graft_sf1")

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder().getOrCreate()
    import spark.implicits._

    def read(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$OutDir/$t.parquet")
      println(s"$t: ${spark.read.parquet(s"$OutDir/$t.parquet").count()} rows")
    }
    // ten copies with per-copy bigint key offsets (keys stay unique
    // and FK relationships hold because parent and child use the
    // same offset for the shared key)
    def copies(df: DataFrame, keyOffsets: Map[String, Long]): DataFrame =
      (0 until Copies).map { k =>
        keyOffsets.foldLeft(df) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(k * span))
        }
      }.reduce(_ unionAll _)

    // dimensions: pass through
    write(read("region"), "region")
    write(read("nation"), "nation")

    // TPC-H facts: offset each key family by its sf0.1 cardinality
    // ceiling (generous power-of-ten spans keep copies disjoint)
    write(copies(read("customer"), Map("c_custkey" -> 1000000L)),
      "customer")
    write(copies(read("supplier"), Map("s_suppkey" -> 1000000L)),
      "supplier")
    write(copies(read("part"), Map("p_partkey" -> 10000000L)), "part")
    write(copies(read("orders"), Map("o_orderkey" -> 10000000L,
      "o_custkey" -> 1000000L)), "orders")
    write(copies(read("lineitem"), Map("l_orderkey" -> 10000000L,
      "l_partkey" -> 10000000L, "l_suppkey" -> 1000000L)), "lineitem")

    // events: new users + ids per copy -> the graph gets 10x nodes
    // and edges (ten components), the honest scale-up for
    // pagerank/triangles/sessionization
    write(copies(read("events"), Map("event_id" -> 10000000L,
      "user_id" -> 1000000L)), "events")

    // documents: per-copy token perturbation (see scaladoc)
    val docs = read("documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)]
    val docsSf1 = (0 until Copies).map { k =>
      docs.map { case (id, text, lang, srcName, _) =>
        val t2 =
          if (k == 0) text
          else text.split(' ').zipWithIndex.map { case (w, i) =>
            if (i % 3 == 0) w + "x" + k else w
          }.mkString(" ")
        (id + k * 10000000L, t2, lang, srcName, t2.length.toLong)
      }
    }.reduce(_ unionAll _)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    write(docsSf1, "documents")

    // embeddings: per-copy ORTHOGONAL transform — cyclic shift by k
    // composed with hash-seeded per-(copy, dim) sign flips. Signed
    // permutations preserve norms and within-copy pairwise dots
    // EXACTLY (both vectors of a pair ride the same transform), so
    // the ANN workload inside each copy is the real corpus; across
    // copies the sign pattern differs for every k, so no two copies
    // are ever byte-identical — the r13 honesty caveat was that a
    // bare shift repeats at k ≡ k+dim (copies 64 apart were exact
    // twins, handing every low-id ANN query a free top-1). No RNG:
    // the sign is a fixed integer mix of (k, i), bit-stable forever.
    val emb = read("embeddings")
      .select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)]
    val embSf1 = (0 until Copies).map { k =>
      emb.map { case (id, v, label) =>
        val r = if (k == 0) v
          else Array.tabulate(v.length) { i =>
            val x = v((i + k) % v.length)
            val h = (k * 2654435761L + i * 0x9e3779b97f4a7c15L) >>> 17
            if ((h & 1L) == 0L) x else -x
          }
        (id + k * 1000000L, r, label)
      }
    }.reduce(_ unionAll _)
      .toDF("vec_id", "embedding", "label")
    write(embSf1, "embeddings")

    spark.stop()
  }
}
