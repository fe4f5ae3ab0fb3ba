package graft.graph

import graft.Materializer.MaterializeOps
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.functions._

/** Triangle counting by degree-ordered edge orientation (the
  * MapReduce-classic of Suri & Vassilvitskii 2011): orient every
  * undirected edge from its lower-(degree, id) endpoint to the higher
  * one, build wedges by self-joining oriented edges on their source,
  * and close each wedge against the oriented edge set.
  *
  * Why orientation matters at scale: wedge generation is quadratic in
  * OUT-degree, and ordering by (degree, id) bounds every out-degree by
  * O(√m) — a star node of degree 10⁶ contributes ZERO wedges (all its
  * edges point outward-from-leaves into it), where an unoriented
  * self-join would explode 10¹² pairs. Total work is O(m^{3/2})
  * regardless of skew. Three keyed shuffles: degree count, wedge
  * self-join, closing semi-join.
  */
object Triangles {

  /** Count triangles in an undirected graph given as (src, dst) rows
    * (either direction, duplicates and self-loops tolerated).
    * Returns a 1-row frame (n_triangles). */
  def count(edges: DataFrame): DataFrame = {
    // canonical undirected edge set: a < b, no loops, no dups —
    // MATERIALIZED once (the PageRank edge-table idiom): the degree
    // count reads it twice (both union branches) and the orientation
    // join once, and each read would otherwise re-run the caller's
    // whole edge-construction pipeline — the un-materialized plan
    // re-scanned the bench fixture's source table 45 times (15
    // evaluations of `undirected` x its 3 scan branches)
    val undirected = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .materialized("triangles_undirected", eager = true)

    val deg = undirected.select(col("a").as("n"))
      .unionAll(undirected.select(col("b").as("n")))
      .groupBy("n").agg(functions.count(lit(1)).as("d"))

    // the rank state of every later stage is keyed by `src`: the
    // wedge self-join probes oriented x oriented on src, and the
    // closing semi-join's (src, dst) clustering is satisfied by a
    // src partitioning on BOTH sides — so one explicit src
    // repartition before the checkpoint lets EnsureRequirements
    // schedule the wedge join AND the closing join with ZERO
    // exchanges (the checkpoint preserves outputPartitioning)
    val par = edges.sparkSession.sessionState.conf.numShufflePartitions

    // orient low-(degree, id) → high-(degree, id); carry the target's
    // order key so the wedge can order its two ends without a re-join.
    // Materialized once, for the same reason as `undirected`: three
    // consumers (e1, e2, the closing edge set) each replayed the
    // two degree joins and everything beneath them.
    val oriented = undirected
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("id"), col("da").as("d")))
          .otherwise(struct(col("b").as("id"), col("db").as("d"))).as("lo"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("b").as("id"), col("db").as("d")))
          .otherwise(struct(col("a").as("id"), col("da").as("d"))).as("hi"))
      .select(col("lo.id").as("src"), col("hi.id").as("dst"),
        col("hi.d").as("dst_d"))
      .repartition(par, col("src"))
      .materialized("triangles_oriented", eager = true)

    // wedges from each source: unordered pair {x, y} ordered by the
    // SAME (degree, id) key the orientation used, so the closing edge
    // x→y is itself oriented and present exactly once
    val e1 = oriented.select(col("src"), col("dst").as("x"),
      col("dst_d").as("xd"))
    val e2 = oriented.select(col("src"), col("dst").as("y"),
      col("dst_d").as("yd"))
    val wedges = e1.join(e2, "src")
      .where(struct(col("xd"), col("x")) < struct(col("yd"), col("y")))
      .select(col("x").as("src"), col("y").as("dst"))

    wedges
      .join(oriented.select("src", "dst"), Seq("src", "dst"), "left_semi")
      .agg(functions.count(lit(1)).as("n_triangles"))
  }
}
