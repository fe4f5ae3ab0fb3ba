package graft

import graft.llm.Dedup

/** Both branches of [[Dedup.connectedComponentsStars]] — the driver
  * union-find and the distributed alternating-stars loop — must agree
  * with a plain-Scala reference over the collected pairs (the
  * executable spec). */
class StarsCcSpec extends SparkSuite {
  import spark.implicits._

  /** BFS over the undirected pair graph; starts are visited in
    * ascending order, so each component is labelled by its minimum. */
  private def reference(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    val label = scala.collection.mutable.Map.empty[Long, Long]
    for (start <- adj.keys.toSeq.sorted if !label.contains(start)) {
      label(start) = start
      var frontier = List(start)
      while (frontier.nonEmpty) {
        val n = frontier.head
        frontier = frontier.tail
        for (m <- adj(n) if !label.contains(m)) {
          label(m) = start
          frontier ::= m
        }
      }
    }
    label.toSeq.sorted
  }

  /** (reference, driver union-find, distributed stars) — the three
    * implementations of the same contract. driverMaxEdges = -1 forces
    * the alternating-stars loop; the default routes small edge sets to
    * the union-find. */
  private def all3(pairs: Seq[(Long, Long)])
  : (Seq[(Long, Long)], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val df = pairs.toDF("id_a", "id_b")
    val uf = Dedup.connectedComponentsStars(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val st = Dedup.connectedComponentsStars(df, driverMaxEdges = -1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    (reference(pairs), uf, st)
  }

  test("chain + separate pair: all three implementations agree") {
    val (ref, uf, st) = all3(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(st == ref && uf == ref)
    assert(st.filter(_._2 == 1L).map(_._1) == Seq(1L, 2L, 3L, 4L))
  }

  test("random graph: all three implementations agree") {
    val rnd = new scala.util.Random(3)
    val pairs = Seq.fill(150)(
      (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter { case (a, b) => a != b }
    val (ref, uf, st) = all3(pairs)
    assert(st == ref && uf == ref)
  }

  test("high-diameter path graph converges within the iteration cap") {
    // a 64-node path: min-label propagation would need ~diameter (63)
    // rounds, the stars loop O(log n), well inside its cap of 25 —
    // compare against the known answer.
    // driverMaxEdges = -1: the point is the DISTRIBUTED loop's round
    // complexity, so the union-find shortcut must not kick in.
    val pairs = (0L until 63L).map(i => (i, i + 1))
    val df = pairs.toDF("id_a", "id_b")
    val st = Dedup.connectedComponentsStars(df, driverMaxEdges = -1L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(st.map(_._1) == (0L to 63L))
    assert(st.forall(_._2 == 0L))
    // and the union-find shortcut gives the same labeling
    val uf = Dedup.connectedComponentsStars(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(uf == st)
  }

  test("string ids where UTF-8 and UTF-16 orders disagree: paths agree") {
    // U+E000 (UTF-16 unit 0xE000; UTF-8 EE 80 80) vs U+10000 (UTF-16
    // surrogate 0xD800...; UTF-8 F0 90 80 80): Java's Comparable puts
    // the supplementary char FIRST, Spark's binary UTF8String puts
    // U+E000 first. The component label must not depend on which side
    // of driverMaxEdges the input lands on — both paths must emit
    // Spark's (UTF-8 byte) minimum.
    val bmp = "doc-"
    val supp = "doc-𐀀"
    assert(bmp.compareTo(supp) > 0) // Java order: supp < bmp
    val df = Seq((bmp, supp), (supp, "zz-tail")).toDF("id_a", "id_b")
    def labels(driverMax: Long): Map[String, String] =
      Dedup.connectedComponentsStars(df, driverMaxEdges = driverMax)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val driver = labels(1000L)
    val stars = labels(-1L)
    assert(driver == stars, s"driver=$driver stars=$stars")
    assert(driver.values.toSet == Set(bmp)) // UTF-8 byte minimum
  }
}
