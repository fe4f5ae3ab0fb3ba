package graft

/** Dev scratchpad: profile selected SparkEntry queries at a given SF.
  * Usage: runMain graft.Scratch [sfDir] [query ...] (default: hot set) */
object Scratch {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q_minhash_near_dups", "q_j1_multi_asset", "q_clean_corpus",
      "q_stac_cmr_items", "q_dedup_keep", "q_g1_geometry", "q_text_stats",
      "q_f1_dates_range", "q_a5_cumulative_cap", "q_t1_event_windows")
    val spark = GraftSession.builder().getOrCreate()
    names.foreach { n =>
      val t0 = System.nanoTime()
      val c = SparkEntry.queries(n)(spark, dir).count()
      println(f"$n%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s  n=$c")
    }
    spark.stop()
  }
}
