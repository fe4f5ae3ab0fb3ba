package graft

/** [[Verify]] with every reuse point written as a parquet table: the
  * oracle gate run under [[Materializer.PersistedTable]] instead of the
  * default local checkpoints.
  * Usage: Test/runMain graft.VerifyPersisted <sfDir> <outDir> <tableDir>
  * [queryName...] — the arguments after `<tableDir>` go to Verify. */
object VerifyPersisted {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tableDir) = args.take(3)
    Materializer.set(Materializer.PersistedTable(tableDir))
    try Verify.main(Array(sfDir, outDir) ++ args.drop(3))
    finally Materializer.reset()
  }
}
