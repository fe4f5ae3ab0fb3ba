package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** DSv2 listing source: partition-parallel enumeration, pushdown of
  * path string predicates into the enumerator, no content reads. */
class ListingSourceSpec extends SparkSuite {

  private lazy val root = {
    val dir = Files.createTempDirectory("bucket2")
    Files.createDirectories(dir.resolve("a/deep"))
    Files.createDirectories(dir.resolve("b"))
    Files.writeString(dir.resolve("a/deep/x_2020.tif"), "XX")
    Files.writeString(dir.resolve("a/y_2020.dat"), "YYY")
    Files.writeString(dir.resolve("b/z_2021.tif"), "ZZZZ")
    Files.writeString(dir.resolve("top.tif"), "T")
    dir.toString
  }

  test("lists all files with length + mtime, partitioned by subtree") {
    val df = spark.read.format("graft-listing").load(root)
    val rows = df.orderBy("path").collect()
    assert(rows.length == 4)
    val byName = rows.map(r => r.getString(0).split('/').last ->
      r.getLong(1)).toMap
    assert(byName == Map("x_2020.tif" -> 2L, "y_2020.dat" -> 3L,
      "z_2021.tif" -> 4L, "top.tif" -> 1L))
    assert(rows.forall(!_.isNullAt(2)))
    // one partition per first-level subtree + one root partition
    assert(df.rdd.getNumPartitions == 3)
  }

  test("endsWith filter pushes into the enumerator") {
    val df = spark.read.format("graft-listing").load(root)
      .filter(col("path").endsWith(".tif"))
    assert(df.count() == 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("StringEndsWith"), plan.take(600))
  }

  test("startsWith prefix filter prunes a subtree") {
    val df = spark.read.format("graft-listing").load(root)
      .filter(col("path").startsWith(s"file:$root/a"))
    assert(df.count() == 2)
  }

  test("non-pushable predicates still evaluate above the scan") {
    val df = spark.read.format("graft-listing").load(root)
      .filter(col("path").rlike("_20\\d\\d\\.tif$") && col("length") > 2)
    assert(df.count() == 1) // only z_2021.tif (len 4)
  }

  test("count/sum/min/max push into the source (one row per subtree)") {
    val df = spark.read.format("graft-listing").load(root)
      .agg(count(lit(1)).as("n"), sum("length").as("bytes"),
        min("length").as("mn"), max("length").as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[count(), sum(length), " +
      "min(length), max(length)]"), plan.take(900))
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (4L, 10L, 1L, 4L))
  }

  test("pushed aggregates respect pushed filters") {
    val df = spark.read.format("graft-listing").load(root)
      .filter(col("path").endsWith(".tif"))
      .agg(count(lit(1)), sum("length"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), plan.take(900))
    assert(plan.contains("StringEndsWith"), plan.take(900))
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1)) == (3L, 7L))
  }

  test("max(modificationTime) pushes and matches the row-level answer") {
    val src = spark.read.format("graft-listing").load(root)
    val pushedDf = src.agg(max("modificationTime"))
    assert(pushedDf.queryExecution.executedPlan.toString
      .contains("PushedAggregates=[max(modificationTime)]"))
    val pushed = pushedDf.collect().head.getTimestamp(0)
    val rowLevel = src.orderBy(col("modificationTime").desc)
      .select("modificationTime").collect().head.getTimestamp(0)
    assert(pushed == rowLevel)
  }

  test("group-by and unsupported functions fall back to row scanning") {
    val src = spark.read.format("graft-listing").load(root)
    val g = src.groupBy(col("path").endsWith(".tif")).count()
    assert(!g.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    assert(g.collect().map(_.getLong(1)).sum == 4L)
    val avg = src.agg(org.apache.spark.sql.functions.avg("length"))
    assert(!avg.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    assert(avg.collect().head.getDouble(0) == 2.5)
  }

  /** A tree written through Hadoop's checksummed `LocalFileSystem`
    * (every file gets a `.crc` sidecar): depth 4, dot- and
    * underscore-prefixed names, an empty subtree, root-level files. */
  private lazy val hadoopRoot = {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("bucket_crc").toString
    val files = Seq("top.tif", ".hidden_top", "_SUCCESS",
      "a/x_2020.tif", "a/b/.dot.tif", "a/b/c/_under.tif",
      "a/b/c/deep_2021.json", "a/b/c/d/leaf.tif", "_meta/part-0.json",
      ".dotdir/k.tif", "z/y/w.dat")
    files.zipWithIndex.foreach { case (f, i) =>
      val out = fs.create(new Path(s"$dir/$f"))
      out.write(Array.fill[Byte](i + 1)(1))
      out.close()
    }
    fs.mkdirs(new Path(s"$dir/empty/nested"))
    assert(new java.io.File(s"$dir/a/b/c/d/.leaf.tif.crc").isFile)
    dir
  }

  /** (path, length, mtime ms) of every file under `root`, as Hadoop's
    * recursive `listFiles` enumerates them. */
  private def listFilesRows(root: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      .toSeq.sortBy(_._1)
  }

  test("the per-directory walk lists exactly what listFiles does") {
    val expected = listFilesRows(hadoopRoot)
    assert(expected.size == 11 && !expected.exists(_._1.endsWith(".crc")))
    val src = spark.read.format("graft-listing").load(hadoopRoot)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).getTime))
      .toSeq.sortBy(_._1)
    assert(rows(src) == expected)
    val prefix = s"file:$hadoopRoot/a/b"
    assert(rows(src.filter(col("path").startsWith(prefix))) ==
      expected.filter(_._1.startsWith(prefix)))
    assert(rows(src.filter(col("path").endsWith(".tif"))) ==
      expected.filter(_._1.endsWith(".tif")))

    val agg = src.filter(col("path").endsWith(".tif"))
      .agg(count(lit(1)), sum("length"), min("length"), max("length"),
        min("modificationTime"), max("modificationTime"))
    assert(agg.queryExecution.executedPlan.toString
      .contains("PushedAggregates"))
    val tifs = expected.filter(_._1.endsWith(".tif"))
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getTimestamp(4).getTime, r.getTimestamp(5).getTime) ==
      (tifs.size.toLong, tifs.map(_._2).sum, tifs.map(_._2).min,
        tifs.map(_._2).max, tifs.map(_._3).min, tifs.map(_._3).max))
  }

  test("leafFiles walks local paths and keeps listFiles on other schemes") {
    val local = org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(hadoopRoot)
    val expected = listFilesRows(hadoopRoot).map(_._1)
    def list(fs: CountingFs) = graft.sources.dsv2.ListingReader
      .leafFiles(fs, root).map(_.getPath.toString).toSeq.sorted
    val asLocal = new CountingFs(local, "file")
    assert(list(asLocal) == expected)
    assert(asLocal.listFilesCalls == 0 && asLocal.listStatusCalls > 1)
    val asStore = new CountingFs(local, "mockstore")
    assert(list(asStore) == expected)
    assert(asStore.listFilesCalls == 1 && asStore.listStatusCalls == 0)
  }
}

/** A file system over `inner` that reports `scheme` and counts the
  * listing calls made on it. */
class CountingFs(inner: org.apache.hadoop.fs.FileSystem, scheme: String)
  extends org.apache.hadoop.fs.FilterFileSystem(inner) {
  import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path,
    RemoteIterator}
  var listFilesCalls = 0
  var listStatusCalls = 0
  override def getScheme: String = scheme
  override def listFiles(f: Path, recursive: Boolean)
  : RemoteIterator[LocatedFileStatus] = {
    listFilesCalls += 1
    super.listFiles(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    listStatusCalls += 1
    super.listStatus(f)
  }
}
