package graft

import graft.operators.CatalogOps
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Catalog management: list/get/delete over the partitioned table,
  * delete touching only affected partitions. */
class CatalogOpsSpec extends SparkSuite {
  import spark.implicits._

  test("summary, get, and partition-scoped delete") {
    val path = Files.createTempDirectory("catops").toString + "/t"
    val items = Seq(
      ("a", "i1", "2020-01-01"), ("a", "i2", "2020-06-01"),
      ("b", "i3", "2021-01-01"))
      .toDF("collection", "id", "d")
      .withColumn("datetime", to_timestamp(col("d"))).drop("d")
      .withColumn("start_datetime", lit(null).cast("timestamp"))
      .withColumn("end_datetime", lit(null).cast("timestamp"))
    items.write.partitionBy("collection").parquet(path)

    val sum = CatalogOps.summary(spark, path).collect()
    assert(sum.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 2L), ("b", 1L)))

    assert(CatalogOps.get(spark, path, Seq("i2", "i3")).count() == 2)

    // capture partition b's files before the delete
    val bFiles = new java.io.File(s"$path/collection=b").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    val removed = CatalogOps.delete(spark, path, Seq("i1"))
    assert(removed == 1)
    val left = spark.read.parquet(path).select("id").collect()
      .map(_.getString(0)).sorted
    assert(left.toSeq == Seq("i2", "i3"))
    // partition b was untouched by the rewrite
    val bAfter = new java.io.File(s"$path/collection=b").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(bAfter == bFiles, "unaffected partition was rewritten")

    // deleting EVERY item of a collection must remove its partition
    // files too (dynamic partition overwrite would have left them)
    val removedAll = CatalogOps.delete(spark, path, Seq("i2"))
    assert(removedAll == 1)
    val leftAll = spark.read.parquet(path).select("id").collect()
      .map(_.getString(0)).toSeq
    assert(leftAll == Seq("i3"))
    assert(!new java.io.File(s"$path/collection=a").exists(),
      "emptied partition directory still present after delete")
  }

  test("upsert replaces clashing ids, appends the rest, skips other partitions") {
    val path = Files.createTempDirectory("catops-up").toString + "/t"
    def items(rows: (String, String, String)*) = rows.toSeq
      .toDF("collection", "id", "d")
      .withColumn("datetime", to_timestamp(col("d"))).drop("d")
      .withColumn("start_datetime", lit(null).cast("timestamp"))
      .withColumn("end_datetime", lit(null).cast("timestamp"))
    items(("a", "i1", "2020-01-01"), ("a", "i2", "2020-06-01"),
      ("b", "i3", "2021-01-01"))
      .write.partitionBy("collection").parquet(path)
    val bFiles = new java.io.File(s"$path/collection=b").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap

    // i2 replaced (new datetime), i4 new in a, i5 opens collection c
    val replaced = CatalogOps.upsert(spark, path, items(
      ("a", "i2", "2022-12-31"), ("a", "i4", "2022-01-01"),
      ("c", "i5", "2023-01-01")))
    assert(replaced == 1)
    val out = spark.read.parquet(path)
      .select(col("id"), date_format(col("datetime"), "yyyy-MM-dd"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.keySet == Set("i1", "i2", "i3", "i4", "i5"))
    assert(out("i2") == "2022-12-31", "clashing id not replaced")
    assert(out("i1") == "2020-01-01")
    // untouched collection b was never rewritten
    val bAfter = new java.io.File(s"$path/collection=b").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(bAfter == bFiles, "unaffected partition was rewritten")

    // pure-append upsert (no clashes) touches nothing existing
    assert(CatalogOps.upsert(spark, path,
      items(("b", "i6", "2024-01-01"))) == 0)
    assert(spark.read.parquet(path).count() == 6)
  }

  test("upsert/delete tag files correctly with file-backed items and " +
    "shuffled joins") {
    val base = Files.createTempDirectory("catops-file")
    // a space in the path pins the file-path decoding
    val path = base.resolve("cat alog").toString
    def items(rows: (String, String, String)*) = rows.toSeq
      .toDF("collection", "id", "d")
      .withColumn("datetime", to_timestamp(col("d"))).drop("d")
    def files(c: String) = new java.io.File(s"$path/collection=$c")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    items(("a", "i1", "2020-01-01"), ("a", "i2", "2020-06-01"),
      ("b", "i3", "2021-01-01"))
      .write.partitionBy("collection").parquet(path)
    val incomingPath = base.resolve("incoming").toString
    items(("a", "i2", "2022-12-31"), ("c", "i5", "2023-01-01"))
      .write.parquet(incomingPath)
    val (aBefore, bBefore) = (files("a"), files("b"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      assert(CatalogOps.upsert(spark, path,
        spark.read.parquet(incomingPath)) == 1)
      val out = spark.read.parquet(path)
        .select(col("id"), date_format(col("datetime"), "yyyy-MM-dd"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out == Map("i1" -> "2020-01-01", "i2" -> "2022-12-31",
        "i3" -> "2021-01-01", "i5" -> "2023-01-01"))
      assert(files("a").keySet.intersect(aBefore.keySet).isEmpty,
        "affected partition a was not rewritten")
      assert(files("b") == bBefore, "unaffected partition was rewritten")

      val aAfter = files("a")
      assert(CatalogOps.delete(spark, path, Seq("i5")) == 1)
      assert(!new java.io.File(s"$path/collection=c").exists())
      assert(files("a") == aAfter && files("b") == bBefore)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
