package graftbench

import graft.functions.Dates
import graft.model.PipelineEvent
import graft.operators.{CatalogOps, MultiAsset, Publish, StacBuilder, Transfer}
import graft.pipeline.Runner
import graft.sources.Cmr
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path
import scala.util.Random

/** stac_ingest — the paper's product path: one event config of about
  * 1,000 `file_obj`s per request, through `Runner` into a STAC catalog.
  *
  * Closed loop, one client. Requests rotate through four configs, in
  * cycles of eight (each config twice; D once per collection):
  *  - A: CSV inventory discovery (4 part files), regex build, a metadata
  *    asset on every other row, `Transfer.plan` + `skipExisting` against
  *    a listing that already holds a quarter of the targets;
  *  - B: `graft-listing` discovery over a 4-subtree directory of empty
  *    files, with sidecars the filename regex must drop;
  *  - C: `graft-cmr-pages` discovery (10 pages of 100 granules), CMR
  *    item build and `data_file` multi-asset grouping (3 granules per
  *    product);
  *  - D: a month-ranged inventory re-ingested through `CatalogOps.upsert`,
  *    alternating between two fixed collections, so the catalog it
  *    rewrites stays the same size however long the run.
  * About 4% of the regex-built names carry no date and must land in
  * quarantine. A, B and C write a fresh catalog directory per request
  * (reset between requests, outside the timed interval). */
final class StacIngest(seed: Long, work: Path) extends ClosedLoop {
  import StacIngest._

  private val rnd = new Random(seed)
  private val in = work.resolve("in")
  private val catDir = work.resolve("out/catalog")
  private val qDir = work.resolve("out/quarantine")
  private val upsertCatalog = work.resolve("out/upsert_catalog")

  private val configs: IndexedSeq[Config] =
    IndexedSeq(inventoryConfig(), listingConfig(), cmrConfig(),
      upsertConfig(0), upsertConfig(1))

  private def config(i: Int): Config = i % 4 match {
    case 3 => configs(3 + (i / 4) % 2)
    case k => configs(k)
  }

  // a cycle visits each kind twice, the upsert once per collection
  val cycle = 8
  def kind(i: Int): String = config(i).name
  def rows(i: Int): Long = config(i).rows
  // one whole cycle: every kind runs twice before timing (the JIT is
  // still speeding a kind up on its second run), and both upsert
  // collections exist, so every timed upsert replaces rows
  override def warmUpRequests: Seq[Int] = 0 until cycle

  // ------------------------------------------------------------ inputs

  private def csvParts(dir: Path, header: String, lines: Seq[String]): Unit =
    lines.grouped((lines.size + 3) / 4).zipWithIndex.foreach { case (part, j) =>
      Fs.write(dir.resolve(s"part-$j.csv"), (header +: part).mkString("", "\n", "\n"))
    }

  /** `<prefix><k>` plus a date token, or no date for a planted bad row. */
  private def name(prefix: String, k: Int, bad: Set[Int]): String =
    f"$prefix$k%05d" + (if (bad(k)) "" else Truth.dateToken(rnd, k))

  private def bad(): Set[Int] = Truth.pick(rnd, RowsPerRequest, BadShare)
  private def other(): Set[Int] = Truth.pick(rnd, RowsPerRequest, 0.05)

  /** Items and quarantine ids for regex-built rows `(url, asset keys)`. */
  private def regexTruth(rows: Seq[(String, Set[String])], range: Option[String])
  : (Map[String, Item], Set[String]) = {
    val dated = rows.map { case (url, keys) => (url, keys, Truth.dates(url, range)) }
    (dated.collect { case (url, keys, Some(d)) => Truth.stem(url) -> Item(d, None, keys) }
      .toMap, dated.collect { case (url, _, None) => Truth.stem(url) }.toSet)
  }

  private def inventoryConfig(): Config = {
    val (undated, txt) = (bad(), other())
    val rows = (0 until RowsPerRequest).map { k =>
      val stem = name("gedi", k, undated)
      val tif = !txt(k)
      val url = s"s3://bench-src/a/$stem" + (if (tif) ".tif" else ".txt")
      (url, if (k % 2 == 0) s"s3://bench-src/a/$stem.xml" else "", tif)
    }
    csvParts(in.resolve("a_inv"), "s3_path,meta_path",
      rows.map { case (u, m, _) => s"$u,$m" })
    val tifs = rows.filter(_._3)
    val skipped = Truth.pick(rnd, tifs.size, 0.25).map(tifs(_)._1)
    val keysDir = in.resolve("a_keys")
    csvParts(keysDir, "key", skipped.toSeq.sorted.map(u =>
      s"${Transfer.DefaultDirectory}/bench_a/${Truth.fileName(u)}"))
    val (items, quarantine) = regexTruth(
      tifs.filterNot(r => skipped(r._1)).map { case (u, m, _) =>
        u -> (Set("cog_default") ++ (if (m.nonEmpty) Set("metadata") else Set.empty))
      }, None)
    Config("inventory_transfer",
      PipelineEvent(collection = "bench_a",
        inventoryUrl = Some(in.resolve("a_inv").toString),
        metadataFileUrlKey = Some("meta_path"), metadataType = Some("metadata"),
        filenameRegex = Some(".*\\.tif"), upload = true),
      rows.size, items, quarantine, Some(keysDir), upsert = false)
  }

  private def listingConfig(): Config = {
    val bucket = in.resolve("b_bucket")
    val (undated, sidecar) = (bad(), other())
    val files = (0 until RowsPerRequest).map { k =>
      bucket.resolve(s"b/s${k % 4}/${name("lst", k, undated)}" +
        (if (sidecar(k)) ".json" else ".tif"))
    }
    files.foreach(f => Fs.write(f, Array.emptyByteArray))
    val (items, quarantine) = regexTruth(
      files.map(_.toString).filter(_.endsWith(".tif")).map(_ -> Set("cog_default")),
      None)
    Config("listing",
      PipelineEvent(collection = "bench_b", discovery = "s3",
        bucket = Some("file://" + bucket), prefix = "b",
        filenameRegex = Some(".*\\.tif")),
      files.size, items, quarantine, None, upsert = false)
  }

  private def cmrConfig(): Config = {
    val s3Rel = "http://esipfed.org/ns/fedsearch/1.1/s3#"
    val bands = Seq("B01", "B02", "QA")
    val products = (0 until RowsPerRequest / bands.size).map { p =>
      val granules = bands.map { b =>
        val t = java.time.Instant.ofEpochSecond(946684800L + rnd.nextInt(750000000))
        val (x, y) = (rnd.nextInt(34000) / 100.0 - 170, rnd.nextInt(16000) / 100.0 - 80)
        val box = Seq(y, x, y + 1 + rnd.nextInt(500) / 100.0, x + 1 + rnd.nextInt(500) / 100.0)
        (f"G$p%06d$b", t, box, f"s3://bench-cmr/P$p%06d/P$p%06d_$b.tif")
      }
      (p, granules)
    }
    val entries = rnd.shuffle(products.flatMap(_._2)).map { case (id, t, box, href) =>
      s"""{"id":"$id","title":"$id","dataset_id":"bench","data_center":"BENCH",""" +
        s""""time_start":"$t","updated":"$t","collection_concept_id":"C1-BENCH",""" +
        s""""boxes":["${box.mkString(" ")}"],""" +
        s""""links":[{"rel":"$s3Rel","href":"$href"}]}"""
    }
    entries.grouped(CmrPageSize).zipWithIndex.foreach { case (page, j) =>
      Fs.write(in.resolve(s"c_pages/page-${j + 1}.json"),
        page.mkString("""{"feed":{"entry":[""", ",", "]}}"))
    }
    val items = products.map { case (p, gs) =>
      val (_, t, box, _) = gs.head // B01 is the data file
      f"P$p%06d" -> Item(Truth.Dates(None, None, Some(t.toEpochMilli)),
        Some(Seq(math.min(box(0), box(2)), math.min(box(1), box(3)),
          math.max(box(0), box(2)), math.max(box(1), box(3)))),
        bands.map(_ + ".tif").toSet)
    }.toMap
    Config("cmr_multi_asset",
      PipelineEvent(collection = "bench_c", discovery = "cmr", limit = CmrPageSize,
        dataFile = Some("B01.tif"), dataFileRegex = Some("P\\d{6}")),
      entries.size, items, Set.empty, None, upsert = false)
  }

  private def upsertConfig(j: Int): Config = {
    val undated = bad()
    val urls = (0 until RowsPerRequest).map(k =>
      s"s3://bench-src/d$j/${name("icesat", k, undated)}.h5")
    csvParts(in.resolve(s"d${j}_inv"), "s3_path", urls)
    val (items, quarantine) = regexTruth(urls.map(_ -> Set("cog_default")), Some("month"))
    Config("upsert", PipelineEvent(collection = s"bench_d$j",
        inventoryUrl = Some(in.resolve(s"d${j}_inv").toString),
        datetimeRange = Some("month")),
      urls.size, items, quarantine, None, upsert = true)
  }

  // ------------------------------------------------------------ requests

  private def context(spark: SparkSession, c: Config): Runner.RunContext =
    Runner.RunContext(
      granulePagesDir = Some(in.resolve("c_pages").toString),
      targetBucket = c.keysDir.map(_ => "s3://bench-dst"),
      existingTargetKeys = c.keysDir.map(d =>
        spark.read.option("header", "true").csv(d.toString)))

  def prepare(spark: SparkSession, i: Int): Unit = {
    Fs.delete(catDir)
    Fs.delete(qDir)
  }

  def run(spark: SparkSession, i: Int, tracer: Option[Tracer]): Unit = {
    val c = config(i)
    tracer match {
      case Some(t) => staged(spark, c, t)
      case None if c.upsert =>
        val r = Runner.run(spark, c.ev, context(spark, c))
        CatalogOps.upsert(spark, upsertCatalog.toString, upsertable(r.items))
        if (!r.quarantined.isEmpty)
          r.quarantined.write.mode(SaveMode.Append).json(qDir.toString)
      case None =>
        Runner.runToCatalog(spark, c.ev, catDir.toString, qDir.toString,
          context(spark, c))
    }
  }

  /** `CatalogOps.upsert` tags catalog rows with `input_file_name()`
    * across a join with the incoming items. Spark refuses that when the
    * items' plan reads files too, and the name comes back empty when the
    * join shuffles the catalog side; materialized and broadcast, the
    * items avoid both. */
  private def upsertable(items: DataFrame): DataFrame =
    broadcast(items.localCheckpoint())

  /** The same request as [[run]], one layer at a time: each stage's
    * output is materialized so the next span times only its own work. */
  private def staged(spark: SparkSession, c: Config, t: Tracer): Unit = {
    val ctx = context(spark, c)
    t.span("pipeline.plan") {
      val r = Runner.run(spark, c.ev, ctx)
      r.items.queryExecution.executedPlan
      r.quarantined.queryExecution.executedPlan
    }
    val (objs, granules) = t.span("sources.discover") {
      if (c.ev.discovery == "cmr") {
        val g = Cmr.pagedGranules(spark, in.resolve("c_pages").toString, c.ev.limit)
          .localCheckpoint()
        (Cmr.discover(g, c.ev.copy(dataFile = None, dataFileRegex = None))
          .localCheckpoint(), Some(g))
      } else (Runner.discover(spark, c.ev, ctx).localCheckpoint(), None)
    }
    val listed = objs.count()
    t.record("sources.rows_listed", listed.toDouble)
    var cur = objs
    for (df <- c.ev.dataFile; re <- c.ev.dataFileRegex)
      cur = t.span("operators.multi_asset") {
        MultiAsset.attach(cur, df, re).localCheckpoint()
      }
    for (bucket <- ctx.targetBucket; existing <- ctx.existingTargetKeys) {
      cur = t.span("operators.transfer_plan") {
        val planned = Transfer.plan(cur, bucket)
        planned.filter(!col("transfer_eligible"))
          .unionByName(Transfer.skipExisting(
            planned.filter(col("transfer_eligible")), existing))
          .drop("transfer_eligible", "target_key", "target_url")
          .localCheckpoint()
      }
      val eligible = objs.filter(Transfer.eligible).count()
      t.record("operators.transfer_skip_ratio",
        (listed - cur.count()).toDouble / math.max(1L, eligible))
    }
    t.span("expr.extract_dates", probe = true) {
      cur.select(Dates.extractDates(col("remote_fileurl"), c.ev.datetimeRange))
        .write.format("noop").mode(SaveMode.Overwrite).save()
    }
    val items = t.span("operators.stac_build") {
      (granules match {
        case Some(g) => StacBuilder.cmrItems(cur, g, c.ev)
        case None => StacBuilder.regexItems(cur, c.ev)
      }).localCheckpoint()
    }
    val good = items.filter(!col("datetime_error")).drop("datetime_error")
    val bad = items.filter(col("datetime_error")).drop("datetime_error")
    if (c.upsert) t.span("operators.upsert") {
      CatalogOps.upsert(spark, upsertCatalog.toString, upsertable(good))
    } else t.span("operators.publish") {
      Publish.toCatalog(good, catDir.toString)
    }
    t.span("operators.publish") {
      if (!bad.isEmpty) bad.write.mode(SaveMode.Append).json(qDir.toString)
    }
    t.record("operators.files_written", (Fs.count(qDir, ".json") +
      (if (c.upsert) 0 else Fs.count(catDir, ".parquet"))).toDouble)
    if (c.quarantine.nonEmpty)
      t.record("operators.quarantine_ratio", bad.count().toDouble / c.quarantine.size)
  }

  // ------------------------------------------------------------ checks

  private def ts(r: Row, k: Int): Option[Long] =
    Option(r.getTimestamp(k)).map(_.getTime)

  def check(spark: SparkSession, i: Int): Boolean = {
    val c = config(i)
    val catalog: DataFrame =
      if (c.upsert) spark.read.parquet(upsertCatalog.toString)
        .filter(col("collection") === c.ev.collection)
      else spark.read.parquet(catDir.toString)
    val got = catalog.select(col("id"), col("datetime"), col("start_datetime"),
      col("end_datetime"), col("bbox"), map_keys(col("assets"))).collect()
    val items = got.map { r =>
      r.getString(0) -> Item(Truth.Dates(ts(r, 2), ts(r, 3), ts(r, 1)),
        Option(r.getSeq[Double](4)).map(_.toSeq), r.getSeq[String](5).toSet)
    }.toMap
    val quarantined =
      if (!java.nio.file.Files.exists(qDir)) Set.empty[String]
      else spark.read.schema("id STRING").json(qDir.toString)
        .collect().map(_.getString(0)).toSet
    Truth.same(s"${c.name} item count", got.length, c.items.size) &
      Truth.same(s"${c.name} items", items, c.items) &
      Truth.same(s"${c.name} quarantine", quarantined, c.quarantine)
  }
}

object StacIngest {
  val RowsPerRequest = 1000
  val CmrPageSize = 100
  val BadShare = 0.04

  final case class Item(dates: Truth.Dates, bbox: Option[Seq[Double]], assets: Set[String])

  /** One event config with its ground truth. `items` and `quarantine`
    * are keyed by item id; rows the transfer skips appear in neither. */
  final case class Config(name: String, ev: PipelineEvent, rows: Long,
                          items: Map[String, Item], quarantine: Set[String],
                          keysDir: Option[Path], upsert: Boolean)
}
