package graftbench

import graft.llm.{Clean, Dedup}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path
import scala.util.Random

/** clean_corpus — the training-data path: `Clean.corpus` over one
  * generated shard per request; none of the geospatial layers run.
  *
  * Closed loop, one client, the same shard every request (read from a
  * JSON-lines file, survivors written as parquet). The shard plants:
  *  - unique documents of 60 to 160 random words;
  *  - exact copies of some of them;
  *  - near-duplicate clusters: a 240-word base and variants that each
  *    replace one word, so every pair in a cluster has a 5-shingle
  *    Jaccard of at least 0.91 (threshold 0.9);
  *  - one hot cluster of the same shape with 120 members, the key skew
  *    of the LSH bucket-pair stage;
  *  - short documents that fail the 5-token quality gate.
  * Ground truth: the survivors are the unique documents plus the lowest
  * id of each copy group and of each cluster. */
final class CleanCorpus(seed: Long, work: Path) extends ClosedLoop {
  private val rnd = new Random(seed)
  private val shard = work.resolve("in/shard.jsonl")
  private val outDir = work.resolve("out/survivors")
  private val cfg = Clean.Config()

  private val vocab: IndexedSeq[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 6000).map(_ => Seq.fill(3 + rnd.nextInt(6))(letters(rnd.nextInt(26))).mkString)
      .distinct
  }
  private def words(n: Int): Vector[String] = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))

  /** (docs as (id, text), survivor ids, planted counts) */
  private val (docs, survivors, planted) = {
    val groups = Seq.newBuilder[Seq[String]] // each group keeps one survivor
    // fixed lengths and counts: every seed plants the same amount of work
    val uniques = rnd.shuffle((0 until 900).map(i => 60 + (i * 37) % 100))
      .map(n => words(n).mkString(" "))
    val copied = uniques.take(80)
    groups ++= copied.zipWithIndex.map { case (t, i) => Seq.fill(2 + i % 2)(t) }
    groups ++= uniques.drop(80).map(Seq(_))
    def cluster(size: Int): Seq[String] = {
      val base = words(240)
      base.mkString(" ") +: Seq.fill(size - 1) {
        base.updated(2 + rnd.nextInt(236), vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
    }
    val clusters = Seq.fill(40)(cluster(4))
    groups ++= clusters
    groups ++= Seq(cluster(120))
    val short = (0 until 60).map(i => words(1 + i % 4).mkString(" "))
    val all = groups.result()
    val n = all.map(_.size).sum + short.size
    val ids = rnd.shuffle((0L until n).toVector)
    var next = 0
    def take(): Long = { next += 1; ids(next - 1) }
    val withIds = all.map(_.map(t => take() -> t))
    val shortIds = short.map(t => take() -> t)
    (withIds.flatten ++ shortIds, withIds.map(_.map(_._1).min).toSet,
      Map("exact_copies" -> copied.size, "clusters" -> (clusters.size + 1),
        "hot_cluster" -> 120, "short" -> short.size))
  }
  Fs.write(shard, docs.map { case (id, t) => s"""{"id":$id,"text":"$t"}""" }
    .mkString("", "\n", "\n"))

  val cycle = 1
  def kind(i: Int): String = "clean"
  def rows(i: Int): Long = docs.size
  // the JIT is still speeding requests up after two (measured: the
  // first timed request ~40% slower than the last at two warm-ups)
  override def warmUpRequests: Seq[Int] = 0 until 6

  private def read(spark: SparkSession) =
    spark.read.schema("id BIGINT, text STRING").json(shard.toString)

  def prepare(spark: SparkSession, i: Int): Unit = Fs.delete(outDir)

  def run(spark: SparkSession, i: Int, tracer: Option[Tracer]): Unit = tracer match {
    case None =>
      Clean.corpus(read(spark), "id", "text", cfg)
        .write.mode(SaveMode.Overwrite).parquet(outDir.toString)
    case Some(t) =>
      // Clean.corpus's stages, each materialized in its own span
      val gated = t.span("llm.gate") {
        read(spark).filter(Clean.qualityKeep(col("text"), cfg)).localCheckpoint()
      }
      val exact = t.span("llm.exact_dedup") {
        Dedup.dropExactDuplicates(gated, "id", "text").localCheckpoint()
      }
      t.span("llm.minhash", probe = true) {
        Dedup.signatureCatalog(exact, "id", "text", cfg.shingleK, cfg.numHashes)
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }
      val candidates = t.span("llm.lsh_probe", probe = true) {
        Dedup.candidatesFromSignatures(
          Dedup.signatureCatalog(exact, "id", "text", cfg.shingleK, cfg.numHashes),
          cfg.numHashes, cfg.bands, maxBucketSize = 1000, withEst = false).count()
      }
      t.span("llm.near_dup") {
        val pairs = Dedup.nearDuplicates(exact, "id", "text", cfg.nearDupThreshold,
          cfg.shingleK, cfg.numHashes, cfg.bands)
        val losers = pairs.select(col("id_b").as("__loser")).distinct()
        exact.join(losers, col("id") === col("__loser"), "left_anti")
          .write.mode(SaveMode.Overwrite).parquet(outDir.toString)
        val verified = pairs.count()
        t.record("llm.lsh_candidates", candidates.toDouble)
        t.record("llm.candidate_precision", verified.toDouble / math.max(1L, candidates))
      }
  }

  def check(spark: SparkSession, i: Int): Boolean =
    Truth.same("survivors", spark.read.parquet(outDir.toString).select("id")
      .collect().map(_.getLong(0)).toSet, survivors)

  override def window(spark: SparkSession, seconds: Double,
                      tracer: Option[Tracer]): Window = {
    val w = super.window(spark, seconds, tracer)
    w.copy(extra = w.extra ++ Map("shard" -> planted))
  }
}
