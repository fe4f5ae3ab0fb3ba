package graft

import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans for EVERY registered query so scan
  * pruning / join strategies / shuffle counts can be audited
  * (`sbt "runMain graft.PlanAudit" > plans.txt`). Pass query names to
  * restrict; default is the full registry, sorted.
  *
  * Plans are printed normalized ([[normalize]]), so two runs of one
  * commit print the same text and two commits can be diffed directly
  * (`tools/plan_diff.py` summarizes such a diff per query). */
object PlanAudit {

  /** Tokens that change from run to run although the plan does not:
    * expression ids, HOF lambda-variable suffixes (a session-wide
    * counter), AQE `plan_id`s, lambda class names/hashes, and RDD ids
    * with their call-site line numbers. */
  private val perRunTokens: Seq[(String, String)] = Seq(
    "#[0-9]+" -> "#N",
    "(lambda [A-Za-z]+)_[0-9]+" -> "$1_N",
    "plan_id=[0-9]+" -> "plan_id=P",
    "\\$\\$Lambda[^@\\s,)\\]]*@[0-9a-f]+" -> "\\$\\$Lambda",
    "\\[[0-9]+\\] at ([A-Za-z0-9_$]+) at ([A-Za-z0-9_$]+)\\.scala:[0-9]+" ->
      " at $1 at $2.scala")

  def normalize(plan: String): String =
    perRunTokens.foldLeft(plan) { case (s, (re, rep)) => s.replaceAll(re, rep) }

  /** The normalized formatted physical plan of one registry query. */
  def plan(spark: SparkSession, name: String, dir: String): String =
    normalize(SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val targets =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    targets.foreach { name =>
      println(s"\n========== $name ==========")
      try println(plan(spark, name, dir))
      catch { case e: Throwable =>
        println(s"PLAN FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
