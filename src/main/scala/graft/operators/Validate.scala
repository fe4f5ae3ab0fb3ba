package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation (Deequ-style constraint suites):
  * a list of named checks over a table evaluated in ONE aggregation
  * pass — never a Spark job per constraint, which is how naive
  * validation harnesses turn a 10-constraint suite into 10 full scans
  * of a 100 TB table.
  *
  * Each check contributes one metric expression to a single wide
  * aggregate; the scalar result row is then unpivoted to one row per
  * constraint with `stack` (driver-free, still one job). Fraction
  * metrics are computed in exact integer counts and divided once at the
  * end, so the metric is reproducible on any engine/partitioning.
  *
  * `uniqueness` uses `count(DISTINCT col)`; multiple distinct
  * aggregates in one pass trigger Catalyst's Expand-based rewrite
  * (input multiplied by the number of distinct groups) — cheap for a
  * handful of constraints, so suites with many uniqueness checks on
  * huge tables should split them or switch to `approxUniqueness`.
  */
object Validate {

  /** One named constraint: a metric in [0,1] plus a pass predicate over
    * that metric (evaluated post-aggregation). */
  final case class Check(name: String, metric: Column, passAt: Double)

  /** Fraction of non-null values. */
  def completeness(c: String): Check =
    Check(s"completeness($c)", fraction(col(c).isNotNull), 1.0)

  /** Distinct values / total rows (1.0 = unique key). */
  def uniqueness(c: String): Check =
    Check(s"uniqueness($c)",
      perRow(countDistinct(col(c))), 1.0)

  /** Distinct/total via HLL — no Expand rewrite, ~2% error at p=12. */
  def approxUniqueness(c: String): Check =
    Check(s"approx_uniqueness($c)",
      perRow(approx_count_distinct(col(c))), 1.0)

  /** Fraction of values inside [lo, hi] (nulls fail). */
  def between(c: String, lo: Double, hi: Double): Check =
    Check(s"between($c,$lo,$hi)",
      fraction(col(c).isNotNull && col(c) >= lo && col(c) <= hi), 1.0)

  /** Fraction of values matching the regex. Keep patterns in the
    * RE2-compatible subset AND anchor ends with `\z`, not `$`: Java's
    * `$` matches before a final trailing newline while RE2's does not,
    * so a `$`-anchored suite silently disagrees with the DuckDB oracle
    * on values ending in `\n`. `\z` means end-of-text in both. */
  def matches(c: String, regex: String): Check =
    Check(s"matches($c)", fraction(col(c).rlike(regex)), 1.0)

  /** Fraction of values in the allowed set (nulls fail). */
  def isIn(c: String, allowed: Seq[String]): Check =
    Check(s"is_in($c)", fraction(col(c).isInCollection(allowed)), 1.0)

  private def fraction(pred: Column): Column =
    perRow(sum(when(pred, 1L).otherwise(0L)))

  /** `n` over the row count; NULL on an empty table (no rows, no
    * verdict). */
  private def perRow(n: Column): Column =
    try_divide(n.cast("double"), count(lit(1)))

  /** Run the suite: one row per check with columns
    * (constraint STRING, metric DOUBLE rounded 6dp, passed BOOLEAN).
    * `passed` compares the UNROUNDED metric to the threshold (metrics
    * are "fraction satisfying", thresholds lower bounds): rounding
    * first would report a 10M-row table with 4 violations as passed
    * (0.9999996 → 1.0) — the verdict must see every violation, the
    * display may round. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "empty constraint suite")
    val aggs = checks.zipWithIndex.map { case (c, i) => c.metric.as(s"_m$i") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = checks.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(c.name), round(col(s"_m$i"), 6),
        (col(s"_m$i") >= lit(c.passAt)).as(s"_p$i"))
    }
    one
      .select(stack((lit(checks.size) +: stackArgs): _*)
        .as(Seq("constraint", "metric", "passed")))
  }
}
