package graft

import graft.operators.Validate
import graft.operators.Validate._

/** One-pass constraint suites ([[graft.operators.Validate]]). */
class ValidateSpec extends SparkSuite {
  import spark.implicits._

  private lazy val df = Seq(
    (Some(1), Some("a@x.com"), "click", 10.0),
    (Some(2), Some("b@x.com"), "view", 20.0),
    (Some(2), None, "view", -5.0),
    (None, Some("nope"), "weird", 2000.0)
  ).toDF("id", "email", "etype", "v")

  private def metrics(checks: Seq[Check]): Map[String, (Double, Boolean)] =
    Validate.run(df, checks).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap

  test("completeness counts non-null fraction") {
    val m = metrics(Seq(completeness("id"), completeness("etype")))
    assert(m("completeness(id)") == ((0.75, false)))
    assert(m("completeness(etype)") == ((1.0, true)))
  }

  test("uniqueness is distinct/total; null counts toward total") {
    val m = metrics(Seq(uniqueness("id")))
    // distinct non-null ids {1,2} over 4 rows = 0.5
    assert(m("uniqueness(id)") == ((0.5, false)))
  }

  test("between fails nulls and out-of-range; is_in checks the domain") {
    val m = metrics(Seq(between("v", 0.0, 100.0),
      isIn("etype", Seq("click", "view"))))
    assert(m("between(v,0.0,100.0)") == ((0.5, false)))
    assert(m("is_in(etype)") == ((0.75, false)))
  }

  test("matches applies an anchored regex") {
    val m = metrics(Seq(matches("email", "^[a-z]+@[a-z.]+$")))
    assert(m("matches(email)")._1 == 0.5) // null fails, 'nope' has no '@'
  }

  test("\\z end anchor rejects a trailing newline (the RE2-parity form)") {
    val d = Seq("{\"a\":1}", "{\"a\":1}\n").toDF("props")
    val m = Validate.run(d, Seq(matches("props", "^\\{.*\\}\\z")))
      .collect().head.getDouble(1)
    assert(m == 0.5, s"only the newline-free value should match, got $m")
  }

  test("suite runs as ONE aggregation job (single stack row source)") {
    val out = Validate.run(df, Seq(completeness("id"), uniqueness("id"),
      between("v", 0.0, 100.0)))
    // all constraints present, one row each
    assert(out.count() == 3)
    val plan = out.queryExecution.executedPlan.toString()
    // a per-constraint-job implementation would show several scans
    assert(plan.split("LocalTableScan|Scan ").length <= 3)
  }

  test("approxUniqueness stays within HLL error of exact") {
    val m = metrics(Seq(approxUniqueness("id")))
    val est = m("approx_uniqueness(id)")._1
    assert(est > 0.4 && est < 0.6)
  }

  test("empty suite is rejected") {
    intercept[IllegalArgumentException](Validate.run(df, Seq.empty))
  }

  test("verdict sees the unrounded metric (display may round to 1.0)") {
    // a 4-per-10M violation rate: displays as 1.0 but must NOT pass
    val check = Check("t", org.apache.spark.sql.functions.lit(0.9999996), 1.0)
    val row = Validate.run(df, Seq(check)).collect().head
    assert(row.getDouble(1) == 1.0 && !row.getBoolean(2),
      s"metric ${row.getDouble(1)} passed ${row.getBoolean(2)}")
  }

  test("an empty table gives NULL metrics and no verdict, not a " +
    "division by zero") {
    val rows = Validate.run(df.limit(0), Seq(completeness("id"),
      uniqueness("id"), approxUniqueness("id"), between("v", 0.0, 1.0)))
      .collect()
    assert(rows.length == 4)
    rows.foreach(r => assert(r.isNullAt(1) && r.isNullAt(2), r))
  }
}
