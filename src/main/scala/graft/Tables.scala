package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared table access + oracle-parity helpers.
  *
  * Every query in [[SparkEntry.queries]] is hash-compared by the driver
  * against DuckDB running the same ANSI SQL on the same parquet files, so
  * all floating-point aggregation goes through exact decimal arithmetic
  * and is only converted to double at the very end (after rounding).
  */
object Tables {
  /** Load one synthetic table (see /root/repo/TESTDATA.md), normalizing
    * timestamp physical types across testdata generations: a
    * TIMESTAMP(NANOS) events.ts arrives as a nanos long
    * (spark.sql.legacy.parquet.nanosAsLong) and is rebuilt with exact
    * integer arithmetic; a tz-less TIMESTAMP(MICROS) arrives as
    * TIMESTAMP_NTZ and is cast to TIMESTAMP (the session timezone is
    * pinned UTC everywhere, so the cast maps wall time to the same
    * epoch micros DuckDB sees — and keeps every downstream operator on
    * one timestamp type). */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) {
      case (acc, f) if f.dataType == org.apache.spark.sql.types.LongType &&
          (f.name == "ts" || f.name.endsWith("_ts")) && name == "events" =>
        acc.withColumn(f.name, expr(s"timestamp_micros(${f.name} div 1000)"))
      case (acc, f)
          if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        acc.withColumn(f.name, col(f.name).cast("timestamp"))
      case (acc, _) => acc
    }
  }

  /** Exact-money cast: double -> decimal(18,4). Decimal arithmetic is
    * exact and identical across Spark and DuckDB, unlike float sums whose
    * value depends on addition order. */
  def dec(c: Column): Column = c.cast("decimal(18,4)")

  /** Deterministic SUM of a money-like double column, emitted as double.
    * The decimal sum is exact; round(_, 2) then the cast to double are
    * both deterministic, so the bytes match the oracle. */
  def moneySum(c: Column): Column = round(sum(dec(c)), 2).cast("double")

  /** Matching DuckDB SQL fragment for [[moneySum]]. */
  def moneySumSql(expr: String): String =
    s"CAST(round(sum(CAST($expr AS DECIMAL(18,4))), 2) AS DOUBLE)"
}
