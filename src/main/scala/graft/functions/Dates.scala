package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.GraftFunctions.call

/** F1 `extract_dates` — filename → (start, end, single) datetimes.
  *
  * Semantics mirror the reference's strategy cascade
  * (`lambdas/build-stac/utils/regex.py:30-83`): four regex+format
  * strategies tried in order, the first one with ANY hits wins; >1 hit ⇒
  * (min, max) range; exactly 1 hit ⇒ single datetime, optionally widened
  * to a month/year range (`regex.py:12-27`); 0 hits ⇒ the reference
  * raises — here the struct is NULL so callers route failures to a
  * quarantine/DLQ sink instead of killing the job (see
  * [[graft.operators.Publish]]).
  *
  * The cascade is one codegen'd Catalyst expression
  * ([[graft.expr.ExtractDatesExpr]]) — no UDF — so it stays inside
  * WholeStageCodegen and is pushed around freely by Catalyst.
  */
object Dates {

  /** `struct<start_datetime, end_datetime, single_datetime>` — exactly
    * one of (start+end) or single is set; whole struct NULL when no date
    * is found (reference raises). Evaluated by the native single-pass
    * [[graft.expr.ExtractDatesExpr]] (SURVEY §7.3's nominated custom
    * expression).
    *
    * @param datetimeRange NULL, "month" or "year" — widens a single hit
    *                      to a range (`regex.py:24-27`).
    */
  def extractDates(filename: Column, datetimeRange: Column): Column =
    call("extract_dates", filename, datetimeRange)

  /** Convenience overload for a constant range config. */
  def extractDates(filename: Column, datetimeRange: Option[String]): Column =
    extractDates(filename, datetimeRange.map(lit).getOrElse(lit(null: String)))

  /** F5: serialize as `%Y-%m-%dT%H:%M:%SZ` (reference `stac.py:145-146`). */
  def stacDatetime(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
}
