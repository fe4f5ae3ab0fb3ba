package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked event-time windowing — the Structured Streaming
  * extension beyond the reference's queue plumbing (SURVEY §2.8: the
  * reference has no event-time processing; this is the engine's
  * forward-looking path for metric/telemetry tables like `events`).
  *
  * Late data beyond the watermark is dropped and state is bounded —
  * the property that makes the aggregation safe on an unbounded
  * 100 TB/day stream. */
object EventWindows {

  /** Tumbling-window counts/sums per key over a streaming source.
    *
    * @param events     streaming DataFrame with `ts` (timestamp),
    *                   `event_type`, `value`
    * @param windowSize e.g. "1 hour"
    * @param watermark  allowed lateness, e.g. "10 minutes"
    */
  def tumbling(events: DataFrame, windowSize: String = "1 hour",
               watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowSize), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("total"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
        col("event_type"), col("n"),
        col("total").cast("double").as("total"))

  /** Session windows per key: events closer than `gap` merge into one
    * session (Spark's native `session_window` — state closes when the
    * watermark passes a session's end + gap, so state stays bounded on
    * an unbounded stream). The streaming twin of the batch
    * gap-and-island sessionization (q_sessionize).
    *
    * @param events streaming DataFrame with a `ts` timestamp column
    *               (like [[tumbling]] — rename upstream if needed)
    * @param keyCol session grouping key */
  def sessions(events: DataFrame, keyCol: String, gap: String = "30 minutes",
               watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
}
