package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked event-time window aggregation — the streaming analog of
  * the batch groupBy aggregates (§2.4): counts/sums per (key, window)
  * that emit once the watermark passes the window end (Append mode), so
  * downstream sinks see each window exactly once, closed.
  *
  * Scale shape: identical to a batch groupBy on (key, window-bucket) —
  * partial aggregation map-side, one shuffle on the composite key.
  * State per open window per key, bounded by `horizon`: the watermark
  * both drops late data and lets the store evict closed windows, which
  * is what keeps a 100 TB/day stream's state finite.
  */
object StreamingWindowAgg {

  private def project(df: DataFrame, keys: Seq[String],
                      win: String): DataFrame =
    df.select(col(s"$win.start").as("window_start") +:
      col(s"$win.end").as("window_end") +: keys.map(col) :+
      col("n"): _*)

  /** Tumbling windows of `width` per key, counting events. */
  def tumblingCounts(events: DataFrame, eventTimeCol: String,
                     keys: Seq[String], width: String,
                     horizon: String): DataFrame =
    project(events.withWatermark(eventTimeCol, horizon)
      .groupBy(window(col(eventTimeCol), width).as("w") +: keys.map(col): _*)
      .agg(count(lit(1)).as("n")), keys, "w")

  /** Sliding windows (`width` every `slide`) per key: each event lands
    * in width/slide windows — the standard trailing-rate shape.
    */
  def slidingCounts(events: DataFrame, eventTimeCol: String,
                    keys: Seq[String], width: String, slide: String,
                    horizon: String): DataFrame =
    project(events.withWatermark(eventTimeCol, horizon)
      .groupBy(window(col(eventTimeCol), width, slide).as("w") +:
        keys.map(col): _*)
      .agg(count(lit(1)).as("n")), keys, "w")

  /** Session windows: events within `gap` of each other merge into one
    * session per key (dynamic window bounds — Spark's session_window
    * handles the merge in the state store).
    */
  def sessionCounts(events: DataFrame, eventTimeCol: String,
                    keys: Seq[String], gap: String,
                    horizon: String): DataFrame =
    project(events.withWatermark(eventTimeCol, horizon)
      .groupBy(session_window(col(eventTimeCol), gap).as("w") +:
        keys.map(col): _*)
      .agg(count(lit(1)).as("n")), keys, "w")
}
