package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: assign each event a per-key session id such
  * that consecutive events more than `gapSeconds` apart start a new
  * session. The classic log-analytics operator the reference's
  * dynamic-table stack would express as lag + conditional cumulative sum;
  * here it is exactly that — two window functions over ONE
  * Exchange+Sort (both windows share the same partitioning/ordering, so
  * Catalyst plans a single shuffle and a single sort).
  *
  * Scale: shuffles once on the session key (user), which is the natural
  * high-cardinality partitioner at 100 TB; per-key streams are processed
  * sequentially within a partition with no buffering beyond the window
  * frame (lag-1). Skewed power users are bounded by per-user event
  * counts, not corpus size; AQE skew-split covers pathological keys.
  *
  * Streaming analog: `streaming/StreamingWindowAgg.sessionCounts`
  * (event-time session windows with watermark eviction).
  */
object Sessionize {

  /** Adds `session_id` (1-based per key, ordered by `tsCol`, ties broken
    * by `tieBreak`) and `is_session_start`.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = (tsCol +: tieBreak).map(col)
    val w = Window.partitionBy(keyCol).orderBy(order: _*)
    val prevTs = lag(col(tsCol), 1).over(w)
    val newSession = when(prevTs.isNull
        .or(unix_micros(col(tsCol)) - unix_micros(prevTs) > gapSeconds * 1000000L),
      1L).otherwise(0L)
    df.withColumn("is_session_start", newSession === 1L)
      .withColumn("session_id",
        sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-session rollup: one row per (key, session_id) with start/end,
    * event count and an integral value sum (cents), hash-compare safe.
    */
  def sessionStats(df: DataFrame, keyCol: String, tsCol: String,
                   gapSeconds: Long, valueCol: String,
                   tieBreak: Seq[String] = Nil): DataFrame =
    sessionize(df, keyCol, tsCol, gapSeconds, tieBreak)
      .groupBy(col(keyCol), col("session_id"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(round(col(valueCol) * 100)).cast("long").as("value_cents"))
}
