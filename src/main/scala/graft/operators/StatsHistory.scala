package graft.operators

import graft.{Num, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's most-executed composite analysis shape: one output
  * row per (player, lane) carrying lookback stats AND lane ranks AND the
  * player's current streak in a single query.
  * Reference: get_stats_history's tail (utils.py:960-987) joins the ~70
  * lookback stats to primary/secondary-lane argmax and streak counters.
  *
  * Plan shape (the part that matters at 100 TB): every event-level
  * window partitions by user_id, so the heavy stage is ONE shuffle of
  * the fact table on user_id; the lane grouping is a partial-agg
  * (map-side combine) on (user_id, event_type); the lane-rank window
  * then runs over the AGGREGATED frame (rows = users x types, several
  * orders of magnitude smaller than events), so its extra shuffle is
  * negligible by construction.
  */
object StatsHistory {

  private val WeekMs = 7L * 24 * 3600 * 1000

  /** Per-(user, lane≈event_type) composite:
    * n_events, exact lane average, 7-day-lookback average (relative to
    * the USER's latest event — "form coming into today's game"),
    * lane_rank (1 = primary lane by activity), and the user's current
    * win/loss streak (trailing run of value >= 100 / < 100).
    */
  def statsComposite(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    val byTimeDesc = Window.partitionBy("user_id").orderBy(col("ts_ms").desc, col("event_id").desc)
    // Event grain: everything per-user computed in one window partitioning.
    // v100: exact scaled-int sums (float window/group sums diverge from
    // DuckDB in the last ulp; values carry 2 decimals).
    val e = Windows.timedEvents(spark, dir, "user_id", "event_type", "event_id", "ts", "value")
      .withColumn("w", when(col("value") >= 100, 1).otherwise(0))
      .withColumn("rn", row_number().over(byTimeDesc).cast("long"))
      .withColumn("max_ts", max("ts_ms").over(byUser))
      .withColumn("last_w", max(when(col("rn") === 1, col("w"))).over(byUser))
    // Current streak: first position (from the most recent event,
    // counting backwards) whose win/loss state differs from the latest
    // event's state; no break => the whole history is one streak.
    val t = e
      .withColumn("brk", min(when(col("w") =!= col("last_w"), col("rn"))).over(byUser))
      .withColumn("n_user", count(lit(1)).over(byUser))
      .withColumn("in7d", col("ts_ms") > col("max_ts") - WeekMs)
    val lane = t
      .groupBy("user_id", "event_type")
      .agg(
        count(lit(1)).as("n_events"),
        Num.round4(sum("v100").cast("double") / (count(lit(1)) * lit(100.0))).as("avg_value"),
        when(sum(when(col("in7d"), 1L).otherwise(0L)) > 0,
          Num.round4(sum(when(col("in7d"), col("v100")).otherwise(0L)).cast("double")
            / (sum(when(col("in7d"), 1L).otherwise(0L)) * lit(100.0)))).as("avg_value_7d"),
        max(coalesce(col("brk"), col("n_user") + 1) - 1).as("cur_streak_len"),
        max("last_w").as("cur_streak_win")
      )
    // Rank runs over the aggregated (user x type) frame only.
    val rankW = Window.partitionBy("user_id").orderBy(col("n_events").desc, col("event_type").asc)
    lane
      .withColumn("lane_rank", row_number().over(rankW).cast("long"))
      .select("user_id", "event_type", "n_events", "avg_value", "avg_value_7d",
        "lane_rank", "cur_streak_len", "cur_streak_win")
      // The sampling pass re-ran the whole window+aggregate composite
      // above the user_id exchange.
      .transform(df => graft.Staging.sorted(df, "stats_history_out", "user_id", "lane_rank")())
  }

  val queries: Seq[Query] = Seq(
    Query("q_stats_history_composite", statsComposite _,
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100,
        |    CASE WHEN value >= 100 THEN 1 ELSE 0 END AS w
        |  FROM events
        |), u AS (
        |  SELECT *,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS BIGINT) AS rn,
        |    max(ts_ms) OVER (PARTITION BY user_id) AS max_ts
        |  FROM e
        |), s AS (
        |  SELECT *, max(CASE WHEN rn = 1 THEN w END) OVER (PARTITION BY user_id) AS last_w FROM u
        |), t AS (
        |  SELECT *,
        |    min(CASE WHEN w != last_w THEN rn END) OVER (PARTITION BY user_id) AS brk,
        |    count(*) OVER (PARTITION BY user_id) AS n_user
        |  FROM s
        |), lane AS (
        |  SELECT user_id, event_type,
        |    count(*) AS n_events,
        |    floor(CAST(sum(v100) AS DOUBLE) / (count(*) * 100.0) * 10000 + 0.5) / 10000 AS avg_value,
        |    CASE WHEN sum(CASE WHEN ts_ms > max_ts - 604800000 THEN 1 ELSE 0 END) > 0
        |      THEN floor(CAST(sum(CASE WHEN ts_ms > max_ts - 604800000 THEN v100 ELSE 0 END) AS DOUBLE)
        |           / (sum(CASE WHEN ts_ms > max_ts - 604800000 THEN 1 ELSE 0 END) * 100.0) * 10000 + 0.5) / 10000
        |      END AS avg_value_7d,
        |    max(coalesce(brk, n_user + 1) - 1) AS cur_streak_len,
        |    max(last_w) AS cur_streak_win
        |  FROM t GROUP BY user_id, event_type
        |)
        |SELECT user_id, event_type, n_events, avg_value, avg_value_7d,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC, event_type) AS BIGINT) AS lane_rank,
        |  cur_streak_len, cur_streak_win
        |FROM lane ORDER BY user_id, lane_rank""".stripMargin)
  )
}
