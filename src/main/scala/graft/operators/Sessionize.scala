package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Gap-based sessionization: a new session starts when the gap to the
  * previous event of the same entity exceeds a threshold. One linear
  * window pass (lag → flag → running sum), partitioned per entity —
  * unlike the reference's O(n^2) in-Python fight merging.
  *
  * Reference: utils.py:586-627 (parse_fights_one_game merges kill events
  * within a 30 s window into one "fight").
  */
object Sessionize {
  val GapMicros: Long = 30L * 60 * 1000 * 1000 // 30 min for the events table

  def sessions(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val runningBrk = Window
      .partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .events(spark, dir)
      .select("user_id", "ts", "event_id")
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn(
        "brk",
        when(col("ts_us") - lag("ts_us", 1).over(byTime) > GapMicros, 1).otherwise(0)
      )
      .withColumn("session_id", sum("brk").over(runningBrk))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      // The groupBy shares the windows' user_id partitioning (no
      // exchange between), so the final sort's range-sampling pass
      // re-ran both window passes; staging bounds it to a cache read
      // (see Windows.runningSum).
      .transform(df => graft.Staging.sorted(df, "sessionize_out", "user_id", "session_id")())
  }

  /** Session-level features rolled up per user: the second stage of the
    * reference's fight analysis (per-fight groups → per-player fight
    * statistics). Same single user_id window pass as `sessions`, one
    * extra (tiny) per-user aggregate on top of the per-session frame —
    * no new fact-table shuffle. Averages use exact integer sums
    * (ms / event counts) so the result is engine- and
    * partitioning-stable.
    */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    // Millisecond grain end-to-end (order, gap, duration) so the oracle
    // computes the identical sessions even when micros differ within a ms.
    val byTime = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val runningBrk = Window
      .partitionBy("user_id")
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perSession = Tables
      .events(spark, dir)
      .select("user_id", "ts", "event_id")
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn(
        "brk",
        when(col("ts_ms") - lag("ts_ms", 1).over(byTime) > GapMicros / 1000, 1).otherwise(0)
      )
      .withColumn("session_id", sum("brk").over(runningBrk))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_ms").as("start_ms"),
        max("ts_ms").as("end_ms"))
    perSession
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        graft.Num.round4(sum("n_events").cast("double") / count(lit(1))).as("avg_session_events"),
        max("n_events").as("max_session_events"),
        graft.Num.round4(sum(col("end_ms") - col("start_ms")).cast("double")
          / (count(lit(1)) * lit(60000.0))).as("avg_session_minutes"))
      .transform(df => graft.Staging.sorted(df, "session_stats_out", "user_id")())
  }

  val queries: Seq[Query] = Seq(
    Query("q_sessionize", sessions _,
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id,
        |    count(CASE WHEN brk = 1 THEN 1 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g
        |)
        |SELECT user_id, session_id, count(*) AS n_events
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin),
    Query("q_session_stats", sessionStats _,
      """WITH g AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 1800000 THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id, ts_ms, event_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g
        |), per AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        |  FROM s GROUP BY user_id, session_id
        |)
        |SELECT user_id,
        |  count(*) AS n_sessions,
        |  floor(CAST(sum(n_events) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_session_events,
        |  max(n_events) AS max_session_events,
        |  floor(CAST(sum(end_ms - start_ms) AS DOUBLE) / (count(*) * 60000.0) * 10000 + 0.5) / 10000 AS avg_session_minutes
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin)
  )
}
