package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-range join: for each anchor event, count that entity's events
  * within ±window. Written as the join it means (same user, other
  * event, |Δts| ≤ W); `plans.RangeJoinRewrite` plans it as an equi-join
  * on (user, time bucket) with the range as the refinement filter, not
  * as a quadratic theta join.
  *
  * Reference: utils.py:539-541 (fight events within ±15 s of each kill).
  */
object RangeJoin {
  val WindowMicros: Long = 15L * 60 * 1000 * 1000 // +-15 min on the events table

  def nearbyCounts(spark: SparkSession, dir: String): DataFrame = {
    val anchors = Tables
      .events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"), unix_micros(col("ts")).as("a_ts"))

    val events = Tables
      .events(spark, dir)
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), unix_micros(col("ts")).as("c_ts"))

    val matched = anchors
      .join(events,
        col("a_user") === col("c_user") &&
          col("c_id") =!= col("a_id") &&
          col("c_ts") >= col("a_ts") - WindowMicros &&
          col("c_ts") <= col("a_ts") + WindowMicros)
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_nearby"))

    // Left join back so anchors with zero nearby events keep count 0.
    anchors
      .select(col("a_id").as("event_id"))
      .join(matched.withColumnRenamed("a_id", "event_id"), Seq("event_id"), "left")
      .select(col("event_id"), coalesce(col("n_nearby"), lit(0L)).as("n_nearby"))
      // The final sort's range-sampling pass re-ran the sort-merge
      // join; staging bounds it to a cache read.
      .transform(df => graft.Staging.sorted(df, "range_join_out", "event_id")())
  }

  val queries: Seq[Query] = Seq(
    Query("q_range_join", nearbyCounts _,
      """SELECT a.event_id, count(b.event_id) AS n_nearby
        |FROM events a LEFT JOIN events b
        |  ON a.user_id = b.user_id AND b.event_id != a.event_id
        | AND epoch_us(b.ts) >= epoch_us(a.ts) - 900000000
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 900000000
        |WHERE a.event_type = 'error'
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin)
  )
}
