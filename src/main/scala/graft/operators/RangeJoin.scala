package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed time-range join: for each anchor event, count that entity's
  * events within ±window. A naive theta-join is a broadcast-nested-loop
  * (quadratic at scale); instead each anchor equi-joins on
  * (entity, time-bucket) against candidates exploded into the 3 adjacent
  * buckets, then refines the exact predicate — a plain shuffled hash join
  * with bounded fanout that AQE can skew-split.
  *
  * Reference: utils.py:539-541 (fight events within ±15 s of each kill).
  */
object RangeJoin {
  val WindowMicros: Long = 15L * 60 * 1000 * 1000 // +-15 min on the events table

  def nearbyCounts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))

    val anchors = Tables
      .events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"), unix_micros(col("ts")).as("a_ts"))
      .withColumn("bucket", floor(col("a_ts") / WindowMicros).cast("long"))

    // Candidates appear in their own bucket plus both neighbors, so every
    // anchor finds all rows within +-window via a single equi-join.
    val candidates = ev
      .withColumn("b0", floor(col("ts_us") / WindowMicros).cast("long"))
      .withColumn("bucket", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts_us").as("c_ts"), col("bucket"))

    val matched = anchors
      .join(candidates, col("a_user") === col("c_user") && anchors("bucket") === candidates("bucket"))
      .filter(
        col("c_id") =!= col("a_id") &&
          col("c_ts") >= col("a_ts") - WindowMicros &&
          col("c_ts") <= col("a_ts") + WindowMicros
      )
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
}
