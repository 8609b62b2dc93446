package graft.operators

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fight attribution: the range join that MERGES attributes of nearby
  * events (not just counts them), plus the conditional aggregation that
  * consumes the merged result.
  *
  * Reference: parse_fights_one_game (utils.py:541-580) back-fills each
  * kill event with enemies/victims taken from OTHER kill events within
  * ±15 s, and calc_participant_aggressiveness_and_judgment (utils.py:630)
  * then folds the merged fights into solo/skirmish/team win-loss ratios.
  *
  * The same range join as RangeJoin, planned by `plans.RangeJoinRewrite`
  * (no theta join), but the aggregation carries attribute merges
  * (count/max/sum of the joined side).
  */
object Fights {
  val WindowMicros: Long = 15L * 60 * 1000 * 1000

  /** Anchor ('error') events joined to that user's 'click' events within
    * ±W — the shared front half of both operators below. Columns: a_id,
    * a_user, a_ts, a_value, c_user, c_ts, c_value.
    */
  private def anchorClickPairs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val anchors = Tables
      .events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        unix_micros(col("ts")).as("a_ts"), col("value").as("a_value"))

    val nearby = Tables
      .events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_ts"), col("value").as("c_value"))

    val pairs = anchors.join(nearby,
      col("a_user") === col("c_user") &&
        col("c_ts") >= col("a_ts") - WindowMicros &&
        col("c_ts") <= col("a_ts") + WindowMicros)
    (anchors, pairs)
  }

  /** Per anchor (error event): merged attributes of that user's 'click'
    * events within ±15 min — involvement count, peak and total value.
    */
  def attrMerge(spark: SparkSession, dir: String): DataFrame = {
    val (anchors, pairs) = anchorClickPairs(spark, dir)
    val merged = pairs
      .groupBy(col("a_id"))
      .agg(
        count(lit(1)).as("n_clicks"),
        Num.round4(max(col("c_value"))).as("max_click"),
        Num.round4(sum(col("c_value"))).as("sum_click")
      )

    anchors
      .select(col("a_id").as("event_id"), col("a_user").as("user_id"))
      .join(merged.withColumnRenamed("a_id", "event_id"), Seq("event_id"), "left")
      .select(
        col("event_id"),
        col("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        col("max_click"),
        col("sum_click")
      )
      // The final sort's range-sampling pass re-ran the sort-merge
      // join; staging bounds it to a cache read.
      .transform(df => graft.Staging.sorted(df, "range_attr_merge_out", "event_id")())
  }

  /** Downstream conditional aggregation over the merged fights: per user,
    * solo (no nearby involvement) / skirmish (1-3) / team (4+) error
    * counts and their "win" splits (value >= 100), the exact shape of the
    * reference's aggressiveness/judgment ratios.
    */
  def outcomes(spark: SparkSession, dir: String): DataFrame = {
    val (anchors, pairs) = anchorClickPairs(spark, dir)
    val counts = pairs.groupBy(col("a_id")).agg(count(lit(1)).as("n_clicks"))

    val fights = anchors
      .select(col("a_id"), col("a_user"), col("a_value"))
      .join(counts, Seq("a_id"), "left")
      .withColumn("n_clicks", coalesce(col("n_clicks"), lit(0L)))
      .withColumn("kind",
        when(col("n_clicks") === 0, "solo")
          .when(col("n_clicks") <= 3, "skirmish")
          .otherwise("team"))
      .withColumn("win", when(col("a_value") >= 100, 1L).otherwise(0L))

    fights
      .groupBy(col("a_user").as("user_id"))
      .agg(
        sum(when(col("kind") === "solo", 1L).otherwise(0L)).as("solo_n"),
        sum(when(col("kind") === "solo", col("win")).otherwise(0L)).as("solo_wins"),
        sum(when(col("kind") === "skirmish", 1L).otherwise(0L)).as("skirmish_n"),
        sum(when(col("kind") === "skirmish", col("win")).otherwise(0L)).as("skirmish_wins"),
        sum(when(col("kind") === "team", 1L).otherwise(0L)).as("team_n"),
        sum(when(col("kind") === "team", col("win")).otherwise(0L)).as("team_wins")
      )
      .orderBy("user_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q_range_attr_merge", attrMerge _,
      """WITH a AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS a_ts, value FROM events WHERE event_type = 'error'
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS c_ts, value FROM events WHERE event_type = 'click'
        |), m AS (
        |  SELECT a.event_id, count(*) AS n_clicks,
        |    floor(max(c.value) * 10000 + 0.5) / 10000 AS max_click,
        |    floor(sum(c.value) * 10000 + 0.5) / 10000 AS sum_click
        |  FROM a JOIN c ON a.user_id = c.user_id
        |    AND c.c_ts >= a.a_ts - 900000000 AND c.c_ts <= a.a_ts + 900000000
        |  GROUP BY a.event_id
        |)
        |SELECT a.event_id, a.user_id, coalesce(m.n_clicks, 0) AS n_clicks, m.max_click, m.sum_click
        |FROM a LEFT JOIN m ON a.event_id = m.event_id
        |ORDER BY a.event_id""".stripMargin),
    Query("q_fight_outcomes", outcomes _,
      """WITH a AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS a_ts, value FROM events WHERE event_type = 'error'
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS c_ts FROM events WHERE event_type = 'click'
        |), m AS (
        |  SELECT a.event_id, count(*) AS n_clicks
        |  FROM a JOIN c ON a.user_id = c.user_id
        |    AND c.c_ts >= a.a_ts - 900000000 AND c.c_ts <= a.a_ts + 900000000
        |  GROUP BY a.event_id
        |), f AS (
        |  SELECT a.user_id,
        |    CASE WHEN coalesce(m.n_clicks, 0) = 0 THEN 'solo'
        |         WHEN coalesce(m.n_clicks, 0) <= 3 THEN 'skirmish'
        |         ELSE 'team' END AS kind,
        |    CASE WHEN a.value >= 100 THEN 1 ELSE 0 END AS win
        |  FROM a LEFT JOIN m ON a.event_id = m.event_id
        |)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN kind = 'solo' THEN 1 ELSE 0 END) AS BIGINT) AS solo_n,
        |  CAST(sum(CASE WHEN kind = 'solo' THEN win ELSE 0 END) AS BIGINT) AS solo_wins,
        |  CAST(sum(CASE WHEN kind = 'skirmish' THEN 1 ELSE 0 END) AS BIGINT) AS skirmish_n,
        |  CAST(sum(CASE WHEN kind = 'skirmish' THEN win ELSE 0 END) AS BIGINT) AS skirmish_wins,
        |  CAST(sum(CASE WHEN kind = 'team' THEN 1 ELSE 0 END) AS BIGINT) AS team_n,
        |  CAST(sum(CASE WHEN kind = 'team' THEN win ELSE 0 END) AS BIGINT) AS team_wins
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin)
  )
}
