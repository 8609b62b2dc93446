package graft.sources

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SCD type-2 dimension history: the write-side twin of the
  * `q_latest_snapshot` read path. Maintains versioned
  * (key, value, valid_from, valid_to) rows from a stream of change
  * events, the lake analog of the reference's slowly-changing dim
  * upkeep (periodical_static_data_gathering.py:1-142 re-fetches game
  * versions/champions/items; utils.py:405-417 update_summoner_tier_history
  * appends a (summoner, tier, timestamp) timeline).
  *
  * Scale design: every operation here is keyed — the rebuild shuffles on
  * the dim key only, and `applyUpdates` touches ONLY keys present in the
  * update batch (semi/anti join split), so a small daily batch never
  * rewrites the full history. Dim tables are small relative to facts;
  * the update-batch side of the split is broadcast by AQE when small.
  */
object ScdHistory {

  /** Open-interval sentinel: 9999-12-31T23:59:59.999Z. A real max-date
    * sentinel (not NULL) keeps `valid_to` filterable with plain range
    * predicates that push down to parquet.
    */
  val OpenEnd = 253402300799999L

  /** Build SCD-2 history from raw change events: consecutive same-value
    * runs collapse to one version, `valid_to` of version n is
    * `valid_from` of version n+1, the live version carries OpenEnd.
    *
    * @param events  rows of (keyCols..., valueCol, tsMsCol, tieCols...)
    * @param tieCols deterministic order within equal timestamps
    * @return (keyCols..., version, valueCol, valid_from_ms, valid_to_ms)
    */
  def fromEvents(
      events: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tsMsCol: String,
      tieCols: Seq[String] = Nil
  ): DataFrame = {
    val order = (col(tsMsCol) +: tieCols.map(col)).map(_.asc)
    val byTime = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val changes = events
      .withColumn("__prev", lag(valueCol, 1).over(byTime))
      .filter(col("__prev").isNull || col("__prev") =!= col(valueCol))
    // Window over the change rows only (ranks/leads re-derived on the
    // filtered frame, not the raw events).
    val byChange = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    changes
      .withColumn("version", row_number().over(byChange).cast("long"))
      .withColumn("valid_from_ms", col(tsMsCol).cast("long"))
      .withColumn("valid_to_ms", coalesce(lead(col(tsMsCol), 1).over(byChange).cast("long"), lit(OpenEnd)))
      .select((keyCols.map(col) :+ col("version") :+ col(valueCol) :+ col("valid_from_ms") :+ col("valid_to_ms")): _*)
  }

  /** Versioned merge of an update batch into an existing SCD-2 table.
    *
    * Only keys present in `updates` are rebuilt: their history rows are
    * decomposed back into change events (valid_from is the change
    * timestamp; per-key valid_from is strictly increasing so no tie
    * column is needed), unioned with the new updates, collapsed to one
    * event per (key, instant), and re-derived. Untouched keys pass
    * through by anti-join — at scale this is a touched-partition
    * rewrite, never a full-history rewrite.
    *
    * Idempotent: re-applying the same batch is a no-op (duplicate
    * events collapse in the per-instant groupBy; same-value updates
    * collapse in the change filter). Deterministic: version numbering
    * depends only on the event set.
    *
    * Out-of-order caveat (inherent to any incremental SCD merge that
    * doesn't retain raw events): an update older than an existing
    * change point merges by total order, but a same-value RUN already
    * collapsed in `existing` cannot be re-split by a late event landing
    * inside it. Deliver batches in (approximate) event-time order, or
    * keep the raw change log and rebuild affected keys from it.
    *
    * @param existing (keyCols..., version, valueCol, valid_from_ms, valid_to_ms)
    * @param updates  (keyCols..., valueCol, ts_ms)
    * @param preferUpdates same-(key, instant) tie-break policy: false
    *                      (default) = max value wins — symmetric and
    *                      order-free; true = the UPDATE batch wins over
    *                      prior events (source-ranked max_by), so a
    *                      correction carrying a SMALLER value at an
    *                      existing instant can take effect. Both are
    *                      deterministic and idempotent (re-applying a
    *                      batch whose value already won changes nothing).
    *                      Corrections that must never depend on policy
    *                      should carry a newer timestamp instead.
    */
  def applyUpdates(
      existing: DataFrame,
      updates: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      preferUpdates: Boolean = false
  ): DataFrame = {
    val touched = updates.select(keyCols.map(col): _*).distinct()
    val untouched = existing.join(touched, keyCols, "left_anti")
    val priorEvents = existing
      .join(touched, keyCols, "left_semi")
      .select((keyCols.map(col) :+ col(valueCol) :+ col("valid_from_ms").as("ts_ms")): _*)
    // ONE event per (key, instant): two repair attempts at the same
    // timestamp carrying different values would otherwise both survive a
    // distinct(), producing a zero-width version whose order is the
    // VALUE, not arrival. max_by over (source rank, value) implements
    // both policies in one aggregate; duplicates also collapse here.
    val rank = if (preferUpdates) col("__src") else lit(0)
    val allEvents = priorEvents
      .withColumn("__src", lit(0))
      .unionByName(updates
        .select((keyCols.map(col) :+ col(valueCol) :+ col("ts_ms")): _*)
        .withColumn("__src", lit(1)))
      .groupBy((keyCols.map(col) :+ col("ts_ms")): _*)
      .agg(max_by(col(valueCol), struct(rank, col(valueCol))).as(valueCol))
      .select((keyCols.map(col) :+ col(valueCol) :+ col("ts_ms")): _*)
    untouched.unionByName(fromEvents(allEvents, keyCols, valueCol, "ts_ms"))
  }

  /** Declared query: SCD-2 history of each user's event_type over the
    * events table — one row per (user, run of equal consecutive types)
    * with validity interval and version number.
    */
  def scdHistory(spark: SparkSession, dir: String): DataFrame =
    fromEvents(
      Tables
        .events(spark, dir)
        .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ts_ms"), col("event_id")),
      keyCols = Seq("user_id"),
      valueCol = "event_type",
      tsMsCol = "ts_ms",
      tieCols = Seq("event_id")
      // The sampling pass re-ran the run-detection windows above the
      // user_id exchange (see Windows.runningSum).
    ).transform(df => graft.Staging.sorted(df, "scd_history_out", "user_id", "version")())

  val queries: Seq[Query] = Seq(
    Query("q_scd_history", (s, d) => scdHistory(s, d),
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_type
        |  FROM events
        |), c AS (
        |  SELECT user_id, event_type, ts_ms, event_id FROM e
        |  WHERE prev_type IS NULL OR prev_type != event_type
        |)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  event_type,
        |  ts_ms AS valid_from_ms,
        |  coalesce(lead(ts_ms) OVER w, 253402300799999) AS valid_to_ms
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |ORDER BY user_id, version""".stripMargin)
  )
}
