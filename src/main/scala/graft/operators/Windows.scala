package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Window / time-series operators. All windows partition by a
  * high-cardinality key (user_id) so the work parallelizes across
  * executors; there is no global single-partition window anywhere.
  */
object Windows {

  /** Running cumulative sum per entity ordered by event time.
    * Reference: utils.py:499-514 (effective_gold_spent accumulates over
    * the ITEM_* event stream in timestamp order).
    */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .events(spark, dir)
      .select("event_id", "user_id", "ts", "value")
      .withColumn("running_value", round(sum("value").over(w), 4))
      .select("event_id", "user_id", "running_value")
      // The final global sort's range-sampling pass re-runs everything
      // above the window's hash exchange — here and in every window
      // query below, that is the window sort+eval itself, the query's
      // whole cost. Staging the output-sized frame bounds the sampling
      // pass to a cache read. Re-audited r20 at the 1M-event decade
      // point (verdict item 5) against the plain-orderBy alternative:
      // staged wins 0.84 vs 1.11 s here and on every non-tie site in
      // this file (see Staging.sorted).
      .transform(df => graft.Staging.sorted(df, "window_running_out", "user_id", "event_id")())
  }

  /** Trailing moving average over the previous N rows.
    * Reference: find_recurrent_delta_across_n_games.py:175-195 (delta2/3/4
    * averages of the last 2/3/4 games).
    */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    def w(n: Int) =
      Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")).rowsBetween(-(n - 1), Window.currentRow)
    Tables
      .events(spark, dir)
      .select("event_id", "user_id", "ts", "value")
      .withColumn("avg2", round(avg("value").over(w(2)), 4))
      .withColumn("avg3", round(avg("value").over(w(3)), 4))
      .withColumn("avg4", round(avg("value").over(w(4)), 4))
      .select("event_id", "user_id", "avg2", "avg3", "avg4")
      .transform(df => graft.Staging.sorted(df, "window_moving_out", "user_id", "event_id")())
  }

  /** Longest win/loss streak per entity, gaps-and-islands in one linear
    * pass (two ranking windows + grouped count) instead of the
    * reference's per-row Python state machine.
    * Reference: utils.py:943-956 (consecutive_wins / consecutive_losses).
    */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    val byTime  = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val byState = Window.partitionBy("user_id", "w").orderBy(col("ts"), col("event_id"))
    Tables
      .events(spark, dir)
      .select("user_id", "ts", "event_id", "value")
      .withColumn("w", when(col("value") >= 100, 1).otherwise(0))
      .withColumn("grp", row_number().over(byTime) - row_number().over(byState))
      .groupBy("user_id", "w", "grp")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(
        max(when(col("w") === 1, col("len")).otherwise(0)).as("max_win_streak"),
        max(when(col("w") === 0, col("len")).otherwise(0)).as("max_loss_streak")
      )
      // The two groupBys share the window's user_id partitioning (no
      // exchange between), so the sampling pass re-ran both ranking
      // windows; see runningSum.
      .transform(df => graft.Staging.sorted(df, "streaks_out", "user_id")())
  }

  /** Time-bounded lookback aggregate: for every event, the average over
    * that user's events in the preceding 7 days (exclusive of now).
    * RANGE frame over epoch-millis; at scale this stays a single shuffle
    * on user_id. Reference: utils.py:851-857 (weekly lookback windows,
    * end_time offset to exclude the current match).
    *
    * Rounding uses Num.round4 (floor(x*1e4+0.5)/1e4) with the identical
    * formula in the oracle SQL: plain round() diverges between engines at
    * half-way doubles (Spark BigDecimal HALF_UP vs DuckDB float-scaled).
    */
  def asofLookback(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("user_id")
      .orderBy(col("ts_ms"))
      .rangeBetween(-7L * 24 * 3600 * 1000, -1)
    // avg over EXACT scaled-integer sums (values are 2-decimal by
    // schema): a double window-avg diverges between engines in the low
    // bits — large RANGE frames go through DuckDB's segment-tree
    // aggregation, whose association order differs from Spark's frame
    // accumulation, and at sf0.1 16 of ~100k rows landed on the 4dp
    // rounding boundary (sf0.01 never hit one; found by the r12
    // sf0.1 cross-engine sweep). sum(v100)/(100·n) divides the SAME
    // exact int64 operands in both engines → bit-identical IEEE result.
    Tables
      .events(spark, dir)
      .select("event_id", "user_id", "ts", "value")
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("v100", floor(col("value") * 100 + 0.5).cast("long"))
      .withColumn("avg_7d",
        graft.Num.round4(
          sum("v100").over(w).cast("double") / (count("v100").over(w) * lit(100.0))))
      .select("event_id", "user_id", "avg_7d")
      .transform(df => graft.Staging.sorted(df, "asof_lookback_out", "event_id")())
  }

  /** Event-type transition counts: for each user-ordered event pair,
    * count (previous type → type) occurrences and the per-source
    * transition share — the sequence statistics a timeline model trains
    * on. One lag window per user + one grouped count; share computed
    * from exact integer counts.
    * Reference: the timeline event sequences consumed by
    * parse_fights_one_game / match_modeling feature prep.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables
      .events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("prev_type", lag("event_type", 1).over(byTime))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy("prev_type")
    pairs
      .withColumn("share", graft.Num.round4(col("n").cast("double") / sum("n").over(totals)))
      .select("prev_type", "event_type", "n", "share")
      .orderBy("prev_type", "event_type")
  }

  /** Latest snapshot per key: the SCD "current view" — each user's most
    * recent event. One ranking window partitioned by the key.
    * Reference: update_summoner_tier_history (utils.py:405) keeps a tier
    * timeline; every read wants the current tier.
    */
  def latestSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    Tables
      .events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value")
      // The sampling pass re-ran the rank window + WindowGroupLimit
      // over the events scan; the output is key-sized.
      .transform(df => graft.Staging.sorted(df, "latest_snapshot_out", "user_id")())
  }

  /** Multi-horizon trailing lookback: for every event, that user's
    * average and count over THREE trailing windows (7/14/21 days,
    * exclusive of now) plus a same-type 7-day split — the reference
    * computes ~70 such stats over three weekly windows and per-lane
    * splits in one pass per player. All four frames share the same
    * partition key, so Spark evaluates them with ONE shuffle on user_id
    * (plus one on (user_id, event_type) for the split).
    * Reference: get_stats_history (utils.py:736-860).
    */
  def multiWindowLookback(spark: SparkSession, dir: String): DataFrame = {
    def trailing(days: Int) = Window
      .partitionBy("user_id")
      .orderBy(col("ts_ms"))
      .rangeBetween(-days.toLong * 24 * 3600 * 1000, -1)
    val byType = Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts_ms"))
      .rangeBetween(-7L * 24 * 3600 * 1000, -1)
    // Averages via EXACT integer window sums: values carry 2 decimals, so
    // sum(value*100 as long) is association-order-independent — float
    // window sums disagree with DuckDB's segment-tree accumulation in the
    // last ulp once frames grow past its leaf size.
    def exactAvg(w: org.apache.spark.sql.expressions.WindowSpec) =
      graft.Num.round4(sum("v100").over(w).cast("double") / (count(lit(1)).over(w) * lit(100.0)))
    Tables
      .events(spark, dir)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("v100", floor(col("value") * 100 + 0.5).cast("long"))
      .withColumn("avg_7d", exactAvg(trailing(7)))
      .withColumn("avg_14d", exactAvg(trailing(14)))
      .withColumn("avg_21d", exactAvg(trailing(21)))
      .withColumn("n_7d", count(lit(1)).over(trailing(7)))
      .withColumn("avg_7d_type", exactAvg(byType))
      .select("event_id", "user_id", "avg_7d", "avg_14d", "avg_21d", "n_7d", "avg_7d_type")
      .transform(df => graft.Staging.sorted(df, "lookback_multiwindow_out", "event_id")())
  }

  /** Pre-flight stats availability: for every event, how much usable
    * history the user has under each predicate filter BEFORE any history
    * computation runs — total trailing counts at two horizons, a
    * same-type split, and two conditional counts. The reference walks
    * weekly matchlist pages and counts matches per filter
    * (get_stats_availability, utils.py:990-1099: total / in-role /
    * as-champion / with-spells / with-runes, skipping remakes); here the
    * five counters are CASE-counts over the SAME trailing windows as
    * multiWindowLookback — the user_id frames share one shuffle, the
    * same-type frame one more on (user_id, event_type).
    *
    * Counts over an empty frame are 0, not NULL (a player with no
    * history has zero available matches).
    */
  def statsAvailability(spark: SparkSession, dir: String): DataFrame = {
    def trailing(days: Int) = Window
      .partitionBy("user_id")
      .orderBy(col("ts_ms"))
      .rangeBetween(-days.toLong * 24 * 3600 * 1000, -1)
    val byType = Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts_ms"))
      .rangeBetween(-7L * 24 * 3600 * 1000, -1)
    def condCount(cond: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
      coalesce(sum(when(cond, 1L).otherwise(0L)).over(w), lit(0L))
    Tables
      .events(spark, dir)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("n_7d", count(lit(1)).over(trailing(7)))
      .withColumn("n_21d", count(lit(1)).over(trailing(21)))
      .withColumn("n_high_7d", condCount(col("value") >= 100, trailing(7)))
      .withColumn("n_counted_7d", condCount(col("value") >= 10, trailing(7)))
      .withColumn("n_same_type_7d", count(lit(1)).over(byType))
      .select("event_id", "user_id", "n_7d", "n_21d", "n_high_7d", "n_counted_7d", "n_same_type_7d")
      .transform(df => graft.Staging.sorted(df, "stats_availability_out", "event_id")())
  }

  /** Recurrent-delta training frame: per (user, event_type) sequence,
    * the current value as the TARGET alongside trailing averages of the
    * n strictly-PRECEDING events (n = 2, 3, 4), NULL until n
    * predecessors exist — the feature/target split a trainer consumes
    * directly, distinct from movingAvg's current-inclusive smoothing.
    * Reference: find_recurrent_delta_across_n_games.py:173-195 builds
    * delta2/3/4 trailing k/d/a averages per (player, lane_role) history
    * and emits them beside each match's own stats, gated on enough
    * history existing. All three frames share one (user_id, event_type)
    * shuffle and sort; averages use exact integer sums (see
    * multiWindowLookback).
    */
  def recurrentDelta(spark: SparkSession, dir: String): DataFrame = {
    def lastN(n: Int) = Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(-n, -1)
    def delta(n: Int) =
      when(
        count(lit(1)).over(lastN(n)) === n,
        graft.Num.round4(sum("v100").over(lastN(n)).cast("double") / lit(n * 100.0)))
    Tables
      .events(spark, dir)
      .select("event_id", "user_id", "event_type", "ts", "value")
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("v100", floor(col("value") * 100 + 0.5).cast("long"))
      .withColumn("delta2", delta(2))
      .withColumn("delta3", delta(3))
      .withColumn("delta4", delta(4))
      .select("event_id", "user_id", "event_type", "value", "delta2", "delta3", "delta4")
      .transform(df => graft.Staging.sorted(df, "recurrent_delta_out", "event_id")())
  }

  /** Exact interpolated percentiles per group (oracle-matched); the 100TB
    * path swaps in approx_percentile with identical call shape.
    * Reference: stat distribution summaries over match history.
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99")
      )
      .orderBy("event_type")

  /** Bucket count of the fixed-grid histogram quantile (state bound
    * per group; error bound = (hi-lo)/ApproxBuckets).
    */
  val ApproxBuckets = 4096

  /** The 100 TB variant of percentiles: a fixed-grid integer bucket
    * histogram over the centi-scaled value domain (r16 — replaces the
    * Greenwald-Khanna `approx_percentile` sketch, whose summary STATE
    * depends on insertion/merge order and therefore could never be
    * oracle-replayed). Per-bucket counts form a commutative monoid:
    * mergeable in any order, deterministic at any parallelism, and
    * cross-engine replayable, so this row is rows+schema+hash
    * oracle-backed. Shape: a tiny per-group (lo, hi, n) aggregate
    * broadcast back to the fact scan, then (group, bucket) counts with
    * map-side partial aggregation — per-group state <= ApproxBuckets
    * rows BY CONSTRUCTION (bucket width w = (hi-lo) div B + 1 in exact
    * centi-int arithmetic; values are 2-decimal so the x100 scaling is
    * lossless). quantile(q) = midpoint of the first bucket whose
    * cumulative count reaches ceil(q*n) — ranks computed in integer
    * arithmetic ((a*n + b) div b), no float rank boundaries. Absolute
    * error <= w/100, asserted vs the exact operator in the spec.
    * Reference: stat distribution summaries over match history.
    */
  def percentilesApprox(spark: SparkSession, dir: String): DataFrame = {
    val sv = Tables
      .events(spark, dir)
      .select(col("event_type"), expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("sv"))
    val stats = sv
      .groupBy("event_type")
      .agg(min("sv").as("lo"), max("sv").as("hi"), count(lit(1)).as("n"))
      .withColumn("w", expr(s"(hi - lo) div $ApproxBuckets + 1"))
    val counts = sv
      .join(broadcast(stats), "event_type")
      .groupBy(col("event_type"), col("lo"), col("w"), col("n"),
        expr("(sv - lo) div w").as("bucket"))
      .agg(count(lit(1)).as("c"))
    // The cumulative window runs over the <= ApproxBuckets-rows-per-
    // group histogram, never the fact table.
    val cum = counts.withColumn(
      "cc", sum("c").over(Window.partitionBy("event_type").orderBy("bucket")))
    def pick(rankExpr: String): Column =
      min(when(col("cc") >= expr(rankExpr), col("bucket")))
    def est(b: String): Column =
      graft.Num.round4(expr(s"CAST(lo + $b * w + w div 2 AS DOUBLE) / 100.0"))
    cum
      .groupBy("event_type", "lo", "w", "n")
      .agg(
        pick("(1 * n + 1) div 2").as("b50"),
        pick("(9 * n + 9) div 10").as("b90"),
        pick("(99 * n + 99) div 100").as("b99"))
      .select(
        col("event_type"),
        est("b50").as("p50"),
        est("b90").as("p90"),
        est("b99").as("p99"))
      // The cumulative window + final aggregate sit above the histogram
      // exchange with no boundary before the output sort — the sampling
      // pass re-ran them; see runningSum.
      .transform(df => graft.Staging.sorted(df, "percentiles_approx_out", "event_type")())
  }

  /** Global z-score normalization `(x - mean) / (2 * stddev_pop)`:
    * a tiny aggregate broadcast back to the fact table (no single-
    * partition global window). Reference: proto_data_analysis.py:50-74
    * normalize_x.
    */
  def zscoreNormalize(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_linenumber", "l_extendedprice")
    val stats = li.agg(
      avg("l_extendedprice").as("mu"),
      stddev_pop("l_extendedprice").as("sigma")
    )
    // The conditionless join of a keyless aggregate plans as a 1-row
    // IdentityBroadcast nested-loop — the same shape Spark gives scalar
    // subqueries. Safe at any scale (build side is exactly one row);
    // the plan gate bans only *unbounded* nested-loop joins.
    li.join(broadcast(stats))
      .withColumn("znorm", graft.Num.round4((col("l_extendedprice") - col("mu")) / (lit(2.0) * col("sigma"))))
      .select("l_orderkey", "l_linenumber", "znorm")
      // (l_orderkey, l_linenumber) is NOT unique in this data; znorm added
      // to the sort (here and in the oracle) for a total, hash-stable order.
      // Bare orderBy, not Staging.sorted: the pre-sort frame is
      // lineitem-cardinality, and staging it measured 0.73 → 1.23 s at
      // sf0.1/32c; the sampler's double-run is one extra scan +
      // broadcast-join of cheap arithmetic. Range-sorting the input
      // first doesn't apply: znorm is a computed sort key.
      .orderBy("l_orderkey", "l_linenumber", "znorm")
  }

  /** Fixed-width histogram over a value column.
    * Reference: monitor request-rate views (monitor/views/ratelimit.py).
    */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .select(floor(col("value") / 50).cast("int").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Hierarchical ROLLUP totals (partial-agg friendly).
    * Reference: per-region and overall gathering totals in the monitor.
    */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .select("c_nationkey", "c_acctbal")
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")),
            col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).select("r_regionkey", "r_name")),
            col("n_regionkey") === col("r_regionkey"))
      // rollup MUST get untagged functions.col refs: the String overload
      // goes through Dataset.col, whose dataset-id-tagged references trip
      // DetectAmbiguousSelfJoin once Expand duplicates the grouping attrs.
      .select(col("r_name").as("rname"), col("n_name").as("nname"), col("c_acctbal"))
      .rollup(col("rname"), col("nname"))
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("sum_acctbal"))
      .na.fill("ALL", Seq("rname", "nname"))
      .orderBy("rname", "nname")

  val queries: Seq[Query] = Seq(
    Query("q_window_running", runningSum _,
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin),
    Query("q_window_moving", movingAvg _,
      """SELECT event_id, user_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), 4) AS avg2,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg3,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS avg4
        |FROM events ORDER BY user_id, event_id""".stripMargin),
    Query("q_streaks", streaks _,
      """WITH seq AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN value >= 100 THEN 1 ELSE 0 END AS w,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), isl AS (
        |  SELECT user_id, w,
        |    rn - row_number() OVER (PARTITION BY user_id, w ORDER BY ts, event_id) AS grp
        |  FROM seq
        |), runs AS (
        |  SELECT user_id, w, grp, count(*) AS len FROM isl GROUP BY user_id, w, grp
        |)
        |SELECT user_id,
        |  max(CASE WHEN w = 1 THEN len ELSE 0 END) AS max_win_streak,
        |  max(CASE WHEN w = 0 THEN len ELSE 0 END) AS max_loss_streak
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_asof_lookback", asofLookback _,
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  floor((CAST(sum(v100) OVER w AS DOUBLE) / (count(v100) OVER w * 100.0)) * 10000 + 0.5) / 10000 AS avg_7d
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |  RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin),
    Query("q_event_transitions", eventTransitions _,
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |), pairs AS (
        |  SELECT prev_type, event_type, count(*) AS n
        |  FROM seq WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type
        |)
        |SELECT prev_type, event_type, n,
        |  floor(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) * 10000 + 0.5) / 10000 AS share
        |FROM pairs ORDER BY prev_type, event_type""".stripMargin),
    Query("q_latest_snapshot", latestSnapshot _,
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin),
    Query("q_lookback_multiwindow", multiWindowLookback _,
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  floor(CAST(sum(v100) OVER w7 AS DOUBLE) / (count(*) OVER w7 * 100.0) * 10000 + 0.5) / 10000 AS avg_7d,
        |  floor(CAST(sum(v100) OVER w14 AS DOUBLE) / (count(*) OVER w14 * 100.0) * 10000 + 0.5) / 10000 AS avg_14d,
        |  floor(CAST(sum(v100) OVER w21 AS DOUBLE) / (count(*) OVER w21 * 100.0) * 10000 + 0.5) / 10000 AS avg_21d,
        |  count(*) OVER w7 AS n_7d,
        |  floor(CAST(sum(v100) OVER wt AS DOUBLE) / (count(*) OVER wt * 100.0) * 10000 + 0.5) / 10000 AS avg_7d_type
        |FROM e
        |WINDOW
        |  w7 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING),
        |  w14 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 1209600000 PRECEDING AND 1 PRECEDING),
        |  w21 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 1814400000 PRECEDING AND 1 PRECEDING),
        |  wt AS (PARTITION BY user_id, event_type ORDER BY ts_ms RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin),
    Query("q_stats_availability", statsAvailability _,
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value FROM events
        |)
        |SELECT event_id, user_id,
        |  count(*) OVER w7 AS n_7d,
        |  count(*) OVER w21 AS n_21d,
        |  CAST(coalesce(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) OVER w7, 0) AS BIGINT) AS n_high_7d,
        |  CAST(coalesce(sum(CASE WHEN value >= 10 THEN 1 ELSE 0 END) OVER w7, 0) AS BIGINT) AS n_counted_7d,
        |  count(*) OVER wt AS n_same_type_7d
        |FROM e
        |WINDOW
        |  w7 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING),
        |  w21 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 1814400000 PRECEDING AND 1 PRECEDING),
        |  wt AS (PARTITION BY user_id, event_type ORDER BY ts_ms RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin),
    Query("q_recurrent_delta", recurrentDelta _,
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
        |  FROM events
        |)
        |SELECT event_id, user_id, event_type, value,
        |  CASE WHEN count(*) OVER w2 = 2
        |    THEN floor(CAST(sum(v100) OVER w2 AS DOUBLE) / 200.0 * 10000 + 0.5) / 10000 END AS delta2,
        |  CASE WHEN count(*) OVER w3 = 3
        |    THEN floor(CAST(sum(v100) OVER w3 AS DOUBLE) / 300.0 * 10000 + 0.5) / 10000 END AS delta3,
        |  CASE WHEN count(*) OVER w4 = 4
        |    THEN floor(CAST(sum(v100) OVER w4 AS DOUBLE) / 400.0 * 10000 + 0.5) / 10000 END AS delta4
        |FROM e
        |WINDOW
        |  w2 AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
        |  w3 AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
        |  w4 AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin),
    Query("q_percentiles", percentiles _,
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // r16 graduation: the fixed-grid integer bucket histogram replays
    // exactly — centi-int scaling is lossless on the 2-decimal domain,
    // bucket width / ranks are pure integer arithmetic, and the
    // midpoint estimate is one int/100.0 division + round4 (identical
    // IEEE ops both engines). `//` is DuckDB integer floor-division =
    // Spark `div` on the nonnegative operands used here.
    Query("q_percentiles_approx", percentilesApprox _,
      s"""WITH sv AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS sv FROM events
        |), st AS (
        |  SELECT event_type, min(sv) AS lo, max(sv) AS hi, count(*) AS n,
        |         (max(sv) - min(sv)) // $ApproxBuckets + 1 AS w
        |  FROM sv GROUP BY event_type
        |), bk AS (
        |  SELECT s.event_type, t.lo, t.w, t.n, (s.sv - t.lo) // t.w AS bucket, count(*) AS c
        |  FROM sv s JOIN st t USING (event_type)
        |  GROUP BY 1, 2, 3, 4, 5
        |), cum AS (
        |  SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cc FROM bk
        |), sel AS (
        |  SELECT event_type, lo, w,
        |         min(CASE WHEN cc >= (1 * n + 1) // 2 THEN bucket END) AS b50,
        |         min(CASE WHEN cc >= (9 * n + 9) // 10 THEN bucket END) AS b90,
        |         min(CASE WHEN cc >= (99 * n + 99) // 100 THEN bucket END) AS b99
        |  FROM cum GROUP BY 1, 2, 3
        |)
        |SELECT event_type,
        |  ${graft.Num.round4Sql("CAST(lo + b50 * w + w // 2 AS DOUBLE) / 100.0")} AS p50,
        |  ${graft.Num.round4Sql("CAST(lo + b90 * w + w // 2 AS DOUBLE) / 100.0")} AS p90,
        |  ${graft.Num.round4Sql("CAST(lo + b99 * w + w // 2 AS DOUBLE) / 100.0")} AS p99
        |FROM sel ORDER BY event_type""".stripMargin),
    Query("q_zscore_normalize", zscoreNormalize _,
      """SELECT l_orderkey, l_linenumber,
        |  floor((l_extendedprice - avg(l_extendedprice) OVER ())
        |        / (2 * stddev_pop(l_extendedprice) OVER ()) * 10000 + 0.5) / 10000 AS znorm
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, znorm""".stripMargin),
    Query("q_histogram", histogram _,
      """SELECT CAST(floor(value / 50) AS INT) AS bucket, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("q_rollup", rollupAgg _,
      """SELECT coalesce(r_name, 'ALL') AS rname, coalesce(n_name, 'ALL') AS nname,
        |  count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY rname, nname""".stripMargin)
  )
}
