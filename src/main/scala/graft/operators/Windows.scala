package graft.operators

import graft.Tables
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
}
