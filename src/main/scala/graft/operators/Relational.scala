package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational core operators. Each mirrors a query shape from the
  * reference's ETL/analysis layer (file:line cited per method), expressed
  * as a declarative Spark plan so Catalyst handles pushdown/pruning and
  * the physical join strategy.
  */
object Relational {

  /** Repair-style scan: filter + project, both pushed to the parquet
    * reader. Reference: periodical_data_repair.py:31
    * (get_incomplete_records scans for records needing work).
    */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(col("l_returnflag") === "R" && col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
      // (l_orderkey, l_linenumber) is not unique in this data — order by
      // all projected columns (here and in the oracle) for hash stability.
      // Identity projection: `sorted` picks between a persist and a
      // second pushed-filter scan for the range sampler.
      .transform(df => graft.Staging.sorted(df, "filter_project_out",
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")())

  /** Grouped aggregation with map-side partial agg (TPC-H Q1 shape).
    * Reference: utils.py:983-986 (per-stat averages over match history).
    */
  def aggGroup(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** Fact-to-dim broadcast join: the dim never forces a shuffle of the
    * fact side. Reference: models.py:85 (HistoricalMatch → Region FK).
    */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .select("c_nationkey", "c_acctbal")
      .join(broadcast(Tables.nation(spark, dir).select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("sum_acctbal"))
      .orderBy("n_name")

  /** Multi-way join + aggregation (full TPC-H Q5 shape, including the
    * supplier co-nation predicate). Reference: cross-entity rollups
    * across HistoricalMatch x Summoner x Region.
    */
  def multiJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val orders   = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val customer = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val supplier = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val nation   = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val region   = Tables.region(spark, dir).select("r_regionkey", "r_name")
    // customer and supplier are fact-proportional (scale with SF) —
    // broadcasting them OOMs at the 100 TB design point. They join via
    // shuffle (AQE still broadcasts at small SF); only true dims
    // (nation, region) get the hint.
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy("n_name")
  }

  /** Global top-k: planned as TakeOrderedAndProject (no full sort, no
    * single-node collect). Reference: utils.py:966 (argmax over lanes).
    */
  def topkGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      .limit(10)

  /** Top-k per group via ranking window (partition-parallel).
    * Reference: utils.py:966-967 (primary/secondary lane per player).
    */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables
      .customer(spark, dir)
      .select("c_mktsegment", "c_custkey", "c_acctbal")
      // Rank filter on the raw attribute → native WindowGroupLimit
      // (map-side per-group top-3 before the exchange, r15); the long
      // cast (oracle row_number() is 64-bit) happens after the filter.
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .withColumn("rn", col("rn").cast("long"))
      // The sampling pass re-ran the rank window + WindowGroupLimit
      // over the scan; the output is 3-per-group.
      .transform(df => graft.Staging.sorted(df, "topk_per_group_out", "c_mktsegment", "rn")())
  }

  /** Exact distinct aggregation (HLL `approx_count_distinct` is the 100TB
    * variant; exact kept to hash-match the oracle). Reference: unique
    * summoner counting across regions.
    */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n_cust"), count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** The 100 TB variant of distinctAgg: HyperLogLog++ sketch instead of
    * the exact distinct (whose de-dup shuffle carries every distinct key).
    * Sketches merge associatively, so partial aggregation stays map-side
    * and the shuffle carries fixed-size registers — the only distinct
    * count that survives a thousand executors. Error bound asserted
    * against the exact operator in the spec.
    */
  def distinctAggApprox(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(
        approx_count_distinct(col("o_custkey"), 0.02).as("n_cust"),
        count(lit(1)).as("n_orders")
      )
      .orderBy("o_orderpriority")

  /** Left-anti join: entities missing their dependent rows — parts never
    * shipped in bulk (no lineitem with l_quantity > 45). The predicate is
    * chosen to yield a non-empty result at every SF so the operator is
    * actually exercised (customer-without-orders is vacuously empty here).
    * Reference: periodical_data_repair.py:46 (records missing timelines).
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables
      .part(spark, dir)
      .select("p_partkey", "p_name")
      .join(
        Tables.lineitem(spark, dir).select("l_partkey", "l_quantity").filter(col("l_quantity") > 45),
        col("p_partkey") === col("l_partkey"),
        "left_anti"
      )
      .orderBy("p_partkey")

  /** Left-semi join: entities having at least one qualifying dependent.
    * Reference: get_stats_availability (utils.py:990) existence counting.
    */
  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables
      .part(spark, dir)
      .select("p_partkey", "p_name")
      .join(
        Tables.lineitem(spark, dir).select("l_partkey", "l_quantity").filter(col("l_quantity") > 45),
        col("p_partkey") === col("l_partkey"),
        "left_semi"
      )
      .orderBy("p_partkey")

  /** CASE-based conditional aggregation: win/loss ratio analysis.
    * Reference: utils.py:719-725 (solo/skirmish/team ratio + aggro).
    */
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy("user_id")
      .agg(
        round(
          (sum(when(col("value") > 120, 1).otherwise(0)) -
            sum(when(col("value") < 80, 1).otherwise(0))).cast("double") / count(lit(1)),
          4
        ).as("ratio"),
        round(
          sum(when(col("value") >= 80 && col("value") <= 120, 1).otherwise(0)).cast("double") / count(lit(1)),
          4
        ).as("mid_share"),
        count(lit(1)).as("n_events")
      )
      .orderBy("user_id")

  /** Semi-structured extraction + aggregation: the reference's central
    * data model stores match results/timelines as JSON blob columns
    * (models.py HistoricalMatch.match_result_json) and every analysis
    * parses them row by row in Python; here the JSON path extraction is
    * a codegen'd expression feeding a normal aggregate, and the averages
    * use exact scaled-integer sums (2-decimal values) so the oracle hash
    * is order-independent. Monitor's substring-bucketed counts
    * (gathering.py:32-61 gathered_data_summary) are the n_k_high shape.
    */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("v100", floor(col("value") * 100 + 0.5).cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_k_high"),
        graft.Num.round4(
          sum(when(col("k") >= 50, col("v100")).otherwise(0L)).cast("double") /
            (sum(when(col("k") >= 50, 1L).otherwise(0L)) * lit(100.0))
        ).as("avg_value_k_high")
      )
      .orderBy("event_type")

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** One-hot / wide pivot with an explicit value list (no extra pass to
    * discover values; at 100TB the domain must be declared, exactly like
    * the reference enumerates its attribute mixes).
    * Reference: proto_data_analysis.py:697 match_flatten_rules.
    */
  def pivotOnehot(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na
      .fill(0, EventTypes)
      .orderBy("user_id")

  val queries: Seq[Query] = Seq(
    Query("q_filter_project", filterProject _,
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice""".stripMargin),
    Query("q_agg_group", aggGroup _,
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q_join_broadcast", joinBroadcast _,
      """SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("q_multi_join_agg", multiJoinAgg _,
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("q_topk_global", topkGlobal _,
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10""".stripMargin),
    Query("q_topk_per_group", topkPerGroup _,
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer
        |) WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin),
    Query("q_distinct_agg", distinctAgg _,
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // HyperLogLog++ replay (r15): registers + estimator + bias tables,
    // constants extracted from the live Spark helper. See HllOracle.
    Query("q_distinct_agg_approx", distinctAggApprox _, HllOracle.sql),
    Query("q_anti_join", antiJoin _,
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin),
    Query("q_semi_join", semiJoin _,
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin),
    Query("q_conditional_agg", conditionalAgg _,
      """SELECT user_id,
        |  round((sum(CASE WHEN value > 120 THEN 1 ELSE 0 END)
        |       - sum(CASE WHEN value < 80 THEN 1 ELSE 0 END)) * 1.0 / count(*), 4) AS ratio,
        |  round(sum(CASE WHEN value >= 80 AND value <= 120 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS mid_share,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("q_json_props", jsonProps _,
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
        |  FROM events
        |)
        |SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_k_high,
        |  floor(CAST(sum(CASE WHEN k >= 50 THEN v100 ELSE 0 END) AS DOUBLE)
        |        / (sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) * 100.0) * 10000 + 0.5) / 10000 AS avg_value_k_high
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q_pivot_onehot", pivotOnehot _,
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
  )
}
