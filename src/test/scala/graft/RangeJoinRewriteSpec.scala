package graft

import org.apache.spark.sql.functions._

/** The optimizer rule that saves users from naive range theta joins. */
class RangeJoinRewriteSpec extends SparkSpec {

  private val W = 15L * 60 * 1000 * 1000

  private def naiveRangeJoin() = {
    val a = Tables.events(spark, sfDir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("a_id"), unix_micros(col("ts")).as("a_ts"))
    val b = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("b_id"), unix_micros(col("ts")).as("b_ts"))
    // No equi conjunct at all: without the rewrite this is a pure
    // nested-loop theta join.
    a.join(b, col("b_ts") >= col("a_ts") - W && col("b_ts") <= col("a_ts") + W)
      .groupBy("a_id").agg(count(lit(1)).as("n"))
  }

  test("naive range theta join is rewritten to a bucketed equi-join") {
    val plan = naiveRangeJoin().queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join not rewritten:\n$plan")
    assert(plan.contains("__graft_range_bucket"), s"bucket key missing:\n$plan")
  }

  test("rewritten range join returns exactly the theta-join result") {
    val actual = naiveRangeJoin().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Expected from the rule disabled (excludedRules matches by rule name).
    val ruleName = graft.plans.RangeJoinRewrite.ruleName
    spark.conf.set("spark.sql.optimizer.excludedRules", ruleName)
    try {
      val expectedPlan = naiveRangeJoin()
      val planStr = expectedPlan.queryExecution.executedPlan.toString
      assert(planStr.contains("BroadcastNestedLoopJoin"),
        s"exclusion failed; baseline is not the naive join:\n$planStr")
      val expected = expectedPlan.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(actual == expected)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  // q_range_join's shape: a user key beside the ±W pair.
  private def keyedRangeJoin() = {
    val a = Tables.events(spark, sfDir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("a_id"), col("user_id").as("a_user"), unix_micros(col("ts")).as("a_ts"))
    val b = Tables.events(spark, sfDir)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"), unix_micros(col("ts")).as("b_ts"))
    a.join(b, col("a_user") === col("b_user") && col("b_id") =!= col("a_id") &&
        col("b_ts") >= col("a_ts") - W && col("b_ts") <= col("a_ts") + W)
      .groupBy("a_id").agg(count(lit(1)).as("n"))
  }

  test("keyed range join is bucketed beside its equi key, rows unchanged") {
    val df = keyedRangeJoin()
    assert(df.queryExecution.optimizedPlan.toString.contains("__graft_range_bucket"),
      s"keyed range join not rewritten:\n${df.queryExecution.optimizedPlan}")
    val keys = df.queryExecution.optimizedPlan.collect {
      case org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys(_, lk, rk, _, _, _, _, _) =>
        (lk ++ rk).flatMap(_.references.map(_.name))
    }
    assert(keys.size == 1, s"expected one equi-join, got $keys")
    assert(keys.head.contains("a_user") && keys.head.contains("b_user"), s"user key lost: $keys")
    assert(keys.head.exists(_.startsWith("__graft_range_bucket")), s"bucket key missing: $keys")

    val actual = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.sql.optimizer.excludedRules", graft.plans.RangeJoinRewrite.ruleName)
    try {
      val baseline = keyedRangeJoin()
      assert(!baseline.queryExecution.optimizedPlan.toString.contains("__graft_range_bucket"))
      val expected = baseline.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(actual.nonEmpty && actual == expected)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("ordinary equi-joins are left untouched") {
    val joined = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("c_custkey") === col("o_custkey"))
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(!plan.contains("__graft_range_bucket"))
  }
}
