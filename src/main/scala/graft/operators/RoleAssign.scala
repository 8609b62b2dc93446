package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Sequential argmax-with-elimination role assignment.
  *
  * Reference: create_champion_lane_mapping (utils.py:419-483) assigns
  * roles per team by a fixed priority of argmax/argmin picks over a
  * SHRINKING candidate set: jungle ← argmax jungle-minions, then support
  * ← argmin cs among the rest, then top/bottom/mid from what remains.
  * The elimination order matters — one row can win several criteria but
  * takes only the highest-priority role.
  *
  * Re-expressed as a cascade of ranking windows over the per-group
  * remainder: each stage is one window pass partitioned by the group key
  * (order), so the whole cascade is k linear passes, not the reference's
  * per-group Python loop. Groups here are orders; "roles" pick lineitems
  * by quantity-max, price-min, discount-max in that priority.
  */
object RoleAssign {

  private val tiebreak = Seq(col("l_linenumber").asc, col("l_partkey").asc,
    col("l_extendedprice").asc, col("l_quantity").asc, col("l_discount").asc)

  /** Single-pass formulation: "argmax among the remainder" = rank with
    * already-eliminated rows sorted LAST (ordering by the elimination
    * flag first), so the three stages are three window sorts over the
    * SAME hash partitioning — one shuffle, one scan, no union of
    * recomputed branches (a 4-branch union re-reads the fact table four
    * times at 100 TB).
    */
  def roles(spark: SparkSession, dir: String): DataFrame = {
    val wq = Window.partitionBy("l_orderkey").orderBy(col("l_quantity").desc +: tiebreak: _*)
    def wAfter(flag: org.apache.spark.sql.Column, ordering: org.apache.spark.sql.Column) =
      Window.partitionBy("l_orderkey").orderBy(flag.asc +: ordering +: tiebreak: _*)

    Tables
      .lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      .withColumn("is_bulk", row_number().over(wq) === 1)
      .withColumn(
        "is_budget",
        !col("is_bulk") &&
          row_number().over(wAfter(col("is_bulk"), col("l_extendedprice").asc)) === 1
      )
      .withColumn(
        "is_discount",
        !col("is_bulk") && !col("is_budget") &&
          row_number().over(wAfter(col("is_bulk") || col("is_budget"), col("l_discount").desc)) === 1
      )
      .withColumn(
        "role",
        when(col("is_bulk"), "bulk")
          .when(col("is_budget"), "budget")
          .when(col("is_discount"), "discount")
          .otherwise("other")
      )
      .select("l_orderkey", "l_linenumber", "l_partkey", "role")
      // The final sort's range-sampling pass re-ran all three
      // elimination-cascade window sorts; staging the output-sized
      // frame bounds it to a cache read.
      .transform(df => graft.Staging.sorted(df, "role_assign_out",
        "l_orderkey", "l_linenumber", "l_partkey", "role")())
  }

  val queries: Seq[Query] = Seq(
    Query("q_role_assign", roles _,
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount
        |  FROM lineitem
        |), s1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_quantity DESC, l_linenumber, l_partkey, l_extendedprice, l_quantity, l_discount) AS rn
        |  FROM li
        |), s2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice ASC, l_linenumber, l_partkey, l_extendedprice, l_quantity, l_discount) AS rn2
        |  FROM s1 WHERE rn > 1
        |), s3 AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_discount DESC, l_linenumber, l_partkey, l_extendedprice, l_quantity, l_discount) AS rn3
        |  FROM s2 WHERE rn2 > 1
        |)
        |SELECT l_orderkey, l_linenumber, l_partkey, role FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, 'bulk' AS role FROM s1 WHERE rn = 1
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, 'budget' FROM s2 WHERE rn2 = 1
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, 'discount' FROM s3 WHERE rn3 = 1
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, 'other' FROM s3 WHERE rn3 > 1
        |) ORDER BY l_orderkey, l_linenumber, l_partkey, role""".stripMargin)
  )
}
