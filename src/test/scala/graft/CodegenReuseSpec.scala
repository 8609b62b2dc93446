package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max, sum}

/** Tripwire for the generated-class cache (`GraftSession.CodegenCacheEntries`):
  * a set of queries whose classes outnumber Spark's default cache (100
  * entries) must compile each class once, and a second run must compile
  * nothing. At the default cap the second run misses on most of the set
  * and compiles it again.
  *
  * The set is owned by this spec. The cache is JVM-wide and shared with
  * every suite, so graft's own queries may already be cached by the
  * suites that ran before, and their first run would not show their
  * working set. Each query here carries a constant no other code uses,
  * inlined into its generated source, so its classes are new to the
  * cache whatever ran before. Each is a single scan → aggregate chain
  * with one shuffle: AQE materialises its stages in one order, so the
  * `codegenStageId` line Spark writes into every whole-stage source
  * repeats from run to run.
  */
class CodegenReuseSpec extends SparkSpec {

  private val Queries = 40

  private def query(i: Int): DataFrame = {
    val k = 7919 + i
    Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") < lit(1 + k % 50))
      .groupBy((col("l_orderkey") % k).as("g"))
      .agg(sum(col("l_extendedprice") * lit(k)).as("s"), max(col("l_discount") + lit(k)).as("m"))
      .select(col("g"), (col("s") / lit(k)).as("s"), col("m"))
  }

  /** Generated classes compiled while running the whole set once. */
  private def compilesOfOneRun(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (0 until Queries).foreach(i => query(i).write.format("noop").mode("overwrite").save())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a working set larger than Spark's default codegen cache compiles once, then never again") {
    val first = compilesOfOneRun()
    assert(first > 100, s"the set must outgrow Spark's default 100-entry cache; its first run compiled $first")
    val second = compilesOfOneRun()
    assert(second == 0, s"second run compiled $second classes (first run: $first): the codegen cache evicted them")
  }
}
