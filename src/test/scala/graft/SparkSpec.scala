package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared fixture: one GraftSession for the whole JVM (the same
  * AQE-enabled config Verify/Bench use — tests must not drift from the
  * shipped session), sf0.001 data for speed.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs, listener bus drained. */
  def jobsOf(f: => Any): Long = {
    val counter = new org.apache.spark.GraftJobCounter(spark.sparkContext)
    try {
      val before = counter.jobs
      f
      counter.jobs - before
    } finally counter.close()
  }

  /** The COMPLETE physical plan text of an executed frame, for
    * plan-shape assertions: AQE's final-plan rendering elides
    * materialized query-stage and cached subtrees behind one-line
    * nodes (`ShuffleQueryStage n`, `InMemoryTableScan`), so a bare
    * `executedPlan.toString` no longer shows the exchanges that staged
    * (persisted) subtrees actually run (r19 broke two suites this
    * way). This walks into adaptive plans, query-stage bodies, and
    * cached-plan bodies and concatenates every level — subtrees can
    * appear more than once, so use it for presence/absence assertions,
    * not exact node counts.
    */
  def deepPlan(df: DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val sb = new StringBuilder
    def walk(p: SparkPlan): Unit = {
      sb.append(p.toString).append('\n')
      p.foreach {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
        case _ => ()
      }
    }
    walk(df.queryExecution.executedPlan)
    sb.toString
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
