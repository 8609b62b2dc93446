package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query counters collected from Spark's public listeners while a
  * traced pass runs. Jobs carry the harness's `perfbench.query` and
  * `perfbench.phase` local properties, so every job, stage and task is
  * charged to the query (and the declare or execute phase) that
  * launched it.
  */
final class QueryCounters {
  var jobs = 0L
  var declareJobs = 0L
  var stages = 0L
  var tasks = 0L
  var deserMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var maxTaskRead = 0L
  var diskSpill = 0L
  var peakTaskMem = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** (start, end) epoch ms of each job, for the pass time no job covers. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, Int)]
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long, Int, Int)]
}

final class Trace(spark: SparkSession) {
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"

  private val byQuery = mutable.Map.empty[String, QueryCounters]
  private val jobQuery = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageQuery = mutable.Map.empty[Int, (String, Int)]
  @volatile private var current = "none"

  def counters(q: String): QueryCounters = synchronized(byQuery.getOrElseUpdate(q, new QueryCounters))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val q = props.flatMap(p => Option(p.getProperty(QueryKey))).getOrElse(current)
      val c = counters(q)
      c.jobs += 1
      if (props.flatMap(p => Option(p.getProperty(PhaseKey))).contains("declare")) c.declareJobs += 1
      jobQuery(e.jobId) = q
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageQuery(s) = (q, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobQuery.remove(e.jobId).foreach { q =>
        counters(q).jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time, e.jobId))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      stageQuery.get(info.stageId).foreach { case (q, job) =>
        val c = counters(q)
        c.stages += 1
        for (s <- info.submissionTime; t <- info.completionTime) c.stageSpans += ((s, t, info.stageId, job))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      val q = stageQuery.get(e.stageId).map(_._1).getOrElse(current)
      val c = counters(q)
      c.tasks += 1
      if (m != null) {
        c.deserMs += m.executorDeserializeTime
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        val read = m.shuffleReadMetrics.totalBytesRead
        c.shuffleRead += read
        c.maxTaskRead = math.max(c.maxTaskRead, read)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.diskSpill += m.diskBytesSpilled
        c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val c = counters(current)
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Marks the query and phase that the calling thread's next jobs belong to. */
  def enter(q: String, phase: String): Unit = {
    current = q
    spark.sparkContext.setLocalProperty(QueryKey, q)
    spark.sparkContext.setLocalProperty(PhaseKey, phase)
  }

  def leave(): Unit = {
    spark.sparkContext.setLocalProperty(QueryKey, null)
    spark.sparkContext.setLocalProperty(PhaseKey, null)
  }

  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)
}

object Trace {
  /** Length of the union of the spans, clipped to [lo, hi]. */
  def covered(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }
}
