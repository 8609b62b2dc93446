package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.GraftSession

/** One benchmark run in one JVM: set up the workload, run one warmup
  * pass that also digests every output, run as many timed passes as the
  * requested seconds hold, and, when tracing, one pass under Spark's
  * listeners and one more untraced pass. Each query is a closed-loop call: the declaring
  * entry function, then a noop write that executes it, then
  * `clearCache` (the ritual `graft.Bench` uses). Writes one JSON object
  * to `--out`; `run.py` checks the digests and prints the metrics.
  *
  * Modes, over every query of the workload unless said: `run` (the
  * above, over the workload's core), `pin` (only the digesting pass) and
  * `profile` (the digesting pass, then one traced pass that measures
  * each query's warm cost).
  */
object Harness {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of every live JVM thread: the driver and the executor task
    * threads (one JVM at `local[n]`) plus Spark's own. JIT-compiler and
    * GC threads are not JVM threads, so their background work does not
    * count here.
    */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Seconds of thread CPU spent since the snapshot `from`. */
  def cpuSince(from: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => ns - from.getOrElse(id, 0L) }.filter(_ > 0).sum / 1e9

  private val jit = ManagementFactory.getCompilationMXBean

  /** Seconds the JIT compilers have spent compiling since the JVM started. */
  def jitSeconds(): Double = jit.getTotalCompilationTime / 1e3

  /** Generated classes Spark has compiled (whole-stage and expression
    * codegen) since the JVM started; a codegen cache hit does not count.
    */
  def codegenCompiles(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Largest heap in use right after a collection since the last reset:
    * the live-data high-water mark, which does not depend on how far the
    * young generation happened to fill before each collection.
    */
  @volatile private var liveHeapPeak = 0L
  private def watchHeap(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
            case (pool, u) if heapPools(pool) => u.getUsed
          }.sum
          liveHeapPeak = math.max(liveHeapPeak, used)
        }, null, null)
    case _ =>
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** The live-heap peak since the last reset, in MB. A stretch too short
    * to trigger a collection still has a live set: collect once to read it.
    */
  def liveHeapPeakMb(): Double = {
    if (liveHeapPeak == 0L) {
      System.gc()
      val deadline = System.nanoTime() + 2000000000L
      while (liveHeapPeak == 0L && System.nanoTime() < deadline) Thread.sleep(10)
    }
    liveHeapPeak / 1048576.0
  }

  val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Runs `body` for query `q`; a throw is recorded as that query's failure. */
  def attempt[T](q: String)(body: => T): Option[T] =
    try Some(body)
    catch { case e: Throwable =>
      failures.getOrElseUpdate(q, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      System.err.println(s"[perfbench] FAILED $q: $e")
      None
    }

  /** (files, bytes) under `f`. */
  def usage(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(usage)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length) else (0L, 0L)

  def files(f: File): Set[String] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSet.flatMap(files)
    else if (f.isFile) Set(f.getPath) else Set.empty

  /** Row count and an order-independent content hash (the sum of one
    * 64-bit hash per row) of `df`, observed on a noop write. Map
    * columns are hashed as their key-sorted entry lists, since xxhash64
    * does not take maps.
    */
  def digested(df: DataFrame): (DataFrame, Observation) = {
    val cols = df.schema.fields.zipWithIndex.map { case (f, i) =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c)).as(s"c$i")
        case _ => c.as(s"c$i")
      }
    }
    val ob = Observation("perfbench_digest")
    val out = df.select(cols.toIndexedSeq: _*).observe(ob,
      count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols.indices.map(i => col(s"c$i")): _*).cast(DecimalType(38, 0))),
        lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("hash"))
    (out, ob)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val launchMs = a("launch-ms").toLong
    val mainMs = System.currentTimeMillis()
    val workload = a("workload")
    val seed = a("seed").toLong
    val mode = a("mode")
    val work = new File(a("work"))
    val artifacts = new File(work, "artifacts")

    Workloads.coverageGuard()
    watchHeap()
    // Pin and profile modes run the whole workload; a run times the
    // workload's core in an order the seed shuffles.
    val pool = workload match {
      case "etl-sf01" => Workloads.etl.toSeq.sorted
      case "index-sf01" => Workloads.index.toSeq.sorted
      case w => sys.error(s"unknown workload $w")
    }
    val order: Seq[String] =
      if (mode != "run") pool else new scala.util.Random(seed).shuffle(Workloads.Cores(workload))

    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.graft.artifacts", artifacts.getPath)
    val sessionMs = System.currentTimeMillis()
    val data = a("data")
    val fns = Workloads.benched

    /** Declare, execute, release; returns the declaring call's seconds. */
    def runQuery(q: String, write: DataFrame => Unit): Double = {
      val t0 = System.nanoTime()
      try {
        val df = fns(q)(spark, data)
        val declared = (System.nanoTime() - t0) / 1e9
        write(df)
        declared
      } finally spark.catalog.clearCache()
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

    // Each query's output digest, taken in the warmup pass, outside every
    // timed and traced pass.
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
    def digest(q: String): Unit = attempt(q) {
      var ob: Observation = null
      runQuery(q, df => { val (d, o) = digested(df); ob = o; noop(d) })
      val m = ob.get
      digests(q) = (m("rows").asInstanceOf[Long], m("hash").toString)
    }

    // Warmup pass, untimed: JIT, codegen, footers, artifact publishes,
    // and the digests.
    val warmupWalls = order.map(q => q -> timed(digest(q))).toMap
    val warmMs = System.currentTimeMillis()

    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "mode" -> mode, "cores" -> spark.sparkContext.defaultParallelism,
      "order" -> order, "warmup_walls" -> warmupWalls,
      "setup_parts_s" -> Map("jvm" -> (mainMs - launchMs) / 1e3, "session" -> (sessionMs - mainMs) / 1e3,
        "warmup" -> (warmMs - sessionMs) / 1e3))

    val spans = new File(work, "spans.jsonl")
    if (mode == "profile") {
      val t = tracedPass(spark, order, fns, data, artifacts, spans)
      result("profile") = t("by_query")
    } else if (mode == "run") {
      val setupS = (System.currentTimeMillis() - launchMs) / 1e3
      val (pubFiles, pubBytes) = usage(artifacts)
      val artBefore = files(artifacts)

      /** One untraced pass over the core from a freshly collected heap:
        * per-query walls and thread CPU, the live-heap peak, and the JIT
        * compile time and Spark codegen compiles during the pass.
        */
      final case class Pass(walls: Seq[Double], cpus: Seq[Double], memMb: Double, jitS: Double, compiles: Long) {
        def wall: Double = walls.sum
      }
      def pass(): Pass = {
        System.gc()
        liveHeapPeak = 0L
        val (jit0, compiles0) = (jitSeconds(), codegenCompiles())
        val perQuery = order.map { q =>
          val c0 = threadCpu()
          val wall = timed(attempt(q)(runQuery(q, noop)))
          (wall, cpuSince(c0))
        }
        Pass(perQuery.map(_._1), perQuery.map(_._2), liveHeapPeakMb(), jitSeconds() - jit0,
          codegenCompiles() - compiles0)
      }
      // Timed passes: a fixed number per workload for the requested
      // seconds (Workloads.passes), so a slow run does not also get fewer
      // passes. Each query is reported at its best pass: a query that a
      // host stall or a late JIT compile hits is only ever slower.
      val passes = Seq.fill(Workloads.passes(workload, a.int("seconds")))(pass())
      def best(of: Pass => Seq[Double]): Seq[Double] = order.indices.map(i => passes.map(of(_)(i)).min)
      val bestWalls = best(_.walls)
      result ++= Seq(
        "setup_s" -> setupS,
        "passes" -> passes.size,
        "pass_walls" -> passes.map(_.wall),
        "pass_jit_s" -> passes.map(_.jitS),
        "pass_codegen_compiles" -> passes.map(_.compiles),
        "wall_s" -> bestWalls.sum,
        "query_gmean_s" -> math.exp(bestWalls.map(math.log).sum / bestWalls.size),
        "cpu_s" -> best(_.cpus).sum,
        "mem_peak_mb" -> median(passes.map(_.memMb)),
        "artifacts_published_mb" -> pubBytes / 1048576.0,
        "artifacts_published_files" -> pubFiles,
        "artifacts_timed_writes" -> (files(artifacts) -- artBefore).size,
        "query_walls" -> passes.map(p => order.zip(p.walls).toMap),
        "query_cpus" -> passes.map(p => order.zip(p.cpus).toMap))

      if (a("trace") == "1") {
        // The traced pass sits between the last timed pass and one more
        // untraced pass, and is compared with the mean of its two
        // neighbours, so warm-up drift across passes cancels out of the
        // overhead instead of posing as it.
        val before = passes.last.wall
        System.gc()
        val traced = tracedPass(spark, order, fns, data, artifacts, spans)
        val after = pass().wall
        val m = traced("metrics").asInstanceOf[Map[String, Any]]
        val tracedWall = m("trace.wall_s").asInstanceOf[Double]
        result("trace_neighbour_walls") = Seq(before, after)
        result("layers") = traced.updated("metrics", m ++ Map(
          "trace.overhead_s" -> (tracedWall - (before + after) / 2),
          "heap.live_peak_mb" -> median(passes.map(_.memMb))))
      }
    }
    result("digests") = digests.map { case (q, (r, h)) => q -> Map("rows" -> r, "hash" -> h) }.toMap
    result("failures") = failures.toMap
    java.nio.file.Files.writeString(new File(a("out")).toPath, Json.mapper.writeValueAsString(result) + "\n")
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The traced pass: the same queries in the same order under the
    * listeners, with spans recorded in memory and written at the end.
    * Returns the per-layer metrics.
    */
  def tracedPass(spark: SparkSession, order: Seq[String], fns: Map[String, Workloads.Query], data: String,
                 artifacts: File, spansOut: File): Map[String, Any] = {
    val trace = new Trace(spark)
    val sc = spark.sparkContext
    final case class Q(name: String, startMs: Long, declareEndMs: Long, endMs: Long, declare: Double,
                       wall: Double, cpu: Double, cachedMb: Double, artWrites: Int)
    val done = scala.collection.mutable.ArrayBuffer.empty[Q]
    val (compiles0, jit0) = (codegenCompiles(), jitSeconds())
    trace.start()
    order.foreach { q =>
      val artBefore = files(artifacts)
      var cachedMb = 0.0
      var declared = 0.0
      var declareEndMs = 0L
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val c0 = threadCpu()
      attempt(q) {
        trace.enter(q, "declare")
        try {
          val df = fns(q)(spark, data)
          declared = (System.nanoTime() - t0) / 1e9
          declareEndMs = System.currentTimeMillis()
          trace.enter(q, "execute")
          df.write.format("noop").mode("overwrite").save()
          cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
        } finally spark.catalog.clearCache()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSince(c0)
      val endMs = System.currentTimeMillis()
      trace.leave()
      trace.drain()
      done += Q(q, startMs, if (declareEndMs == 0) endMs else declareEndMs, endMs, declared, wall, cpu,
        cachedMb, (files(artifacts) -- artBefore).size)
    }
    trace.stop()
    val (compiles, jitS) = (codegenCompiles() - compiles0, jitSeconds() - jit0)

    // Spans: query > {declare, execute}; query > job > stage.
    val spans = new java.io.PrintWriter(spansOut, "UTF-8")
    var nextId = 0
    def span(parent: Int, kind: String, name: String, s: Long, e: Long, attrs: Map[String, Any]): Int = {
      nextId += 1
      spans.println(Json.mapper.writeValueAsString(Map("id" -> nextId, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> s, "end_ms" -> e) ++ attrs))
      nextId
    }
    done.foreach { d =>
      val c = trace.counters(d.name)
      val qid = span(0, "query", d.name, d.startMs, d.endMs, Map(
        "module" -> Workloads.moduleOf(d.name), "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite))
      span(qid, "declare", d.name, d.startMs, d.declareEndMs, Map("declare_jobs" -> c.declareJobs))
      span(qid, "execute", d.name, d.declareEndMs, d.endMs, Map("jobs" -> (c.jobs - c.declareJobs)))
      val jobIds = c.jobSpans.map { case (s, e, j) => j -> span(qid, "job", s"job $j", s, e, Map.empty) }.toMap
      c.stageSpans.foreach { case (s, e, st, j) =>
        span(jobIds.getOrElse(j, qid), "stage", s"stage $st", s, e, Map.empty)
      }
    }
    spans.close()

    val all = done.map(d => trace.counters(d.name))
    val passWall = done.map(_.wall).sum
    def sumL(f: QueryCounters => Long): Long = all.map(f).sum
    val outside = done.map { d =>
      val c = trace.counters(d.name)
      d.wall - Trace.covered(c.jobSpans.map { case (s, e, _) => (s, e) }.toSeq, d.startMs, d.endMs) / 1e3
    }.sum
    val mb = 1048576.0
    val layers = scala.collection.mutable.LinkedHashMap[String, Any](
      "plan.analysis_s" -> sumL(_.analysisMs) / 1e3,
      "plan.optimization_s" -> sumL(_.optimizationMs) / 1e3,
      "plan.planning_s" -> sumL(_.planningMs) / 1e3)
    Workloads.ModuleNames.foreach { m =>
      val ds = done.filter(d => Workloads.moduleOf(d.name) == m)
      layers ++= Seq(
        s"$m.wall_s" -> ds.map(_.wall).sum,
        s"$m.declare_s" -> ds.map(_.declare).sum,
        s"$m.jobs" -> ds.map(d => trace.counters(d.name).jobs).sum,
        s"$m.cpu_s" -> ds.map(_.cpu).sum)
    }
    layers ++= Seq(
      "sched.jobs" -> sumL(_.jobs),
      "sched.stages" -> sumL(_.stages),
      "sched.tasks" -> sumL(_.tasks),
      "sched.declare_jobs" -> sumL(_.declareJobs),
      "sched.outside_jobs_s" -> outside,
      "sched.task_deser_s" -> sumL(_.deserMs) / 1e3,
      "exec.run_s" -> sumL(_.runMs) / 1e3,
      "exec.busy_frac" -> (if (passWall > 0) sumL(_.runMs) / 1e3 / (passWall * sc.defaultParallelism) else 0.0),
      "exec.gc_s" -> sumL(_.gcMs) / 1e3,
      "shuffle.read_mb" -> sumL(_.shuffleRead) / mb,
      "shuffle.write_mb" -> sumL(_.shuffleWrite) / mb,
      "shuffle.max_task_read_mb" -> (if (all.isEmpty) 0.0 else all.map(_.maxTaskRead).max / mb),
      "spill.disk_mb" -> sumL(_.diskSpill) / mb,
      "task.peak_mem_mb" -> (if (all.isEmpty) 0.0 else all.map(_.peakTaskMem).max / mb),
      "staging.cached_mb" -> done.map(_.cachedMb).sum,
      "artifacts.published_mb" -> usage(artifacts)._2 / mb,
      "artifacts.timed_writes" -> done.map(_.artWrites).sum,
      "codegen.compiles" -> compiles,
      "jit.compile_s" -> jitS,
      "trace.wall_s" -> passWall)
    Map("metrics" -> layers.toMap,
      "timed_writes_by_query" -> done.filter(_.artWrites > 0).map(d => d.name -> d.artWrites).toMap,
      "by_query" -> done.map { d =>
        val c = trace.counters(d.name)
        d.name -> Map("module" -> Workloads.moduleOf(d.name), "wall_s" -> d.wall, "declare_s" -> d.declare,
          "cpu_s" -> d.cpu, "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite)
      }.toMap)
  }
}

/** JSON for the harness's result records and spans. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS).build()
}
