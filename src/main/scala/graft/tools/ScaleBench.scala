package graft.tools

/** Reproducible harness for the SURVEY §6 scale-trajectory rows —
  * committed (r15) so the decade measurements stop being ad-hoc scratch
  * mains: same ritual every time (untimed warmup pass that also lands
  * the artifact publishes, then per-query MINIMUM of two timed passes,
  * published-artifacts mode — the production consumer shape, matching
  * graft.Bench's discipline), one JSON line out.
  *
  * r16: the listener grew from per-task ceilings into a full
  * attribution profile — per-query executor run/CPU/GC time, memory and
  * disk spill, shuffle read/write bytes, task count, plus the top
  * stages by executor time with the same breakdown. This is the
  * instrument the third-decade question needs: a wall exponent above
  * the measured candidate-volume exponent is only diagnosable if the
  * surplus can be split into CPU vs GC vs spill vs scheduling, per
  * stage, from the artifact alone.
  *
  * Usage:
  *   SPARK_DRIVER_XMS=96g SPARK_DRIVER_MEM=96g \
  *     sbt "runMain graft.tools.ScaleBench <corpusDir> [q1,q2,...]"
  * where corpusDir holds GenScale output (documents.parquet +
  * embeddings.parquet). Default query set = the heavy dedup/ANN family
  * measured across decades.
  *
  * SPARK_DRIVER_MEM is NOT optional at the decade sizes: build.sbt
  * forks run-mains at 8g by default, which at local[32] is ~0.25 GB
  * of heap per core — a quarter of a lean production executor's
  * memory-per-core, and far below the ~3 GB/core the §6 rows were
  * measured at (peak task memory up to ~930 MB × 32 concurrent
  * tasks). At 8g the 500k-doc point thrashes: 72 GB of disk spill and
  * 5.7× the provisioned wall (measured r16) — that run profiles the
  * starvation pathology, not the plan.
  *
  * SPARK_DRIVER_XMS (pin + pre-touch the heap, build.sbt) is equally
  * non-optional: with a growable 96g heap, G1 uncommits heap between
  * execution-memory waves and every re-grow pays kernel page zeroing
  * INSIDE the task allocation path (`HeapMemoryAllocator.allocate`
  * burning ~95% SYSTEM cpu — charged to task CPU time, invisible to
  * gc_s). Measured at the 500k point (r16): the identical
  * q_dedup_jaccard_prefix pass is 319.2 s growable vs 127.1 s pinned
  * (total executor CPU 9,549 → 3,267 s), and run-to-run variance of the
  * same stage was 2-3× CPU before pinning. Production executors run
  * -Xms=-Xmx as standard practice; the pin makes local[32] match that.
  */
object ScaleBench {

  val DefaultQueries: Seq[String] = Seq(
    "q_dedup_jaccard_prefix", "q_dedup_clusters", "q_substr_dedup",
    "q_cluster_delta", "q_knn_graph")

  /** Per-stage accumulation bucket (one per stage attempt; merged by
    * stage id at report time so retries don't double-name).
    */
  private final class StageAcc(val name: String, val ops: String) {
    var tasks = 0L
    var runMs, cpuNs, gcMs, memSpill, diskSpill, shRead, shWrite = 0L
    var peakMem = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/testdata/sf1")
    val names = args.lift(1).filter(_.nonEmpty)
      .map(_.split(",").toSeq).getOrElse(DefaultQueries)
    val spark = graft.GraftSession.local()
    // Optional third arg: comma-list of k=v session confs (e.g. stage
    // to scratch parquet with spark.graft.scratch=/tmp/graft_scratch).
    args.lift(2).foreach(_.split(",").filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    val artDir = new java.io.File(s"target/scalebench_artifacts")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    if (artDir.exists()) rm(artDir)
    spark.conf.set("spark.graft.artifacts", artDir.toString)

    // Per-task shuffle-read ceiling: the evidence that a hot key (a
    // viral window/bucket in adversarial corpora) cannot concentrate a
    // corpus-scale occurrence list on one reducer — the caps bound the
    // per-task maximum, not just the total. Plus (r16) the per-stage
    // attribution buckets.
    val maxShuffleRead = new java.util.concurrent.atomic.AtomicLong(0)
    val maxPeakMem = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageOps = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        // AQE materializes staged frames from a CompletableFuture, so
        // stageInfo.name is an opaque JDK frame; the long-form call site
        // (details) still carries the repo frame that owns the stage.
        val graftFrame = ss.stageInfo.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ScaleBench"))
          .map(_.trim.stripPrefix("at ").takeWhile(_ != ')') + ")")
        val name = graftFrame.map(g => s"${ss.stageInfo.name} [$g]").getOrElse(ss.stageInfo.name)
        stageNames.put(ss.stageInfo.stageId, name): Unit
        // Physical-operator scopes of the stage's RDD chain (r19): the
        // AQE-materialized stage name above is an opaque JDK future
        // frame, so when a peak-memory ceiling shows up the profile
        // couldn't say WHICH operator held it. The RDD lineage still
        // carries the exec-node scopes (Exchange / InMemoryTableScan /
        // WholeStageCodegen / Sort ...), which is exactly the
        // operator-level attribution the 7.1 GB index-build question
        // needed.
        val ops = ss.stageInfo.rddInfos
          .sortBy(_.id)
          .flatMap(_.scope.map(_.name))
          .distinct.mkString(" > ")
        stageOps.put(ss.stageInfo.stageId, ops): Unit
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          maxShuffleRead.accumulateAndGet(m.shuffleReadMetrics.totalBytesRead, Math.max(_, _))
          maxPeakMem.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
          val acc = stages.computeIfAbsent(
            te.stageId,
            id => new StageAcc(
              Option(stageNames.get(id)).getOrElse(s"stage$id"),
              Option(stageOps.get(id)).getOrElse("")))
          acc.synchronized(acc.add(m))
        }
      }
    })

    def runOne(name: String): Unit = {
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    // Shuffle-file hygiene BETWEEN passes (outside every timed window):
    // shuffle files are deleted by the ContextCleaner only when their
    // ShuffleDependency is garbage-collected, and at decade sizes under
    // a 96g driver heap ordinary GC may not run for the whole session —
    // the first 1.5M-doc attempt accumulated every pass's ~30 GB of
    // map outputs (warmup + 2×2 timed) and exhausted the disk
    // mid-spill. Two gc cycles (weak-reference processing often needs
    // the second) + a drain window for the async cleaner bound live
    // shuffle bytes to ~one pass per query.
    def reclaimShuffles(): Unit = {
      System.gc()
      Thread.sleep(3000)
      System.gc()
      Thread.sleep(7000)
    }
    // Timed passes per query: min-of-2 is the harness contract; the
    // 1.5M-doc points run 1 (disclosed in the JSON and SURVEY §6) —
    // the sandbox disk (~94 GB effective) cannot hold two passes of
    // ~30 GB map outputs plus the reclaim lag, and a min over fewer
    // passes only OVERSTATES the time, never flatters it. The warmup
    // pass is skippable for the same reason and with the same
    // direction of error (cold JIT/codegen inflates the one timed
    // pass): at the 1.5M point a single execution's map outputs plus
    // its SMJ spill already fill most of the disk, so warmup + timed
    // cannot coexist even with the reclaim below.
    val timedPasses =
      sys.env.get("SPARK_GRAFT_TIMED_PASSES").map(_.toInt).filter(_ >= 1).getOrElse(2)
    val warmup =
      !sys.env.get("SPARK_GRAFT_WARMUP").contains("0")
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    // Untimed warmup: JIT/codegen + artifact publishes land here.
    if (warmup) names.foreach { n => runOne(n); reclaimShuffles() }
    val timings = names.map { name =>
      // Attribution comes from the FASTEST timed pass (same work both
      // passes — plans are deterministic — so the quieter one is the
      // one to attribute).
      var best: (Double, Long, Long, Seq[StageAcc]) = null
      (1 to timedPasses).foreach { _ =>
        maxShuffleRead.set(0); maxPeakMem.set(0); stages.clear()
        val t0 = System.nanoTime()
        runOne(name)
        val t = (System.nanoTime() - t0) / 1e9
        if (best == null || t < best._1) {
          import scala.jdk.CollectionConverters._
          best = (t, maxShuffleRead.get, maxPeakMem.get, stages.values.asScala.toSeq)
        }
        reclaimShuffles()
      }
      (name, best)
    }
    val qj = timings.map { case (n, (t, _, _, _)) => s""""$n": ${f"$t%.3f"}""" }.mkString(", ")
    val sj = timings.map { case (n, (_, s, p, _)) =>
      s""""$n": {"max_task_shuffle_read_mb": ${mb(s)}, "max_task_peak_mem_mb": ${mb(p)}}"""
    }.mkString(", ")
    val pj = timings.map { case (n, (_, _, _, accs)) =>
      def tot(f: StageAcc => Long): Long = accs.map(f).sum
      val top = accs.sortBy(-_.runMs).take(6).map { a =>
        s"""{"stage": ${jstr(a.name)}, "ops": ${jstr(a.ops)}, "tasks": ${a.tasks}, "run_s": ${f"${a.runMs / 1e3}%.1f"}, """ +
          s""""cpu_s": ${f"${a.cpuNs / 1e9}%.1f"}, "gc_s": ${f"${a.gcMs / 1e3}%.1f"}, """ +
          s""""spill_disk_mb": ${mb(a.diskSpill)}, "sh_read_mb": ${mb(a.shRead)}, """ +
          s""""sh_write_mb": ${mb(a.shWrite)}, "peak_mem_mb": ${mb(a.peakMem)}}"""
      }.mkString(", ")
      s""""$n": {"tasks": ${tot(_.tasks)}, "run_s": ${f"${tot(_.runMs) / 1e3}%.1f"}, """ +
        s""""cpu_s": ${f"${tot(_.cpuNs) / 1e9}%.1f"}, "gc_s": ${f"${tot(_.gcMs) / 1e3}%.1f"}, """ +
        s""""spill_mem_mb": ${mb(tot(_.memSpill))}, "spill_disk_mb": ${mb(tot(_.diskSpill))}, """ +
        s""""sh_read_mb": ${mb(tot(_.shRead))}, "sh_write_mb": ${mb(tot(_.shWrite))}, """ +
        s""""top_stages": [$top]}"""
    }.mkString(", ")
    println(s"""{"dir": "$dir", "timed_passes": $timedPasses, "warmup": $warmup, "queries": {$qj}, "task_ceilings": {$sj}, "profile": {$pj}}""")
    spark.stop()
  }

  /** Minimal JSON string escape for stage names (they carry call sites). */
  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
}
