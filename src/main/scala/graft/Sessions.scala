package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory — the ONLY place session config lives.
  * Verify, Bench, and the test suite all route through here so the
  * benched/tested config is the designed config (AQE on, shuffle
  * partitions sized to cores, UTC, nanos-as-long parquet reads).
  *
  * Local defaults mirror what a cluster deployment would set per-job:
  * AQE on (runtime coalesce + skew-join splitting), shuffle partitions
  * sized to the local core count rather than the 200 default.
  */
object GraftSession {
  /** Core count: SPARK_GRAFT_CPUS env if set, else all cores capped at 32. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors.min(32))

  /** Generated-class cache size (`spark.sql.codegen.cache.maxEntries`),
    * sized to graft's measured working set.
    *
    * Spark compiles every whole-stage and expression class with Janino
    * and keeps it in one JVM-wide LRU cache. A query reuses a class only
    * while it is cached, and a class compiled again is also warmed up
    * again by the JIT. At Spark's default of 100 entries one benchmark
    * core already outgrows the cache: every timed pass recompiled
    * 118–151 classes on `etl-sf01` and 183–189 on `index-sf01`, with
    * 8–20 s of JIT compiler-thread time per pass. At this size a timed
    * pass compiles 0–25 (etl, median 14) and 8–32 (index, median 15),
    * and both cores run ~22–25 % faster (10 seed pairs, 4 cores).
    *
    * Working set (sf0.1, local[4]): running each of the 123 benched
    * queries once compiled 1,697 classes, and after three more passes
    * the cache held 1,862. Local mode counts most classes twice: the
    * cache key includes the compiling thread's context class loader,
    * and driver threads (755 keys) and executor task threads (1,107)
    * use different loaders. The cache is a Guava LRU split into 4
    * segments of cap/4 entries each, and a cyclic working set larger
    * than one segment's share misses on every access, as every pass did
    * at the default. So the cap carries headroom: at 4096 a segment's
    * share of 1,862 keys is ~470 of 1,024 slots, which leaves room for
    * skew between segments and for the stage-id variants below; at 2048
    * it would be ~470 of 512.
    *
    * Residual recompiles: passes 2–4 over the inventory compiled 92, 39
    * and 34 classes, none of them a source the cache had held before (no
    * evictions; read from the CodeGenerator DEBUG log, which prints each
    * compiled source). 152 of those 165 differ from a cached class only
    * in the `// codegenStageId=N` line and the class name built from it,
    * which Spark writes into every whole-stage source. AQE numbers a
    * query's stages in the order it creates them, and it creates a
    * stage when its inputs finish, so stages above concurrent inputs
    * take different numbers from run to run. The other 13 are sources
    * the JVM had not compiled before (in `q_quality_bigramlm`, a
    * broadcast-hash-join stage and a grouped-aggregate stage): plans
    * that AQE re-optimised differently at run time. The variants
    * converge as the cache fills (`q_quality_bigramlm`: 10, 2, 0 over
    * the three passes); no setting removes them.
    *
    * Static conf: `CodeGenerator` reads it once, when the object
    * initialises at the JVM's first code generation, so it has to go
    * through the builder below. A deployment that enables graft through
    * `spark.sql.extensions` sets it itself (README, "Using it").
    */
  val CodegenCacheEntries = 4096

  def local(cores: Int = defaultCores): SparkSession = {
    // SPARK_GRAFT_MASTER overrides the master URL so the SAME Verify /
    // Bench entrypoints run under multi-JVM masters (e.g.
    // local-cluster[2,2,2048]) — the deployment-shaped smoke for custom
    // Expression classloading and aggregate-buffer ser/de across a real
    // executor boundary. Unset → identical local[$cores] behavior.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]")
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      // The same extension class a cluster deployment names via
      // `spark.sql.extensions=graft.GraftExtensions` — one registration
      // list, tested and deployed identically.
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor: MEASURED AND KEPT AT THE DEFAULT (r19).
      // Lowering minPartitionSize to 64k session-wide parallelized the
      // byte-light/CPU-dense dedup index stages (q_dedup_jaccard_prefix
      // 2.42 → 1.54 s isolated) but taxed every many-small-stage query
      // with per-task broadcast/closure deserialization
      // (q_ann_recall_ivf 1.43 → 2.10, q_substr_dedup 0.96 → 1.64,
      // q_curation_run 1.73 → 2.29 — same host, back-to-back min-of-3).
      // The parallelism fix belongs to the operators whose stages are
      // CPU-dense, where the volume model is known (see
      // Dedup.dfOrderedIndex), not to the session.
      // NOTE on fanout stages (r18): AQE sizes partitions by
      // shuffle-READ bytes and is blind to JOIN OUTPUT fanout, so a
      // stage that explodes its input (the kNN-graph candidate join:
      // 1.7 GB read → ~10² fanout) gets `cores`-many tasks and sorts
      // 1/32nd of the candidate stream per task (7.1 GB peak task
      // memory, 45 GB spill at the 500k-doc decade point). Raising
      // `coalescePartitions.initialPartitionNum` session-wide was
      // measured and REJECTED: AQE re-coalesces the offered headroom
      // by input bytes anyway (512 offered → 45 chosen, spill
      // unchanged) while the unused buckets tax every tiny query
      // (+10% on the 121-query sf0.1 bench at 2×cores). The fix lives
      // where the volume model lives: the OPERATOR partitions its
      // fanout join by the coarse cell (`IvfAnn.knnGraph`) — per-task
      // mass is then the per-cell candidate mass the balance splits
      // already bound.
      // Persisted plans keep AQE by default: with the conf false, a
      // `.persist` compiles its whole subtree WITHOUT adaptive
      // execution, and join strategies fall back to static size
      // estimates — the staged near-dup pair outputs (r16,
      // `Staging.sortedOutput`) then broadcast the corpus-scale prefix
      // side of the collision self-join (measured 27× the executor CPU
      // at the 50k-doc decade point); array-heavy reread frames (the
      // kNN family's unit vectors) also measure 2.5× faster from the
      // AQE (row-format) cache. The exception is an expensive-
      // expression scan staging whose BUILD dominates its reads —
      // registered under this conf the cached compile keeps AQE's
      // final-stage shuffle optimizations (the only thing the conf
      // gates in Spark 4.1) and builds at a pure CPU multiplier (14×
      // on q_substr_dedup's window-hash staging, r17) — so
      // `Staging.staged` takes an explicit `columnarCache` flag that
      // scopes the conf to false for exactly those registrations.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined" warning fires on EVERY
    // unpartitioned window execution — hundreds of lines per bench run.
    // The warning exists to flag exactly the hazard WindowBoundSpec now
    // MEASURES (every global-window frame ≤4096 rows at three corpus
    // scales, saturating at its construction cap), so for this library
    // it is proven noise that buries real warnings in the bench tail.
    // Scoped to the one class; everything else stays at WARN.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
