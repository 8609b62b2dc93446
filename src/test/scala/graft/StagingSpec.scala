package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length}

/** Pins the 100 TB deployment mode of graft.Staging: with
  * `spark.graft.scratch` set, every staged index is written to scratch
  * parquet and re-read instead of persisted to executor storage — and a
  * staged query's rows must be identical in both modes. Also pins the
  * two placement helpers, `spread` and each branch of `sorted`.
  */
class StagingSpec extends SparkSpec {

  test("scratch-parquet staging returns identical rows to persist mode and writes staged dirs") {
    val q = SparkEntry.queries("q_dedup_jaccard_prefix")
    val persistRows = q(spark, sfDir).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val dir = Files.createTempDirectory("graft_scratch").toString
    spark.conf.set("spark.graft.scratch", dir)
    try {
      val scratchRows = q(spark, sfDir).collect().map(_.toSeq).toSeq
      assert(scratchRows == persistRows, "scratch mode must not change query results")
      val staged = new java.io.File(dir).listFiles().filter(_.getName.startsWith("stage_"))
      assert(staged.nonEmpty, "scratch mode must write staged parquet dirs")
      assert(staged.forall(d => new java.io.File(d, "_SUCCESS").exists()),
        "every staged dir must be a committed parquet write")
    } finally {
      spark.conf.unset("spark.graft.scratch")
    }
  }

  test("scratch mode: staging a staged frame returns it as is, one scratch copy") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_scratch").toString
    spark.conf.set("spark.graft.scratch", dir)
    try {
      val once = Staging.staged(Seq(1, 2, 3).toDF("x"), "once")
      val twice = Staging.staged(once, "twice")
      val copies = new java.io.File(dir).listFiles().filter(_.getName.startsWith("stage_"))
      assert(copies.length == 1, s"staging a staged frame wrote ${copies.length} scratch copies")
      assert(twice eq once, "a staged frame must come back as the same object")
      assert(twice.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    } finally spark.conf.unset("spark.graft.scratch")
  }

  test("persist mode: AQE cache by default, columnar cache on explicit opt-in, conf restored") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    spark.catalog.clearCache()
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert(spark.conf.get(key) == "true",
      "the session default must keep AQE in cached plans (r16: static " +
        "estimates broadcast corpus-scale join sides under the staged " +
        "pair verifies)")
    def cachedPlanOf(df: DataFrame, columnar: Boolean): String = {
      val staged = Staging.staged(df, "aqe_scope_probe", columnarCache = columnar)
      staged.count()
      // Fresh Dataset: `staged`'s own QueryExecution was memoized before
      // the cache registration, so cache substitution only shows in a
      // NEW plan that references the staged subtree.
      val plans = staged.select("*").queryExecution.optimizedPlan
        .collect { case r: InMemoryRelation => r.cachedPlan.toString }
      assert(plans.nonEmpty, "staged frame must be cached")
      plans.mkString("\n")
    }
    // AQE only wraps plans with at least one exchange — probe with an
    // aggregation so the AdaptiveSparkPlan node is observable.
    // Spark 4.1 keeps AQE in every cached plan; what the conf gates at
    // registration is ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_
    // OPTIMIZATIONS inside the cached compile (CacheManager.
    // getOrCloneSessionWithConfigsOff) — observable as the final
    // stage's AQEShuffleRead coalesce once materialized. Probe with an
    // aggregation so there is a final-stage shuffle to optimize.
    val scan = Tables.documents(spark, sfDir).groupBy("source").count()
    // Default registration (session conf true): final-stage shuffle
    // optimizations stay on in the cached plan.
    val default = cachedPlanOf(scan, columnar = false)
    assert(default.contains("AQEShuffleRead"),
      s"default staged frame must keep final-stage shuffle optimizations in its cache:\n$default")
    spark.catalog.clearCache()
    // Explicit columnarCache: registered (and compile-pinned) under
    // conf false — the regime the decade A/B measured 14x cheaper on
    // build-dominated scans (q_substr_dedup 76.3 -> 7.1 s at 500k, r17).
    val columnar = cachedPlanOf(scan, columnar = true)
    assert(!columnar.contains("AQEShuffleRead"),
      s"columnarCache staged frame must compile its cache without final-stage shuffle optimizations:\n$columnar")
    assert(spark.conf.get(key) == "true",
      "the scoped conf must be restored to the session default after the staged persist")
    spark.catalog.clearCache()
  }

  test("spread: no-op pass-through on shuffle-bearing inputs, zero jobs at declaration") {
    // r19 landmine (verdict item 4): spread probed
    // queryExecution.toRdd.getNumPartitions unconditionally — on an
    // exchange-bearing input under AQE that materializes every shuffle
    // stage as real jobs at DECLARATION time and discards the result.
    val agg = Tables.documents(spark, sfDir).groupBy("source").count()
    var out: DataFrame = null
    val jobs = jobsOf { out = Staging.spread(agg) }
    // Same-object return proves the guard took the no-probe branch.
    assert(out eq agg, "shuffle-bearing input must pass through spread untouched")
    assert(jobs == 0, s"spread ran $jobs jobs at declaration")
    // The leaf-scan call sites keep their conditional round-robin: the
    // sf0.001 documents scan plans 1 partition against 4 shuffle
    // partitions, so the probe fires and spreads.
    val scanPlan = Staging.spread(Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("RoundRobinPartitioning"),
      s"leaf-scan spread must still round-robin a narrow scan:\n$scanPlan")
  }

  // `sorted` must return exactly project(input).orderBy(keys) on every
  // branch; the branches differ only in where the sort sits.
  private def project(df: DataFrame): DataFrame =
    df.select(col("doc_id"), length(col("text")).as("n"))

  private def assertSortedRows(out: DataFrame, input: DataFrame): Unit =
    assert(out.collect().toSeq == project(input).orderBy("doc_id").collect().toSeq,
      "sorted must equal project + global orderBy, row for row")

  // Plan BEFORE execution (the AQE final rendering hides exchange bodies
  // behind query stages): exactly one exchange — the range shuffle
  // doubles as the parallelism spread — nothing persisted, and the
  // projection ABOVE the within-partition sort (the sampler double-runs
  // only the subtree below the exchange).
  private def assertRangeSortFirst(out: DataFrame): Unit = {
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"range-sort-first must plan exactly one (range) exchange:\n$plan")
    assert(plan.contains("rangepartitioning"), s"expected a range exchange:\n$plan")
    assert(!plan.contains("InMemoryTableScan"), s"range-sort-first must not persist:\n$plan")
    val sortIdx = plan.indexOf("Sort ")
    val projIdx = plan.indexOf("Project ")
    assert(projIdx >= 0 && sortIdx > projIdx,
      s"projection must stay above the within-partition sort:\n$plan")
  }

  /** Runs `f` with the documents scan split into many planned partitions. */
  private def withWideScan[T](f: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "4096")
    try f finally spark.conf.unset(key)
  }

  test("sorted, range-sort first: narrow scan keeps key order, one exchange, no persist") {
    val docs = Tables.documents(spark, sfDir)
    val out = Staging.sorted(docs, "narrow_probe", "doc_id")(project)
    assertRangeSortFirst(out)
    assertSortedRows(out, docs)
  }

  test("sorted, corpus-scale output: range-sorts first even on a wide leaf scan") {
    withWideScan {
      val docs = Tables.documents(spark, sfDir)
      assert(docs.queryExecution.toRdd.getNumPartitions * 4 > spark.conf.get("spark.sql.shuffle.partitions").toInt,
        "the spec's small maxPartitionBytes must make the scan wide")
      val out = Staging.sorted(docs, Staging.CorpusScale, "doc_id")(project)
      assertRangeSortFirst(out)
      assertSortedRows(out, docs)
    }
  }

  test("sorted, stage then sort: wide leaf scan is projected, staged and sorted") {
    spark.catalog.clearCache()
    try withWideScan {
      val docs = Tables.documents(spark, sfDir)
      val out = Staging.sorted(docs, "wide_probe", "doc_id")(project)
      val plan = out.queryExecution.executedPlan.toString
      val (rangeIdx, cacheIdx) = (plan.indexOf("rangepartitioning"), plan.indexOf("InMemoryTableScan"))
      assert(cacheIdx >= 0, s"a wide scan's output must be staged:\n$plan")
      assert(rangeIdx >= 0 && rangeIdx < cacheIdx, s"the range sort must sit above the staged frame:\n$plan")
      assertSortedRows(out, docs)
    } finally spark.catalog.clearCache()
  }

  test("sorted, stage then sort: a non-leaf input is staged with zero jobs at declaration") {
    spark.catalog.clearCache()
    try {
      val agg = Tables.documents(spark, sfDir).groupBy("source").count()
      var out: DataFrame = null
      val jobs = jobsOf { out = Staging.sorted(agg, "agg_probe", "source")() }
      assert(jobs == 0, s"sorted ran $jobs jobs declaring a non-leaf input")
      val plan = deepPlan(out)
      assert(plan.contains("InMemoryTableScan"), s"a non-leaf input must be staged:\n$plan")
      assert(out.collect().toSeq == agg.orderBy("source").collect().toSeq,
        "sorted must equal a global orderBy, row for row")
    } finally spark.catalog.clearCache()
  }

  test("scratch conf takes precedence per-session and unsetting restores persist mode") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    assert(Staging.scratchDir(df).isEmpty, "no scratch configured by default in tests")
    spark.conf.set("spark.graft.scratch", "/tmp/somewhere")
    try assert(Staging.scratchDir(df).contains("/tmp/somewhere"))
    finally spark.conf.unset("spark.graft.scratch")
    assert(Staging.scratchDir(df).isEmpty)
  }
}
