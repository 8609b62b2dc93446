package graft

import graft.dedup.Clusters
import org.apache.spark.sql.functions._

class ClustersSpec extends SparkSpec {
  import spark.implicits._

  private def cc(vertices: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Clusters
      .connectedComponents(vertices.toDF("id"), pairs.toDF("a", "b"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  test("connected components labels transitive closures with the min id, singletons included") {
    val labels = cc(1L to 7L, Seq((1L, 2L), (2L, 3L), (5L, 6L)))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("no pairs at all: every vertex is its own singleton cluster") {
    val labels = cc(1L to 5L, Seq.empty)
    assert(labels == (1L to 5L).map(i => i -> i).toMap)
  }

  test("a long chain converges (pointer jumping beats the diameter bound)") {
    // Path graph 1-2-...-100 in the worst orientation for min propagation:
    // plain per-round propagation needs ~n rounds; hash-min + pointer
    // jumping must finish within the O(log n) MaxIterations cap.
    val n = 100L
    val labels = cc(1L to n, (1L until n).map(i => (i + 1, i)))
    assert(labels.values.toSet == Set(1L), "whole chain is one component labeled by its min")
  }

  test("connectedComponents releases every checkpoint it creates (no session-lifetime leak)") {
    // Local-checkpoint blocks are not CacheManager entries, so
    // clearCache() can't free them — the r12 leak measured unrelated
    // queries ~1.3-1.4x slower after CC-heavy ones in one bench
    // session. This pins the explicit-release contract: after the
    // result is consumed and the session cache cleared, the persistent
    // RDD set must return to its pre-invocation state.
    // Track only the ids ADDED by this invocation (r13): the old
    // gc+sleep baseline stabilization was timing-dependent — a slow
    // async cleanup before the snapshot left stale ids in `before`
    // that could mask a real leak, and a loaded host could flake it.
    // Intersecting the post-clearCache set with the ids the call
    // created needs no timing assumptions at all.
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Clusters.connectedComponents(
      (1L to 50L).toDF("id"),
      (1L until 50L).map(i => (i + 1, i)).toDF("a", "b"))
    out.count()
    val added = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(added.nonEmpty, "the call must have persisted at least its staged result")
    spark.catalog.clearCache()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.intersect(added)
    assert(leaked.isEmpty,
      s"CC leaked ${leaked.size} persisted RDD(s) past clearCache: ids $leaked")
  }

  test("adaptive CC: driver union-find fast path equals the distributed loop exactly") {
    // The edge cap forces each path in turn on the SAME graph: a huge
    // cap takes the driver union-find, cap 0 the hash-min loop. Random
    // multi-edge graphs with self-dups and both orientations exercise
    // the min-label invariant beyond the fixed testdata.
    import spark.implicits._
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 3) {
      val n = 200L
      val pairs = Seq.fill(150)((rnd.nextInt(200).toLong + 1, rnd.nextInt(200).toLong + 1))
        .filter { case (a, b) => a != b }
        .toDF("a", "b")
      val vertices = (1L to n).toDF("id")
      val fast = Clusters.connectedComponentsAdaptive(vertices, pairs, edgeCap = 1000000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.catalog.clearCache()
      val dist = Clusters.connectedComponentsAdaptive(vertices, pairs, edgeCap = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.catalog.clearCache()
      assert(fast.size == n && fast == dist,
        s"trial $trial: paths disagree on ${fast.toSet.diff(dist.toSet).take(5)}")
    }
    // Extreme ids: negative and near-Long.MaxValue vertices exercise the
    // distributed path's Decimal(38) convergence sum (a long sum could
    // wrap to a false fixpoint) and the driver path's min-root ordering
    // on the same graph.
    val ids = Seq(Long.MinValue + 1, -7L, -1L, 0L, 5L, Long.MaxValue - 1, Long.MaxValue)
    val extremePairs = Seq(
      (Long.MinValue + 1, Long.MaxValue),
      (Long.MaxValue - 1, Long.MaxValue),
      (-7L, 5L)).toDF("a", "b")
    val extremeVerts = ids.toDF("id")
    val fastX = Clusters.connectedComponentsAdaptive(extremeVerts, extremePairs, edgeCap = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val distX = Clusters.connectedComponentsAdaptive(extremeVerts, extremePairs, edgeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(fastX == distX, s"extreme-id graph: $fastX vs $distX")
    assert(fastX(Long.MaxValue) == Long.MinValue + 1 && fastX(-7L) == -7L && fastX(0L) == 0L,
      s"extreme-id labels wrong: $fastX")
    // Edge endpoints ABSENT from the vertex frame (r14): the distributed
    // loop emits a row for every edge-incident id (labels ∪ vertex
    // singletons) even when it is not in `vertices`; the driver fast
    // path must return the identical row SET, not just agree on the
    // vertices — otherwise results would depend on the cap.
    val vSub = Seq(1L, 2L, 9L).toDF("id")             // 3 and 4 only appear in pairs
    val pSub = Seq((1L, 3L), (3L, 4L)).toDF("a", "b") // component {1,3,4}, 2 and 9 singletons
    val fastS = Clusters.connectedComponentsAdaptive(vSub, pSub, edgeCap = 1000000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val distS = Clusters.connectedComponentsAdaptive(vSub, pSub, edgeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(fastS == distS, s"endpoint-outside-vertices graph: $fastS vs $distS")
    assert(fastS == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 1L, 9L -> 9L),
      s"edge-incident non-vertices must be labeled too: $fastS")
  }

  test("adaptive CC: cap = |edges| runs the driver path, |edges| - 1 the loop, same rows") {
    // The gate fetches at most cap + 1 edges and takes the driver path
    // only when it got no more than cap. Edges spread over 3 partitions
    // so the bounded fetch has to read past the first one. Which path
    // ran is visible in the result's plan: only the distributed loop
    // reads local checkpoints (LogicalRDD leaves).
    import org.apache.spark.sql.execution.LogicalRDD
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 6L), (9L, 8L)).toDF("a", "b").repartition(3)
    val vertices = (1L to 10L).toDF("id")
    def run(cap: Long): (Map[Long, Long], Boolean) =
      try {
        val out = Clusters.connectedComponentsAdaptive(vertices, pairs, edgeCap = cap)
        val distributed = out.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD])
        (out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, distributed)
      } finally spark.catalog.clearCache()
    val (atCap, atCapDistributed) = run(5L)
    val (belowCap, belowCapDistributed) = run(4L)
    assert(!atCapDistributed, "cap = |edges| must take the driver union-find")
    assert(belowCapDistributed, "cap = |edges| - 1 must take the distributed loop")
    assert(atCap == belowCap, s"labels differ across the cap boundary: $atCap vs $belowCap")
    assert(atCap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 5L,
      8L -> 8L, 9L -> 8L, 10L -> 10L))
  }

  test("driverEdgeCap=0 forces the distributed loop even on an empty edge set") {
    // `0 <= 0` used to admit the driver path for empty graphs, silently
    // un-forcing the spec's pin (r14: gate is now cap > 0 && count <= cap).
    // The distributed loop is observable by the local checkpoints it
    // creates and releases; the driver path creates none.
    import spark.implicits._
    spark.catalog.clearCache()
    try {
      val out = Clusters.connectedComponentsAdaptive(
        (1L to 4L).toDF("id"), Seq.empty[(Long, Long)].toDF("a", "b"), edgeCap = 0L)
      assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        (1L to 4L).map(i => i -> i).toMap)
    } finally spark.catalog.clearCache()
  }

  test("leakage-safe split keeps every near-dup cluster inside one split") {
    val s = SparkEntry.queries("q_split_leakage_safe")(spark, sfDir)
    val rows = s.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(rows.length == Tables.documents(spark, sfDir).count(), "every doc gets a split")
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $cid straddles splits: ${members.map(_._3).distinct.toSeq}")
    }
    // near-dup PAIRS can therefore never leak across train/test
    val split = rows.map(r => r._1 -> r._3).toMap
    SparkEntry.queries("q_dedup_jaccard_prefix")(spark, sfDir)
      .select("a", "b").collect().foreach { r =>
        assert(split(r.getLong(0)) == split(r.getLong(1)), "paired docs in different splits")
      }
    val frac = rows.count(_._3 == "train").toDouble / rows.length
    assert(frac > 0.6 && frac < 0.95, s"train fraction $frac out of band")
  }

  test("q_dedup_clusters covers every doc with exactly one keeper per cluster") {
    val out = SparkEntry.queries("q_dedup_clusters")(spark, sfDir)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val docs = Tables.documents(spark, sfDir).count()
    assert(rows.length == docs, "every document gets a cluster row")
    // exactly one keeper per cluster, and it is the min doc_id
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._3) == 1, s"cluster $cid must have exactly one keeper")
      assert(members.filter(_._3).head._1 == members.map(_._1).min && cid == members.map(_._1).min,
        s"cluster $cid keeper/label must be the min doc_id")
    }
    // cluster assignment IS the transitive closure of the pair edges:
    // two docs share a cluster iff they are connected through pairs.
    val pairs = SparkEntry.queries("q_dedup_jaccard_prefix")(spark, sfDir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "test data must contain near-dup pairs")
    val label = rows.map(r => r._1 -> r._2).toMap
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"paired docs $a,$b must share a cluster")
    }
    // and the component count matches a reference union-find closure
    val parent = scala.collection.mutable.Map(rows.map(r => r._1 -> r._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val expected = rows.map(r => find(r._1)).distinct.length
    assert(rows.map(_._2).distinct.length == expected,
      "cluster count must equal the union-find component count (no over-merging)")
  }

  test("clusterDelta (incremental merge) equals the full recompute exactly") {
    spark.catalog.clearCache()
    val full = Clusters.dedupClusters(spark, sfDir).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val inc = Clusters.clusterDelta(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(inc == full,
      "standing components merged along batch-incident edges must reproduce corpus-wide CC")
    spark.catalog.clearCache()
  }

  test("clusterDelta in published mode consumes the standing artifact and stays exact") {
    spark.catalog.clearCache()
    val full = Clusters.dedupClusters(spark, sfDir).collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    val root = java.nio.file.Files.createTempDirectory("graft_artifacts_cd").toString
    spark.conf.set("spark.graft.artifacts", root)
    try {
      // First run publishes the standing (settled-slice) cluster table...
      assert(Clusters.clusterDelta(spark, sfDir).collect().map(_.toSeq).toSeq == full)
      assert(new java.io.File(s"$root/dedup_clusters_settled").exists(),
        "standing state was not published")
      spark.catalog.clearCache()
      // ...the daily re-run consumes it (only delta work recomputed).
      assert(Clusters.clusterDelta(spark, sfDir).collect().map(_.toSeq).toSeq == full)
    } finally {
      spark.conf.unset("spark.graft.artifacts")
      spark.catalog.clearCache()
    }
  }

  test("keepBest picks exactly one member per cluster: the (quality, id) argmin") {
    val clusters = Clusters.dedupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val scores = graft.functions.QualityFilters.freqRankQuality(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val best = Clusters.keepBest(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // one row per cluster, covering every cluster
    val clusterIds = clusters.map(_._2).toSet
    assert(best.map(_._1).toSet == clusterIds, "every cluster gets a representative")
    assert(best.length == clusterIds.size, "exactly one representative per cluster")
    // the representative is the cluster's (mean_rank, doc_id) argmin
    val members = clusters.groupBy(_._2)
    for ((cid, keepDoc, rank) <- best) {
      val expected = members(cid).map(_._1).minBy(d => (scores(d), d))
      assert(keepDoc == expected, s"cluster $cid kept $keepDoc, expected $expected")
      assert(rank == scores(keepDoc), s"cluster $cid carries a stale score")
      assert(members(cid).exists(_._1 == keepDoc), s"cluster $cid keeper not a member")
    }
  }
}
