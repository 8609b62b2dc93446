package graft.dedup

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Near-dup cluster formation: pairs -> connected components -> one
  * canonical survivor per cluster — the step between near-dup PAIR
  * operators (Dedup / LshAnn) and an actually deduplicated corpus.
  *
  * The reference dedups per primary key at ingest
  * (dj_lol_dcs/lolapi/models.py:68 unique_together); content-level
  * near-dup edges are transitive only through clustering, which a
  * key-constraint engine never needs. At corpus scale this is the
  * min-label connected-components algorithm of the MapReduce CC
  * literature (Rastogi et al., "Finding Connected Components in
  * Map-Reduce in Logarithmic Rounds", ICDE'13 hash-min family): every
  * step is a keyed equi-join + min aggregate — no adjacency matrix, no
  * driver-side graph.
  */
object Clusters {

  /** Iteration cap: hash-min + pointer jumping converges in
    * O(log(longest path)) rounds, so 40 covers any graph a 64-bit id
    * space can hold; hitting the cap means non-convergence (a bug), and
    * the require below turns it into a loud failure instead of silently
    * wrong clusters.
    */
  val MaxIterations = 40

  /** Edge-count gate for the driver-local CC fast path (the default of
    * `connectedComponentsAdaptive`'s `edgeCap`). A cap of 0 — or any
    * non-positive value — NEVER takes the driver path, even on an empty
    * edge set: that is how the equivalence spec pins both paths on one
    * graph, and `0 <= 0` must not silently un-force it (r14).
    * 100k edges is ~1.6 MB collected — the same bounded-by-contract
    * collect class as `substrSearch`'s count-gated match fetch: the
    * gate fetches at most cap + 1 rows.
    */
  val DriverCcEdgeCapDefault = 100000L

  /** Adaptive connected components: same contract as
    * `connectedComponents`, with the execution strategy picked at
    * runtime from the measured edge count — the adaptivity AQE applies
    * to join strategy, applied to the CC loop. Near-dup edge sets are
    * SPARSE relative to the corpus (dedup clusters are small; most
    * docs are singletons that never enter the loop), so at moderate SF
    * the distributed loop's per-round fixed job overhead dwarfs the
    * actual propagation work: a graph under the edge cap is solved as
    * one driver union-find (min-root union = min-label by induction)
    * and one broadcast join, replacing ~8-12 scheduled jobs with one
    * bounded fetch. Above the cap — the 100 TB corpus build, or a delta
    * batch whose touched-component graph outgrows the gate — the
    * hash-min + pointer-jumping loop runs unchanged. The edge frame is
    * staged first so the gate's fetch never re-runs the (expensive)
    * pair mine that produced it, and BOTH paths read the same staged
    * frame.
    */
  private[graft] def connectedComponentsAdaptive(
      vertices: DataFrame, pairs: DataFrame,
      verticesCoverEdges: Boolean = false,
      edgeCap: Long = DriverCcEdgeCapDefault): DataFrame = {
    val spark = vertices.sparkSession
    val edges = graft.Staging.staged(pairs.select("a", "b"), "cc_edges_in")
    // One bounded fetch both decides and collects: more than `edgeCap`
    // rows means the distributed loop.
    val fetched =
      if (edgeCap > 0) edges.limit(math.min(edgeCap + 1, Int.MaxValue.toLong).toInt).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (edgeCap > 0 && fetched.length <= edgeCap) {
      val es = fetched.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      // Union by MIN root: every node starts as its own root, so a
      // component's root is always its minimum member id — exactly the
      // min-label the distributed loop converges to.
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      import spark.implicits._
      val labelDf = parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "label")
      // Contract parity with the distributed loop (r14): `connectedComponents`
      // emits a row for every EDGE-INCIDENT id even when it is absent from
      // `vertices` (its output is labels ∪ vertex singletons), so the fast
      // path must too — otherwise a caller whose pairs mention an id outside
      // the vertex frame would get cap-dependent row sets. Membership is
      // resolved with one broadcast left-semi scan of the vertex frame
      // (build side is the ≤2·cap endpoint set — no shuffle), and the
      // collect is bounded by the same edge cap that admitted this path.
      // Callers whose pairs are BY CONSTRUCTION mined from the vertex
      // frame (dedupClusters: vertices = all doc ids; cluster_delta's
      // standing pass: settled docs × settled index) declare it via
      // `verticesCoverEdges` and skip the probe — the extras set is
      // provably empty there, and the probe's full vertex scan is the
      // fast path's only corpus-scale job (r15, per ADVICE).
      val extra =
        if (verticesCoverEdges) spark.emptyDataset[(Long, Long)].toDF("id", "label")
        else {
          val presentEndpoints = vertices.select("id")
            .join(broadcast(labelDf.select("id")), Seq("id"), "left_semi")
            .collect().map(_.getLong(0)).toSet
          parent.keys.toSeq.filterNot(presentEndpoints)
            .map(id => (id, find(id))).toDF("id", "label")
        }
      // No eager count: this path holds no checkpoint to release, so the
      // staged labels are built by their first consumer.
      graft.Staging.staged(
        vertices
          .join(broadcast(labelDf), Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
          .unionByName(extra),
        "cc_labels")
    } else connectedComponents(vertices, edges)
  }

  /** Min-label connected components over undirected pair edges.
    *
    * @param vertices single column `id` (long): every node, including
    *                 isolated docs that appear in no pair
    * @param pairs    columns `a`, `b`: undirected near-dup edges
    * @return (id, label) where label = min id of the component
    *
    * Each round does (1) hash-min propagation — every vertex takes the
    * min label over itself and its neighbors (one equi-join on src +
    * one groupBy(id).min) — and (2) DOUBLED pointer jumping — label(v)
    * <- label(label(label(v))) (two chained self-joins on label), which
    * quadruples the distance a min travels per round and gives the
    * O(log n) bound plain propagation (O(diameter)) lacks. Two hops
    * instead of one (r13): at production SF the per-round fixed job
    * overhead (scheduling + checkpoint materialization + convergence
    * aggregate) dominates the keyed joins, so trading one extra
    * in-round join for ~half the rounds is a straight win; labels are
    * always vertex ids present in the frame, so the second hop's join
    * matches by the same invariant as the first. Labels only ever
    * decrease, so sum(label) strictly decreases until the fixpoint:
    * convergence is ONE scalar aggregate per round, no change-count
    * join.
    *
    * Scale shape: both joins shuffle on (id | label) — high-cardinality
    * keys, never the payload. The loop runs over EDGE-INCIDENT vertices
    * only: a vertex in no pair can never change label, and near-dup
    * edges are sparse relative to the corpus (billions of docs, few
    * clusters), so iterating the full vertex set would shuffle the
    * whole corpus once per round for nothing — singletons are appended
    * once, outside the loop, as their own cluster. Each round's result
    * is localCheckpoint'd (eager): iterative joins otherwise stack
    * lineage until planning time explodes, and a lost-block recompute
    * would replay every prior round. Edges are checkpointed once and
    * reused by every round.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      // Lazy: the initial labelSum's job depends on this RDD through
      // edgeVertices → labels, so both checkpoints materialize in that
      // one job instead of two eager up-front jobs.
      .localCheckpoint(false)
    val edgeVertices = edges.select(col("src").as("id")).distinct()
    // Lazy, like the in-loop rounds: the initial labelSum below is the
    // first action and materializes this checkpoint in the same job.
    var labels = edgeVertices.withColumn("label", col("id")).localCheckpoint(false)
    // localCheckpoint blocks are NOT CacheManager entries: the
    // session-level `clearCache()` the harness runs between queries
    // never frees them, so without explicit release every CC invocation
    // leaked 2 + 2·rounds persisted RDDs into executor storage for the
    // session's lifetime (r12 measured UNRELATED queries ~1.3-1.4×
    // slower after CC-heavy ones in one bench session, compounding
    // round over round). Superseded rounds release eagerly below; the
    // terminal checkpoint is copied into a clearCache-managed staged
    // frame before release. An unpersisted local checkpoint is
    // UNRECOVERABLE (truncated lineage), so release strictly follows
    // materialization of whatever replaces it.
    // Labels only ever decrease, so the label sum strictly decreases
    // until the fixpoint. Summed as Decimal(38,0): a long sum can wrap
    // with adversarially large 64-bit ids, and a wrapped-equal sum would
    // falsely signal convergence; 38 digits hold sum(2^63) over 1e19
    // vertices exactly.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))))
        .head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    // try/finally (r13): if any in-loop action throws (or the
    // convergence require fires), the current labels and the edges
    // checkpoints must still be released — a long-lived session that
    // catches and retries would otherwise re-accumulate exactly the
    // storage leak releaseCheckpoint exists to prevent. unpersist is
    // idempotent, so the finally may double-release the happy path's
    // already-released frames harmlessly.
    try {
      while (!converged && iter < MaxIterations) {
        val msgs = edges
          .join(labels.select(col("id").as("src"), col("label")), "src")
          .select(col("dst").as("id"), col("label"))
        val propagated = labels.union(msgs).groupBy("id").agg(min("label").as("label"))
        // Doubled pointer jump. Every label IS a vertex id (labels
        // start as ids and min only selects among them) and each hop
        // preserves that invariant, so both joins always match.
        def jump(df: DataFrame): DataFrame = df
          .join(df.select(col("id").as("pid"), col("label").as("plabel")), col("label") === col("pid"))
          .select(col("id"), col("plabel").as("label"))
        // LAZY checkpoint (r13): the convergence aggregate right below is
        // the round's first action, so it materializes the checkpoint as
        // it runs — one job per round where eager-checkpoint-then-sum
        // paid two (per-round fixed job overhead is the dominant cost at
        // small SF and the driver-side floor at any SF). Lineage is
        // truncated at materialization exactly as with the eager form.
        val jumped = jump(jump(propagated)).localCheckpoint(false)
        val s = labelSum(jumped)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        graft.Staging.releaseCheckpoint(labels)
        labels = jumped
        iter += 1
      }
      require(converged, s"connectedComponents did not converge in $MaxIterations rounds")
      val singletons = vertices
        .select("id")
        .join(labels.select("id"), Seq("id"), "left_anti")
        .withColumn("label", col("id"))
      // Copy the result into the session cache (clearCache-managed, and
      // downstream consumers read the labels 2-3 times anyway), force
      // it, then release the terminal checkpoint + edges (the finally).
      val out = graft.Staging.staged(labels.unionByName(singletons), "cc_labels")
      out.count()
      out
    } finally {
      graft.Staging.releaseCheckpoint(labels)
      graft.Staging.releaseCheckpoint(edges)
    }
  }

  /** Declared query: cluster the 3-gram-Jaccard near-dup pairs
    * (Dedup.jaccardPrefix, tau = 0.8) over ALL documents — singletons
    * are their own cluster — and mark the canonical survivor
    * (min doc_id) per cluster. Downstream corpus dedup is then
    * `filter(is_keeper)`.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersOf(Tables.documents(spark, dir))

  /** Frame-level dedupClusters: any (doc_id, text) frame. */
  private[graft] def dedupClustersOf(docs: DataFrame): DataFrame =
    connectedComponentsAdaptive(
      docs.select(col("doc_id").as("id")),
      Dedup.jaccardPrefixOf(docs).select("a", "b"),
      // Pairs are mined FROM docs, so every endpoint is a vertex.
      verticesCoverEdges = true)
      .select(
        col("id").as("doc_id"),
        col("label").as("cluster_id"),
        (col("id") === col("label")).as("is_keeper"))
      .orderBy("doc_id")

  /** Version tag folded into the artifact fingerprint: bump whenever the
    * clustering algorithm or its parameters change meaning, so stale
    * published tables are never mistaken for fresh ones.
    */
  val ArtifactVersion = "jaccard3gram-tau0.8-minlabel-v1"

  /** Artifact-aware accessor: the PUBLISHED cluster table when an
    * artifacts root is configured (first consumer computes and
    * publishes; every later consumer reads the committed parquet),
    * inline `dedupClusters` otherwise. This is the deployment shape —
    * the cluster table is the most expensive derived artifact in the
    * pipeline and feeds leakage-safe splits, shard export, and corpus
    * dedup; computing it once per consumer multiplies that cost by its
    * fan-out.
    */
  def publishedClusters(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Artifacts.publishedOrCompute(
      spark, "dedup_clusters", ArtifactVersion, Seq(s"$dir/documents.parquet"))(
      dedupClusters(spark, dir))

  /** Incremental cluster maintenance: merge a delta batch
    * (doc_id % 10 == 7, the same stand-in as q_dedup_delta) into the
    * standing cluster table WITHOUT recomputing corpus×corpus pairs —
    * the daily-ingest shape of keeping a published cluster artifact
    * fresh at 100 TB.
    *
    * The full-corpus edge set is (settled-settled edges, already folded
    * into the standing labels) ∪ (batch-incident edges, exactly what
    * `Dedup.dedupDelta` emits, lossless by the prefix theorem) — so
    * connected components over the full corpus equal the standing
    * components merged along delta edges. The merge runs on a
    * SUPER-VERTEX graph: each settled endpoint is projected to its
    * standing cluster id, each batch endpoint stands for itself, so the
    * graph has one vertex per TOUCHED component or batch doc — its size
    * scales with the batch, never the corpus. Because min-label CC makes
    * every cluster id the minimum member id, the merged component's min
    * super-vertex id IS the global min member id: labels come out
    * identical to a full recompute, and the DuckDB oracle for this query
    * is literally q_dedup_clusters' recursive CTE — an incremental
    * algorithm held to the full-recompute answer.
    *
    * The standing state is recomputed inline over the settled slice for
    * self-containment (in production it is the PUBLISHED artifact of
    * yesterday's run — consumed via Artifacts when a root is configured,
    * same contract as leakageSafeSplit; the batch-restricted delta join
    * is the only corpus-touching work of the day).
    */
  def clusterDelta(spark: SparkSession, dir: String): DataFrame =
    clusterDeltaOf(
      Tables.documents(spark, dir),
      Dedup.standingIndex(spark, dir),
      standing => graft.sources.Artifacts.publishedOrCompute(
        spark, "dedup_clusters_settled",
        // The settled slice's CONTENT depends on the batch definition
        // (settled = NOT in the delta batch), so the batch parameters
        // join the version key — changing them must invalidate the
        // artifact, not silently serve yesterday's slice.
        s"$ArtifactVersion-batch${Dedup.DeltaBatchMod}r${Dedup.DeltaBatchRem}",
        Seq(s"$dir/documents.parquet"))(standing()))

  /** Frame-level clusterDelta. `index` is the standing (shingle,
    * prefix) index of `allDocs` and `viaArtifact` wraps the
    * standing-state computation (the declared query routes both through
    * the Artifacts contract; property tests pass the default wrapper).
    *
    * The standing computation is passed as a THUNK (r12):
    * `connectedComponents` is eager (its convergence loop runs actions
    * at call time), so a `DataFrame` parameter would execute the full
    * settled mine + clustering even when the published artifact makes
    * it dead — in published mode the daily run must pay the
    * batch-incident work only, which was the design claim all along.
    */
  private[graft] def clusterDeltaOf(
      allDocs: DataFrame,
      index: (DataFrame, DataFrame),
      viaArtifact: (() => DataFrame) => DataFrame = th => th()): DataFrame = {
    import org.apache.spark.sql.Column
    val isBatch = (c: Column) => pmod(c, lit(Dedup.DeltaBatchMod)) === lit(Dedup.DeltaBatchRem)
    // ONE staged shingle + prefix index serves BOTH halves (the r8 scan
    // audit found the standing and delta computations each staging
    // their own — 11 documents scans inline). The prefix theorem only
    // needs a total shingle order COMMON to a pair, so full-corpus df
    // ranks are a valid order for the settled-only join too (the same
    // frozen-rank argument q_dedup_delta already relies on), and the
    // exact verify makes the pair sets identical either way. This also
    // models production truthfully: there is one lake-resident index,
    // not one per consumer.
    val (sh, prefix) = index
    val settledPrefix = prefix.filter(!isBatch(col("doc_id")))
    // Settled and delta candidate sets both pass the PPJoin+ filters
    // (r11, same conservative pruning as the full-corpus authority —
    // positions ride the shared/published prefix index).
    def settledPairs = Dedup.minePairs(settledPrefix, settledPrefix, sh, 0.8)
    val standing = viaArtifact(() =>
      connectedComponentsAdaptive(
        allDocs.filter(!isBatch(col("doc_id"))).select(col("doc_id").as("id")),
        settledPairs.select("a", "b"),
        // Settled pairs are mined settled × settled: endpoints ⊆ vertices.
        verticesCoverEdges = true)
        .select(col("id").as("doc_id"), col("label").as("cluster_id")))
    // Batch-incident pairs from the SAME index (the dedupDelta shape).
    // STAGED (r12): the pair frame is tiny by contract (batch-incident
    // near-dup links) but its mine is the query's expensive subtree —
    // unstaged, every downstream consumer (super-edge projection, the
    // CC loop's vertex/singleton legs, the final batch join) re-ran the
    // collision join + PPJoin groupBy + exact verify; the r11 stage
    // audit measured the mine recomputed 3-4x, ~2/3 of query wall time.
    val batchPrefix = prefix.filter(isBatch(col("doc_id")))
    val delta = graft.Staging.staged(
      Dedup.minePairs(batchPrefix, prefix, sh, 0.8).select("a", "b"), "delta_pairs_cd")
    // Super-vertex projection + merge over the touched subgraph only.
    val mapped = delta
      .join(standing.toDF("a", "ca"), Seq("a"), "left")
      .join(standing.toDF("b", "cb"), Seq("b"), "left")
      .select(
        coalesce(col("ca"), col("a")).as("sa"),
        coalesce(col("cb"), col("b")).as("sb"))
      .filter(col("sa") =!= col("sb"))
    // Super-edges go to CC raw (r14): min-label CC is invariant to edge
    // multiplicity and orientation, so the least/greatest + distinct
    // canonicalization bought nothing but a full shuffle of the edge
    // frame, and the CC contract (r14: BOTH paths emit a label for
    // every edge-incident id) makes the vertex frame redundant here —
    // every super-vertex IS an endpoint; the touched subgraph has no
    // singletons by construction. Three scheduled jobs (distinct
    // shuffle, vertex union-distinct, the extra staging count) drop
    // from the per-batch fixed cost, which the CPU-phase profile showed
    // dominates this query's wall time at small SF.
    val merged = connectedComponentsAdaptive(
      mapped.sparkSession.range(0).toDF("id"),
      mapped.select(col("sa").as("a"), col("sb").as("b")))
    val settledFinal = standing
      .join(merged.toDF("cluster_id", "nl"), Seq("cluster_id"), "left")
      .select(col("doc_id"), coalesce(col("nl"), col("cluster_id")).as("cluster_id"))
    val batchFinal = allDocs
      .filter(isBatch(col("doc_id")))
      .select(col("doc_id"))
      .join(merged.toDF("bid", "nl"), col("doc_id") === col("bid"), "left")
      .select(col("doc_id"), coalesce(col("nl"), col("doc_id")).as("cluster_id"))
    settledFinal
      .unionByName(batchFinal)
      .select(
        col("doc_id"),
        col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Quality-aware cluster representative selection: per near-dup
    * cluster, keep the HIGHEST-QUALITY member (lowest freq-rank score,
    * doc_id tie-break) instead of `dedupClusters`' arbitrary min-id
    * keeper — the practice real curation pipelines run, because
    * near-duplicates differ exactly in the junk (boilerplate variants,
    * OCR noise) that the quality score measures. Composes the two
    * published artifacts of the pipeline: the cluster table (consumed
    * via the Artifacts contract when a root is configured, same as
    * leakageSafeSplit) and the freq-rank scorer.
    *
    * Scale shape: the only new work over its two inputs is a window
    * partitioned by cluster_id — near-dup clusters are small by
    * construction (bounded member counts), so partitions are bounded;
    * the join is doc_id-keyed. Output is cluster-cardinality.
    */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("mean_rank").asc, col("doc_id").asc)
    publishedClusters(spark, dir)
      .select("doc_id", "cluster_id")
      .join(
        graft.functions.QualityFilters.freqRankQuality(spark, dir)
          .select("doc_id", "mean_rank"),
        "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc"), col("mean_rank"))
      .orderBy("cluster_id")
  }

  /** Shared recursive-closure CTEs (DuckDB): 3-gram shingles → >= 0.8
    * Jaccard pairs → undirected edges → `walk` = transitive reachability
    * from every doc. Used by the clustering oracles below and by the
    * `Splits` leakage-safe-split and `CurationRun` funnel oracles.
    */
  private[graft] lazy val ClusterWalkCtes =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS i
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sg
      |  FROM tok t1
      |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
      |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2
      |), cand AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      |  FROM sh x JOIN sh y ON x.sg = y.sg AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), pairs AS (
      |  SELECT c.a, c.b
      |  FROM cand c
      |  JOIN sizes sa ON c.a = sa.doc_id
      |  JOIN sizes sb ON c.b = sb.doc_id
      |  WHERE c.inter * 1.0 / (sa.n + sb.n - c.inter) >= 0.8
      |), edges AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION ALL
      |  SELECT b, a FROM pairs
      |), walk(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src
      |)""".stripMargin

  val queries: Seq[Query] = Seq(
    // Transitive closure over the same >= 0.8 Jaccard edge set via a
    // recursive CTE: min reachable doc_id = cluster id.
    Query("q_dedup_clusters", (s, d) => dedupClusters(s, d),
      s"""WITH RECURSIVE $ClusterWalkCtes
        |SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS is_keeper
        |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin),
    // The incremental maintainer is held to the FULL-RECOMPUTE answer:
    // identical oracle to q_dedup_clusters — merging standing components
    // along batch-incident edges must reproduce corpus-wide CC exactly.
    Query("q_cluster_delta", (s, d) => clusterDelta(s, d),
      s"""WITH RECURSIVE $ClusterWalkCtes
        |SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS is_keeper
        |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin),
    // Same closure joined to the freq-rank score: per cluster the
    // winner is argmin (mean_rank, doc_id) — row_number in both engines
    Query("q_dedup_keep_best", (s, d) => keepBest(s, d),
      s"""WITH RECURSIVE $ClusterWalkCtes, cl AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id
        |), fr AS (
        |${graft.functions.QualityFilters.FreqRankSql}
        |), ranked AS (
        |  SELECT cl.cluster_id, f.doc_id, f.mean_rank,
        |    row_number() OVER (PARTITION BY cl.cluster_id ORDER BY f.mean_rank ASC, f.doc_id ASC) AS rn
        |  FROM cl JOIN fr f ON cl.doc_id = f.doc_id
        |)
        |SELECT cluster_id, doc_id AS keep_doc, mean_rank
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin)
  )
}
