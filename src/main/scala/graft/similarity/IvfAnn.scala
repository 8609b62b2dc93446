package graft.similarity

import graft.{Num, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** IVF-Flat approximate nearest neighbors: the learned-centroid scale
  * path complementing LshAnn's data-independent hyperplanes (the two
  * published families for corpus-scale vector search).
  *
  * Index build: cell count is DERIVED from a cheap corpus count —
  * cells ≈ clamp(√n, MinCells, MaxCells), the balance point where cell size and
  * cell count grow together (~√n rows each), so neither the per-query
  * cell ranking (k dots) nor the probed-cell scan (nprobe·n/k rows)
  * degenerates as the corpus grows. A fixed constant would silently
  * stop pruning: 64 cells at 10⁹ vectors is ~10⁷ rows per probed cell.
  * The k-means coarse quantizer trains on a deterministic hashed sample
  * capped at 32·cells rows (see trainCapFor — a starved sample skews
  * the fitted cells and the skew is a measured superlinear term in
  * candidate volume; training cost still grows with √n, not n), then
  * ONE assignment pass maps every vector to its nearest centroid cell. Query: rank the k centroids per query,
  * probe the nprobe = min(MaxProbes, cells) nearest cells
  * (CONSTANT at scale — an unbounded cells fraction makes candidate
  * volume quadratic; the constant is set from a measured recall curve,
  * see numProbesFor), exact cosine ONLY within probed cells via an
  * equi-join on cell id — no all-pairs term. Hot-cell skew is handled
  * BY CONSTRUCTION (the balance splits in `assignCells` cap cell
  * membership), not by AQE: the graph path's fanout join uses explicit
  * user-specified partitioning that AQE's OptimizeSkewedJoin will not
  * re-split (see knnGraph).
  *
  * In production the index (centroids + assignments) is built offline
  * and reused across query batches; the declared query rebuilds it
  * inline to stay self-contained.
  */
object IvfAnn {

  val MinCells = 64

  /** Upper clamp on the cell count, set by QUANTIZER-TRAINING
    * feasibility, not plan size (centroid ranking is a broadcast join —
    * O(1) plan nodes in k): the k-means fit runs on a deterministic
    * driver-collected sample of 32·cells rows, costing ~samples·k·iters
    * distance ops — at 4096 cells that is ~1e10, tens of seconds of
    * offline index build (the assignment step parallelizes across
    * cores, see KMeansFit); at 65536 it would be ~2.7e13,
    * untrainable. 4096 cells is reached at
    * n ≈ 1.7e7 vectors; beyond that the probed fraction grows with n/k,
    * and the escape hatch is a HIERARCHICAL quantizer (a second IVF
    * level inside each coarse cell — k₁·k₂ effective cells with two
    * feasible fits), not a bigger flat k.
    */
  val MaxCells = 4096

  /** cells ≈ √n, clamped; never more cells than vectors (k-means needs
    * k ≤ points).
    */
  private[graft] def numCellsFor(n: Long): Int = {
    val root = math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toInt
    math.min(math.max(root, MinCells), MaxCells).min(math.max(n, 1L).min(Int.MaxValue).toInt)
  }

  /** Upper clamp on nprobe (r15). The old policy — nprobe = cells/8,
    * unbounded — tied recall to a fixed scan FRACTION, which silently
    * destroyed the family's asymptotics: candidate volume became
    * n · (cells/8) · (n/cells) = n²/8, quadratic REGARDLESS of the cell
    * count, and the second measured scaling decade caught exactly that
    * (q_knn_graph 50k→500k exponent 2.03, 547 s, 9.8 GB peak task
    * memory — vs the n^1.5 the scaladoc promised). A bounded nprobe is
    * what the standard IVF recall model prescribes: neighbors
    * concentrate in the query's few nearest cells (the data's cluster
    * count, not the index's cell count, governs how many), so nprobe is
    * a CONSTANT recall knob at scale.
    *
    * 32 (r18, was 16): set from the measured recall-vs-nprobe curve
    * (micro-recall@k of the IVF top-k against `Knn.bruteTopK`, one
    * balanced index per corpus, nprobe swept) across THREE corpus
    * scales — 2k vectors/64 cells, 20k/147, 200k/473:
    *
    * {{{
    * nprobe:        8      16      24      32
    * 2k/64 cells  0.55    0.71    0.82    0.91
    * 20k/147      0.91    1.00    1.00    1.00
    * 200k/473     0.60    0.84    0.94    0.98
    * }}}
    *
    * The curve refutes BOTH proportional rules: a fixed cells/8
    * fraction under-probes small indexes (the r17 gate measured 0.500
    * at the 2k corpus — 8 of 64 cells), and a fixed candidate budget
    * under-probes large ones (1.4k candidates/query is recall 0.91 at
    * 20k but 0.60 at 200k). What holds across all three scales is the
    * standard IVF recall model's prediction — true neighbors
    * concentrate in a roughly CONSTANT number of nearest cells,
    * governed by the data's cluster structure, not by n or cells — so
    * nprobe is a flat constant, bounded only by the cell count itself.
    * 32 clears 0.9 at every measured scale (the LSH leg's 0.85 bar);
    * 24 would dip to 0.82/0.94. The cost is linear in the constant:
    * 2× candidate volume vs the old clamp at the 500k decade point,
    * bought as recall 0.84 → 0.98, with the n^1.5 exponent untouched.
    */
  val MaxProbes = 32

  /** nprobe = min(MaxProbes, cells): probed-candidate volume is
    * then Θ(n·nprobe·n/cells) = Θ(n^1.5 · nprobe) at cells ≈ √n — the
    * documented contract (measured across the 50k→500k decade: wall
    * exponent 2.00 with the pre-r15 unbounded fraction → 1.70 with the
    * clamp + the 32-sample training fix → 1.54 ≈ the model once the
    * balance splits bound the skew term too — see SURVEY §6; the r18
    * constant-nprobe policy moves the CONSTANT, not the exponent).
    */
  private[graft] def numProbesFor(cells: Int): Int =
    math.min(MaxProbes, cells)

  /** Training-sample cap: 32 samples per centroid (hash-ordered —
    * deterministic, id-uncorrelated). 8/centroid through r14 — and that
    * starvation was a measured scale defect, not a tuning nit: with ~9
    * noisy samples per centroid the fitted cells skew (max cell 9.3×
    * the mean at the 500k-doc decade point), probes concentrate on the
    * big cells (candidates = Σ probes_c·s_c ≈ Σ s_c²), and the
    * candidate-volume exponent measured 1.84 instead of the designed
    * 1.5. At 32/centroid + 20 Lloyd iterations the same corpus fits
    * max cell 3.3× mean, candidate volume −27%, and the per-task sort
    * ceiling (hottest cell's candidate mass) −3×. The driver collect
    * this sample feeds stays bounded by construction: ≤ 32·cells = 2^17
    * rows at MaxCells.
    */
  private[graft] def trainCapFor(cells: Int): Int = math.max(4096, 32 * cells)

  /** Normalized + staged vector frame (vec_id, e, norm, u) — the
    * ONE embeddings materialization every family member builds on.
    */
  private[graft] def stagedUnit(vectors: DataFrame): DataFrame =
    graft.Staging.staged(
      vectors.withColumn("u", expr("transform(e, x -> x / norm)")),
      "ivf")

  /** Fixed Lloyd round count for the coarse fit (see KMeansFit: no
    * convergence early-exit — converged rounds are idempotent, and a
    * fixed count is what the cross-engine replay unrolls).
    */
  val LloydIters = 20

  /** The hash-ordered bounded training sample, COLLECTED — the one
    * driver-side materialization the fit and the balance splits share.
    * Order is (xxhash64(vec_id), vec_id) ascending, re-sorted on the
    * driver so the sample index order is a data property, never a plan
    * property (the order is load-bearing: the init prefix, centroid
    * accumulation order, and median cuts all resolve by it, and
    * `KMeansOracle` replays it via the XXH64 HUGEINT arithmetic).
    */
  private[graft] def collectSample(v: DataFrame, cap: Int): Array[Array[Double]] =
    v.select(xxhash64(col("vec_id")).as("h"), col("vec_id"), col("u"))
      .orderBy(col("h"), col("vec_id"))
      .limit(cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Any](2).map(x => x.asInstanceOf[Number].doubleValue).toArray))
      .sortBy(t => (t._1, t._2))
      .map(_._3)

  /** Base (unbalanced) coarse fit — deterministic hash-prefix-init +
    * fixed-Lloyd k-means on the bounded sample (`KMeansFit`).
    */
  private[graft] def fitCoarse(v: DataFrame): Array[Array[Double]] = {
    val cells = numCellsFor(v.count())
    KMeansFit.fit(collectSample(v, trainCapFor(cells)), cells, LloydIters)
  }

  /** Cell-balance bound (r15): a cell whose SAMPLE-estimated size
    * exceeds `CellBalance`× the mean is split by a local 2-means plane
    * (below). The bound is what makes the family's per-task ceiling a
    * CONSTRUCTION guarantee instead of a data property: candidate
    * volume is Σ probed s_c ~ Σ s_c², so the hottest cell is both the
    * biggest candidate term and the per-task sort ceiling — k-means on
    * clustered data leaves max/mean ~3.3× even with the r15 training
    * fix, and the skew GROWS with corpus scale: it was the measured
    * residual between the pre-balance 1.70 decade exponent and the
    * modeled 1.5. With the splits in, the decade measures 1.54 and the
    * kNN graph's peak task memory fell 4.65 GB → 568 MB at the
    * 500k-doc point (242.6 → 176.8 s wall).
    */
  val CellBalance = 2.0

  /** Max split rounds: each round halves the oversized tail, so depth 3
    * bounds any finite starting skew the sample can certify (3.3× mean
    * needs one round; the bound exists so a degenerate cell — identical
    * vectors, unsplittable — terminates instead of looping).
    */
  val MaxSplitRounds = 3

  /** One refinement split: vectors in `cell` route to `left` when
    * u·w > b, else `right`. The direction w comes from a local 2-means
    * (≈ the cell's principal separation axis) but the offset b is the
    * MEDIAN of the cell's sample projections — a mass cut, not the
    * perpendicular bisector. The distinction is load-bearing: bisector
    * cuts split by DIAMETER, and on the exact corpus shape the balance
    * exists for (a near-duplicate point-mass inside a halo cell) they
    * peel the halo off and leave the point-mass whole; the median cut
    * halves the MASS each round by construction, which is the quantity
    * the per-task ceiling is made of. kd-tree-style median cuts are the
    * standard balanced-partition device (e.g. FLANN/annoy-family
    * space-partitioning trees).
    */
  private[graft] case class SplitPlane(
      cell: Int, w: Array[Double], b: Double, left: Int, right: Int)

  /** The coarse quantizer as deployable state (r15): the base k-means
    * model, the split-plane rounds that balance it, the internal→compact
    * leaf-id remap, and the LEAF centroid table queries probe. This is
    * the first rung of the hierarchical-quantizer ladder the MaxCells
    * scaladoc promises: assignment cost stays one base transform plus
    * O(rounds) broadcast-joined sign tests — scan-local, no shuffle, no
    * UDF (`graft_dot` over the joined plane column).
    */
  private[graft] case class Quantizer(
      baseCents: Array[Array[Double]],
      rounds: Seq[Seq[SplitPlane]],
      remap: Map[Int, Int],
      index: CoarseIndex) {
    def k: Int = index.k

    /** Adds the compact leaf `cell` column to any frame carrying the
      * `u` unit-vector column (every `stagedUnit` descendant). The base
      * nearest-centroid step is ONE scan-local codegen'd expression
      * (`graft_argmin_cell` — the centroid table rides along as a
      * bounded flat literal object, the role the fitted model closure
      * played through r15); split routing and the leaf remap stay
      * auto-broadcast joins.
      */
    def assign(spark: SparkSession, v: DataFrame): DataFrame = {
      import spark.implicits._
      val base = v.withColumn("cell",
        call_function("graft_argmin_cell",
          col("u"), typedLit(baseCents.flatten), lit(baseCents.length)))
      val routed = rounds.foldLeft(base) { (df, round) =>
        val planes = round
          .map(p => (p.cell, p.w, p.b, p.left, p.right))
          .toDF("cell", "split_w", "split_b", "split_l", "split_r")
        // No broadcast() hint: the plane table is a tiny LocalRelation
        // whose size the planner knows exactly — auto-broadcast picks it
        // without a hint, and the repo invariant (PlanShapeSpec) is that
        // corpus-scale query plans carry ZERO forced hints.
        df.join(planes, Seq("cell"), "left")
          .withColumn("cell",
            when(col("split_w").isNull, col("cell"))
              .otherwise(when(expr("graft_dot(u, split_w)") > col("split_b"),
                col("split_l")).otherwise(col("split_r"))))
          .drop("split_w", "split_b", "split_l", "split_r")
      }
      val leafMap = remap.toSeq.toDF("cell", "leaf_cell")
      routed
        .join(leafMap, Seq("cell"))
        .withColumn("cell", col("leaf_cell"))
        .drop("leaf_cell")
    }
  }

  /** Deterministic local 2-means over one cell's sample members:
    * farthest-pair seeding (first member maximizing distance to the
    * cell mean, then the member farthest from it; ties break on the
    * lowest sample index), ≤10 Lloyd iterations, ties assign left.
    * Returns None when the cell cannot split (all members identical —
    * one side would be empty), which terminates the balance loop on
    * degenerate data.
    */
  private[graft] def twoMeans(
      ms: IndexedSeq[Array[Double]]): Option[(Array[Double], Array[Double])] = {
    val d = ms.head.length
    def mean(ix: Seq[Int]): Array[Double] = {
      val m = new Array[Double](d)
      ix.foreach(i => { val u = ms(i); var j = 0; while (j < d) { m(j) += u(j); j += 1 } })
      var j = 0; while (j < d) { m(j) /= ix.length; j += 1 }
      m
    }
    // The KMeansFit distance contract — dots in fixed order, so the
    // balance loop replays cross-engine exactly like the base fit.
    def d2(a: Array[Double], b: Array[Double]): Double = KMeansFit.d2(a, b)
    def farthestFrom(p: Array[Double]): Int =
      ms.indices.maxBy(i => (d2(ms(i), p), -i))
    val c0 = mean(ms.indices)
    var c1 = ms(farthestFrom(c0))
    var c2 = ms(farthestFrom(c1))
    if (d2(c1, c2) == 0.0) return None
    var side: Array[Boolean] = null
    var it = 0
    var changed = true
    while (it < 10 && changed) {
      val s = ms.indices.map(i => d2(ms(i), c1) <= d2(ms(i), c2)).toArray
      changed = side == null || !java.util.Arrays.equals(s, side)
      side = s
      val l = ms.indices.filter(side(_)); val r = ms.indices.filterNot(side(_))
      if (l.isEmpty || r.isEmpty) return None
      c1 = mean(l); c2 = mean(r)
      it += 1
    }
    Some((c1, c2))
  }

  /** Fit the base coarse quantizer, then BALANCE it on the training
    * sample: any cell whose sample share exceeds `CellBalance`× the
    * mean splits by a median-mass plane cut along its local 2-means
    * axis (see SplitPlane), recursively up to `MaxSplitRounds`. All split computation runs on
    * the driver over the SAME ≤32·cells-row sample the base fit already
    * concentrates (≤2^17 rows by construction — the bound that makes
    * driver-side training legal at any corpus size); the distributed
    * cost is unchanged one-pass assignment plus O(rounds) broadcast
    * sign tests. Child leaf centroids are the member means; unsplit
    * cells keep their trained centroid; leaf ids compact to [0, k).
    */
  private[graft] def balancedQuantizerOf(spark: SparkSession, v: DataFrame): Quantizer = {
    val cells = numCellsFor(v.count())
    val pts = collectSample(v, trainCapFor(cells))
    val base = KMeansFit.fit(pts, cells, LloydIters)
    val sampAsg = KMeansFit.assignAll(pts, base)
    val samp: Array[(Int, Array[Double])] = sampAsg.zip(pts)
    val members = scala.collection.mutable.Map.empty[Int, Vector[Int]].withDefaultValue(Vector())
    samp.indices.foreach(i => members(samp(i)._1) = members(samp(i)._1) :+ i)
    val centroidOf = scala.collection.mutable.Map.empty[Int, Array[Double]]
    base.zipWithIndex.foreach { case (c, j) => centroidOf(j) = c }
    val threshold = math.max(4.0, CellBalance * samp.length.toDouble / math.max(cells, 1))
    var nextId = cells
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Seq[SplitPlane]]
    var continue = true
    var round = 0
    while (continue && round < MaxSplitRounds) {
      val over = members.keys.filter(c => members(c).length > threshold).toSeq.sorted
      val planes = over.flatMap { c =>
        val ix = members(c)
        twoMeans(ix.map(i => samp(i)._2)) match {
          case Some((m1, m2)) =>
            val d = m1.length
            val w = Array.tabulate(d)(j => m1(j) - m2(j))
            // Median-of-projections offset (see SplitPlane): cut where
            // the sample MASS halves along w, between the two central
            // distinct projection values. Degenerate cells (every
            // member projects identically) cannot split — exact
            // duplicates are dedup's job, not the quantizer's.
            def proj(i: Int): Double = {
              val u = samp(i)._2
              var s = 0.0; var j = 0
              while (j < d) { s += u(j) * w(j); j += 1 }
              s
            }
            val ps = ix.map(proj).sorted
            val mid = ps.length / 2
            val b =
              if (ps(mid) > ps(mid - 1)) (ps(mid) + ps(mid - 1)) / 2.0
              else {
                // central value is a tie run: cut at the nearer of the
                // run's two distinct boundaries (by resulting balance)
                val v = ps(mid)
                val lo = ps.lastIndexWhere(_ < v); val hi = ps.indexWhere(_ > v)
                if (lo < 0 && hi < 0) Double.NaN
                else if (lo < 0) (v + ps(hi)) / 2.0
                else if (hi < 0) (ps(lo) + v) / 2.0
                else if (math.abs(lo + 1 - mid) <= math.abs(hi - mid))
                  (ps(lo) + v) / 2.0
                else (v + ps(hi)) / 2.0
              }
            val (l, r) =
              if (b.isNaN) (ix, Vector.empty[Int]) else ix.partition(proj(_) > b)
            if (l.isEmpty || r.isEmpty) None
            else {
              def meanOf(s: Seq[Int]): Array[Double] = {
                val m = new Array[Double](d)
                s.foreach { i =>
                  val u = samp(i)._2; var j = 0
                  while (j < d) { m(j) += u(j); j += 1 }
                }
                var j = 0; while (j < d) { m(j) /= s.length; j += 1 }
                m
              }
              val (li, ri) = (nextId, nextId + 1); nextId += 2
              members.remove(c); centroidOf.remove(c)
              members(li) = l; members(ri) = r
              centroidOf(li) = meanOf(l); centroidOf(ri) = meanOf(r)
              Some(SplitPlane(c, w, b, li, ri))
            }
          case None => None
        }
      }
      if (planes.isEmpty) continue = false else rounds += planes
      round += 1
    }
    // Compact leaf ids (ascending internal id -> [0, L)): cells the
    // sample never saw keep their base id slot so every POSSIBLE
    // assignment target (any base cell plus every split child) remaps.
    val leafIds = ((0 until cells).filterNot(c =>
      rounds.flatten.exists(_.cell == c)) ++
      rounds.flatten.flatMap(p => Seq(p.left, p.right)).filterNot(c =>
        rounds.flatten.exists(_.cell == c))).sorted
    val remap = leafIds.zipWithIndex.toMap
    import spark.implicits._
    val centDf = leafIds.map { c =>
      (remap(c), centroidOf.getOrElse(c, base(c)))
    }.toDF("cell", "centroid")
      .withColumn("cnorm2", expr("graft_dot(centroid, centroid)"))
    Quantizer(base, rounds.toSeq, remap, CoarseIndex(centDf, leafIds.length))
  }

  /** The ONE index build the query path and the balance/derivation specs
    * all use: normalized+staged vectors and the balanced coarse
    * quantizer (k derived from the staged frame's count — the count is
    * a cheap aggregate over the already-materialized stage).
    */
  private[graft] def indexOf(spark: SparkSession, vectors: DataFrame): (DataFrame, Quantizer) = {
    val v = stagedUnit(vectors)
    (v, balancedQuantizerOf(spark, v))
  }

  private def index(spark: SparkSession, dir: String): (DataFrame, Quantizer) =
    indexOf(spark, Knn.vectors(spark, dir))

  /** The coarse quantizer as DATA — (cell, centroid, cnorm2) rows plus
    * the cell count — the form a lake-resident index takes and the only
    * thing `probeCells` actually needs (a fitted model object is a
    * training-time artifact; probing is pure data).
    */
  private[graft] case class CoarseIndex(centroids: DataFrame, k: Int)


  /** Version tag for the published coarse index (bump on any change to
    * cell derivation, seeding, or training-sample contract).
    */
  val IndexArtifactVersion = "ivf-coarse-sqrtcells-v5-hashinit-balanced"

  /** Coarse index + assigned corpus via the Artifacts contract — the
    * production shape: the quantizer is TRAINED ONCE, its centroids and
    * corpus assignments are published, and every consumer (kNN graph,
    * SemDeDup, diversity sampling, IVF-PQ's coarse stage) reads the
    * committed parquet instead of re-fitting k-means per query.
    * `q_ann_ivf` deliberately stays inline as the timed build authority
    * (the q_dedup_jaccard_prefix convention). Without a root
    * `publishedOrCompute` computes and stages the two frames, so the
    * same join runs over them and the query stays self-contained.
    *
    * The k-means fit is LAZY: with both artifacts already published, no
    * training happens at all — consumers pay one slim (vec_id, cell)
    * join against the staged scan (at 100 TB: one shuffle of 12-byte
    * rows, vs re-training + re-assigning per consumer).
    *
    * Returns (assigned frame (vec_id, e, norm, u, cell), CoarseIndex).
    */
  private[graft] def coarseFor(spark: SparkSession, dir: String): (DataFrame, CoarseIndex) = {
    val v = stagedUnit(Knn.vectors(spark, dir))
    lazy val q = balancedQuantizerOf(spark, v) // forced only when a frame is computed
    val deps = Seq(s"$dir/embeddings.parquet")
    val centroids = graft.sources.Artifacts.publishedOrCompute(
      spark, "ivf_centroids", IndexArtifactVersion, deps)(
      q.index.centroids.select("cell", "centroid"))
    val assignments = graft.sources.Artifacts.publishedOrCompute(
      spark, "ivf_assignments", IndexArtifactVersion, deps)(
      q.assign(spark, v).select(col("vec_id"), col("cell")))
    val idx = CoarseIndex(
      centroids.withColumn("cnorm2", expr("graft_dot(centroid, centroid)")),
      centroids.count().toInt)
    (v.join(assignments, "vec_id")
      .select(col("vec_id"), col("e"), col("norm"), col("u"), col("cell")), idx)
  }

  /** Probed (query, cell) pairs for a query-side frame: rank every
    * coarse centroid per query, keep the nprobe nearest. Centroids enter
    * as DATA (a broadcast k-row frame), not as k literal expression
    * nodes — the plan stays O(1) in k, codegen never sees a 4096-way
    * expression tree, and plan serialization doesn't ship centroids per
    * task. Euclidean ranking on UNIT vectors equals cosine ranking:
    * dist²(u, c) = 1 - 2·u·c + ‖c‖², so cells rank by ‖c‖² - 2·u·c. The
    * query×centroid pairing is a broadcast nested-loop with bounded ×k
    * fanout (the one shape where that node is right: every query must
    * score every coarse cell), then a per-query window keeps the nprobe
    * best. Keeps `u` so PQ callers can derive their lookup tables from
    * the same frame; extra query-side columns pass through untouched.
    */
  private[graft] def probeCells(
      spark: SparkSession, queries: DataFrame, index: CoarseIndex): DataFrame = {
    val wCell = Window.partitionBy("q_id").orderBy(col("score").asc, col("cell").asc)
    queries
      .crossJoin(broadcast(index.centroids))
      .withColumn("score", col("cnorm2") - lit(2d) * expr("graft_dot(u, centroid)"))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= numProbesFor(index.k))
      .drop("centroid", "cnorm2", "score", "crn")
  }

  /** Top-k approximate neighbors for the same query set as
    * Knn.bruteTopK (recall directly measurable).
    */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val (v, q) = index(spark, dir)
    val assigned = q
      .assign(spark, v)
      .select(col("vec_id"), col("e"), col("norm"), col("cell"))
    val probes = probeCells(
      spark,
      v.filter(col("vec_id") < Knn.NumQueries)
        .select(col("vec_id").as("q_id"), col("e").as("qe"), col("norm").as("qn"), col("u")),
      q.index)
      .select("q_id", "qe", "qn", "cell")
    val scored = probes
      .join(assigned.toDF("nbr_id", "ce", "cn", "cell2"),
        col("cell2") === col("cell") && col("nbr_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_dot(qe, ce)") / (col("qn") * col("cn")))
    topKPerQuery(scored)
  }

  /** Per-query top-k over a (q_id, nbr_id, cos) candidate stream,
    * written so Catalyst's InferWindowGroupLimit fires: the filter
    * compares the raw row_number ATTRIBUTE against a literal (the long
    * cast happens AFTER the filter — r10..r14 cast first, which hid
    * the pattern from the rule and silently bought the naive window
    * plan: a full candidate-volume shuffle + sort, 8.8 GB peak task
    * memory at the 500k-doc decade point). With the rule matched, the
    * physical plan carries WindowGroupLimitExec in Partial mode BEFORE
    * the exchange — a per-key bounded top-k on the map side, so each
    * mapper ships at most k rows per q_id it saw — and Final mode
    * after, with the actual Window running over ≤k rows per key.
    * Native operator, whole plan codegen-eligible, no custom code on
    * the hot path (a custom TypedImperativeAggregate heap was
    * prototyped and dropped: ObjectHashAggregate's 128-key sort-based
    * fallback re-materializes the candidate sort for any
    * high-cardinality grouping — same memory shape as the naive
    * window, none of the native path's codegen/plan-visibility).
    */
  private[graft] def topKPerQuery(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Knn.TopK)
      .select(col("q_id"), col("nbr_id"), Num.round4(col("cos")).as("cos"),
        col("rn").cast("long").as("rn"))
      .orderBy("q_id", "rn")
  }

  /** #28e kNN graph: top-k cosine neighbors for EVERY corpus vector —
    * the batch all-vectors variant of `ivfTopK` (whose query side is a
    * small batch). The kNN graph is the input artifact of graph-based
    * curation: near-dup graph clustering, diversity-aware sampling, and
    * retrieval-augmentation neighbor lists all start from it; building
    * it by brute force is the n² wall, and the IVF route is the
    * standard scale path (probe each vector's nprobe nearest cells,
    * exact cosine only within probed cells — candidate volume
    * ~n·nprobe·(n/cells) ≈ n^1.5 at cells ≈ √n, the same within-cell
    * scoping SemDeDup (Abbas et al. 2023) exploits).
    *
    * Scale shape: ONE staged embeddings scan feeds quantizer training,
    * assignment, probe side, and corpus side; the probe fanout is
    * bounded (×nprobe per vector); the candidate join is cell-keyed
    * equi, explicitly partitioned one-partition-per-cell on BOTH sides
    * (r18, see the inline note — skew is handled by construction via
    * the assignCells balance splits, NOT by AQE: the user-specified
    * repartition is invisible to OptimizeSkewedJoin, deliberately, so
    * AQE cannot re-coalesce the fanout stage either); per-query top-k
    * rides the native
    * WindowGroupLimit (r15, see topKPerQuery — Partial mode bounds
    * what each mapper ships to ≤k rows per q_id). Self-pairs drop;
    * emitted cosines are exact (round4'd for output stability).
    */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val (assignedRaw, idx) = coarseFor(spark, dir)
    val assigned = graft.Staging.staged(assignedRaw, "knn_graph_assigned")
    // ONE PARTITION PER COARSE CELL on both join sides (r18). The
    // candidate join's OUTPUT is ~fanout× its input, and AQE sizes
    // partitions by shuffle-READ bytes — blind to fanout — so under
    // the session default this stage got `cores`-many tasks, each
    // sorting 1/cores of the WHOLE candidate stream for the top-k
    // partial: 7.1 GB peak task memory and 45 GB of sort spill at the
    // 500k-doc decade point (and raising the AQE initial-partition
    // headroom was measured useless — AQE re-coalesced it by input
    // bytes, spill unchanged). The operator is the one place the
    // volume model is KNOWN: partitioning by `cell` with numPartitions
    // = k makes per-task candidate mass exactly the per-cell mass the
    // balance splits already bound (≤ ~CellBalance× the mean, i.e.
    // ~2·nprobe·n/k probe rows × the cell's members — 64-partition
    // sorts at the measured decade points instead of 2.4 GB ones).
    // The explicit numPartitions makes this a user-specified
    // repartition AQE will not re-coalesce — which also means
    // OptimizeSkewedJoin will NOT split a hot partition: skew control
    // here is by construction, not adaptive. The balance splits bound
    // the MEMBER side of a cell's mass; they do NOT bound probe
    // POPULARITY — a cell that ranks near many queries concentrates
    // probe rows in its one unsplittable task (bounded in expectation
    // by ~2·nprobe·n/k under the trained quantizer, but an adversarial
    // query distribution can exceed it). Residual, disclosed, two
    // rungs: probe-popularity skew AND per-cell candidate mass growing
    // ~linearly in n (nprobe·n at cells≈√n) — the fix for both at 10⁸+
    // vectors is member-slice replication (join key (cell, slice),
    // probe side replicated ×S), the standard replicated-fragment
    // fanout join, which splits hot tasks regardless of which side
    // made them hot.
    val probes = probeCells(
      spark,
      assigned.select(col("vec_id").as("q_id"), col("e").as("qe"), col("norm").as("qn"), col("u")),
      idx)
      .select("q_id", "qe", "qn", "cell")
      .repartition(idx.k, col("cell"))
    val scored = probes
      .join(
        assigned.select(
          col("vec_id").as("nbr_id"), col("e").as("ce"),
          col("norm").as("cn"), col("cell").as("cell2"))
          .repartition(idx.k, col("cell2")),
        col("cell2") === col("cell") && col("nbr_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_dot(qe, ce)") / (col("qn") * col("cn")))
    topKPerQuery(scored)
  }

  /** The full assigned corpus frame (vec_id, e, norm, cell), built from
    * the ONE staged embeddings scan the index build already pays — the
    * frame SemDedup's within-cell exact pass consumes directly. Handing
    * this out (instead of just (vec_id, cell)) is what keeps the
    * embeddings table at exactly one scan across quantizer training,
    * assignment, and downstream exact scoring: a consumer that re-reads
    * the table to recover e/norm doubles the corpus read at 100 TB.
    */
  private[graft] def assignedVectors(spark: SparkSession, dir: String): DataFrame =
    coarseFor(spark, dir)._1.select(col("vec_id"), col("e"), col("norm"), col("cell"))

  /** Corpus cell assignment alone, exposed for the cell-balance spec —
    * same build as ivfTopK by construction.
    */
  private[graft] def assignments(spark: SparkSession, dir: String): DataFrame =
    assignedVectors(spark, dir).select(col("vec_id"), col("cell"))

  /** Cell assignment over an arbitrary (vec_id, e, norm) frame — the
    * two-corpus-sizes derivation spec drives this directly.
    */
  private[graft] def assignmentsOf(
      spark: SparkSession, vectors: DataFrame): (Int, DataFrame) = {
    val (v, q) = indexOf(spark, vectors)
    (q.k, q.assign(spark, v).select(col("vec_id"), col("cell")))
  }

  // ------------------------------------------------------------------
  // q_ivf_delta (r17): incremental coarse-index maintenance — the
  // q_lex_delta / q_cluster_delta pattern applied to the ANN index,
  // the last standing index without a delta path.

  /** Version tag of the settled (frozen-snapshot) quantizer artifacts.
    * Separate from `IndexArtifactVersion`: the settled index is trained
    * on the settled slice only, so its artifacts must never alias the
    * whole-corpus index's.
    */
  val SettledIndexVersion: String = s"$IndexArtifactVersion-settled-v1"

  /** The settled-slice quantizer as PUBLISHED DEPLOYABLE STATE — not
    * just the leaf-centroid table `coarseFor` publishes for probing,
    * but the full routing structure batch assignment needs: base
    * centroids, split planes, and the leaf remap. All three are
    * bounded driver-side objects (k ≤ MaxCells base cells, ≤ 2^rounds·k
    * planes), so the reconstruct is a collect of dictionary-sized
    * parquet — an artifact HIT trains nothing and scans nothing but the
    * index itself, which is the whole point of a delta path at 100 TB
    * (the miss pays the one settled-corpus fit the snapshot owes).
    *
    * Mixed hit/miss safety: each `pub` call resolves independently, so
    * a PARTIALLY pruned artifact set (e.g. planes pruned, assignments
    * kept) reconstructs some pieces from parquet and recomputes others
    * from the lazily-forced fit. That mix is consistent ONLY because
    * the fit is a pure function of the fingerprinted inputs — same
    * settled slice ⇒ bit-identical base centroids, planes, and remap
    * (hash-ordered sample, fixed Lloyd rounds, deterministic tie
    * breaks; `IvfDeltaSpec` pins it by pruning one artifact and
    * re-running). Any nondeterminism added to the fit (RNG seeding,
    * convergence early-exit, parallel reduction order) breaks this
    * seam FIRST — bump `SettledIndexVersion` and make the pieces
    * all-or-nothing before shipping such a change.
    */
  private[graft] def settledQuantizerFor(
      spark: SparkSession, settled: => DataFrame, deps: Seq[String]): Quantizer = {
    import spark.implicits._
    lazy val q = balancedQuantizerOf(spark, settled) // forced only when a frame is computed
    def pub(name: String)(frame: => DataFrame): DataFrame =
      graft.sources.Artifacts.publishedOrCompute(
        spark, name, SettledIndexVersion, deps)(frame)
    val baseDf = pub("ivf_settled_base")(
      q.baseCents.zipWithIndex.toSeq
        .map { case (c, i) => (i.toLong, c.toSeq) }
        .toDF("idx", "centroid"))
    val planesDf = pub("ivf_settled_planes")(
      q.rounds.zipWithIndex.flatMap { case (ps, r) =>
        ps.map(p =>
          (r.toLong, p.cell.toLong, p.w.toSeq, p.b, p.left.toLong, p.right.toLong))
      }.toDF("round", "cell", "w", "b", "lcell", "rcell"))
    val remapDf = pub("ivf_settled_remap")(
      q.remap.toSeq.map { case (c, l) => (c.toLong, l.toLong) }.toDF("cell", "leaf"))
    val centsDf = pub("ivf_settled_centroids")(q.index.centroids.select("cell", "centroid"))
    def vecOf(a: Any): Array[Double] =
      a.asInstanceOf[scala.collection.Seq[Any]]
        .map(_.asInstanceOf[Number].doubleValue).toArray
    val baseCents = baseDf.orderBy("idx").collect().map(r => vecOf(r.get(1)))
    val rounds = planesDf.collect()
      .map(r => (r.getLong(0).toInt, SplitPlane(
        r.getLong(1).toInt, vecOf(r.get(2)), r.getDouble(3),
        r.getLong(4).toInt, r.getLong(5).toInt)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, ps) => ps.map(_._2).toSeq }
    val remap = remapDf.collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
    Quantizer(baseCents, rounds, remap,
      CoarseIndex(
        centsDf.withColumn("cnorm2", expr("graft_dot(centroid, centroid)")),
        remap.size))
  }

  /** q_ivf_delta: merge an ingest batch (vec_id % 10 == 7 — the repo's
    * standing ingest-slice convention) into the standing coarse index
    * WITHOUT refitting or re-assigning the settled corpus. Centroids
    * are FROZEN at the settled snapshot (the production reality: an
    * index refit is a scheduled event, not a per-batch side effect),
    * the batch pays one assignment pass (scan-local argmin + broadcast
    * sign tests — no shuffle), and the merged membership is the
    * settled assignments (published parquet on the artifacts path)
    * unioned with the batch's. Output is the per-cell health report
    * that doubles as the REFIT TRIGGER: settled/batch/total counts and
    * growth in basis points — the table read to decide when frozen
    * centroids have drifted from the corpus they index.
    *
    * Contract (the cluster-delta contract): merged membership ==
    * assigning the WHOLE corpus against the settled centroids, exactly
    * — assignment is a deterministic per-row function, so the union is
    * equal by construction, and the DuckDB oracle re-proves it every
    * round by BEING the full re-assignment (scoped-training replay,
    * `KMeansOracle.ivfDeltaSql`). `IvfDeltaSpec` pins published-mode
    * parity and the no-refit plan shape.
    */
  def ivfDelta(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup.{DeltaBatchMod, DeltaBatchRem}
    val isBatch = pmod(col("vec_id"), lit(DeltaBatchMod)) === lit(DeltaBatchRem)
    val all = stagedUnit(Knn.vectors(spark, dir))
    val deps = Seq(s"$dir/embeddings.parquet")
    val quant = settledQuantizerFor(spark, all.filter(!isBatch), deps)
    val sAsg = graft.sources.Artifacts.publishedOrCompute(
      spark, "ivf_settled_assignments", SettledIndexVersion, deps)(
      quant.assign(spark, all.filter(!isBatch)).select(col("vec_id"), col("cell")))
    val bAsg = quant.assign(spark, all.filter(isBatch)).select(col("vec_id"), col("cell"))
    sAsg.withColumn("is_batch", lit(false))
      .unionByName(bAsg.withColumn("is_batch", lit(true)))
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(
        count(when(!col("is_batch"), 1)).as("n_settled"),
        count(when(col("is_batch"), 1)).as("n_batch"),
        count(lit(1)).as("n_total"))
      .withColumn("growth_bp",
        when(col("n_settled") > 0, expr("(n_batch * 10000) div n_settled")))
      .orderBy("cell")
  }

  // ------------------------------------------------------------------
  // q_ivf_refit (r19): the POLICY CONSUMER of ivfDelta's growth_bp —
  // the open loop both the r17 and r18 verdicts flagged. ivfDelta
  // publishes the health report; nothing read it. This step reads it,
  // decides, and when due performs the scheduled refit the
  // frozen-centroid contract defers to.

  /** Refit when the unassimilated batch mass reaches this share of the
    * settled corpus (basis points): 1000 bp = 10%. Rationale: the
    * frozen-centroid delta contract keeps BATCH vectors probed through
    * centroids trained without them; the recall model (numProbesFor)
    * assumes the quantizer's cells track the data's cluster structure,
    * and a 10% unassimilated slice is the point where the training
    * sample (32·cells rows) and the indexed corpus have visibly
    * diverged. The repo's standing ingest-slice convention
    * (vec_id % 10 == 7, ~11% of settled) sits just ABOVE this
    * threshold by design, so the declared query exercises the
    * refit-due path end-to-end every round.
    */
  val RefitGrowthBp = 1000L

  /** A single cell that doubled (10000 bp) triggers refit regardless
    * of total mass: local drift concentrates probe candidates in one
    * cell (the per-task ceiling's enemy) long before global growth
    * crosses `RefitGrowthBp`.
    */
  val RefitHotCellBp = 10000L

  /** q_ivf_refit: the refit decision over `ivfDelta`'s per-cell health
    * report, plus — when due and an artifacts root is configured — the
    * scheduled refit itself: the whole-corpus (settled ∪ batch)
    * quantizer is trained and its probe artifacts published under the
    * SAME names every probe consumer reads (`ivf_centroids` /
    * `ivf_assignments`, `coarseFor`) — so q_hybrid_search's semantic
    * leg, the kNN graph, SemDeDup, and diversity sampling serve the
    * refreshed index on their next run (q_ann_ivf stays inline by
    * design, the timed build authority), and
    * identically to a fresh inline build (the fit is a pure function
    * of the fingerprinted inputs; `IvfRefitSpec` pins the parity, the
    * driver's oracles re-prove the consumers every round). Publication
    * goes through `publishedOrCompute`, NOT a prune-and-rebuild: the
    * artifact key is a content fingerprint, so "already published" IS
    * "already refreshed" for unchanged inputs, and a changed corpus
    * gets a new fingerprint and recomputes naturally — the refit is
    * idempotent and never wastes a retrain.
    *
    * Output (one row): total settled/batch mass, aggregate growth in
    * basis points, the hottest cell's growth, hot-cell count, cells
    * born in the batch (no settled member at all — centroid drift in
    * its purest form), and the decision (refit_due). Whether the refit
    * then RAN is an execution-mode property (artifacts root present),
    * not part of the declared result — the oracle is mode-blind SQL —
    * so it is pinned by `IvfRefitSpec`, not by a column.
    */
  def ivfRefit(spark: SparkSession, dir: String): DataFrame = {
    val report = ivfDelta(spark, dir)
    val agg = report.agg(
      sum("n_settled").as("total_settled"),
      sum("n_batch").as("total_batch"),
      max("growth_bp").as("max_cell_growth_bp"),
      count(when(col("growth_bp") >= RefitHotCellBp, 1)).as("hot_cells"),
      count(when(col("n_settled") === 0, 1)).as("new_cells"))
      .withColumn("growth_bp", expr("(total_batch * 10000) div total_settled"))
      .withColumn("refit_due",
        col("growth_bp") >= RefitGrowthBp || col("hot_cells") > 0)
    // ONE execution of the report subtree: the decision aggregate is
    // collected (one dictionary-sized row), and the output frame is
    // rebuilt from the collected values — re-selecting from `agg`
    // would re-run ivfDelta's whole plan a second time at consume.
    val row = agg.collect()(0)
    def l(n: String): Option[Long] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.getLong(i))
    }
    val dueIx = row.fieldIndex("refit_due")
    val due = !row.isNullAt(dueIx) && row.getBoolean(dueIx)
    // Root check kept: without a root there is no published index to refresh.
    if (due && graft.sources.Artifacts.rootDir(spark).isDefined) {
      // The scheduled refit: force the whole-corpus index build through
      // the artifact layer. coarseFor trains (on a miss) the balanced
      // quantizer over settled ∪ batch and publishes exactly the
      // centroid + assignment tables every probe consumer reads —
      // publishedOrCompute materializes eagerly inside the call, so
      // constructing the frame IS the publish; on a hit the refreshed
      // index is already the published one and this is a metadata read.
      coarseFor(spark, dir): Unit
    }
    import spark.implicits._
    Seq((l("total_settled"), l("total_batch"), l("growth_bp"),
      l("max_cell_growth_bp"), l("hot_cells"), l("new_cells"), due))
      .toDF("total_settled", "total_batch", "growth_bp",
        "max_cell_growth_bp", "hot_cells", "new_cells", "refit_due")
  }

  val queries: Seq[Query] = Seq(
    // The k-means family (r15): the deterministic quantizer build —
    // hash-ordered sample, hash-prefix init, fixed Lloyd rounds,
    // balance splits with median-mass cuts, routing, remap — replays
    // end-to-end in DuckDB (KMeansOracle), so all four fit-consuming
    // queries graduate from rows-only to full rows+schema+hash.
    Query("q_ann_ivf", (s, d) => ivfTopK(s, d), KMeansOracle.annIvfSql),
    Query("q_knn_graph", (s, d) => knnGraph(s, d), KMeansOracle.knnGraphSql),
    Query("q_ivf_delta", (s, d) => ivfDelta(s, d), KMeansOracle.ivfDeltaSql),
    // r19: the refit/re-rank POLICY consumers — the decision aggregates
    // over the delta health reports; side effects (artifact republish)
    // are mode-local and excluded from the declared result by design.
    Query("q_ivf_refit", (s, d) => ivfRefit(s, d), KMeansOracle.ivfRefitSql)
  )
}
