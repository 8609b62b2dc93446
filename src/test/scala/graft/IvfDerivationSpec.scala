package graft

import graft.similarity.IvfAnn
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the IVF index derivation: cell count grows ~sqrt(n) with both
  * clamps, and `assignmentsOf` builds a complete, in-range cell
  * assignment at different corpus sizes (the derivation is driven by the
  * DATA, not a constant).
  */
class IvfDerivationSpec extends SparkSpec {

  test("numCellsFor grows ~sqrt(n) and clamps at both ends") {
    assert(IvfAnn.numCellsFor(1L) == 1, "never more cells than vectors")
    assert(IvfAnn.numCellsFor(10L) == 10, "small corpus: one cell per vector at most")
    assert(IvfAnn.numCellsFor(1000L) == IvfAnn.MinCells, "sqrt(1000)~32 clamps up to MinCells")
    assert(IvfAnn.numCellsFor(1000000L) == 1000, "sqrt growth in the open range")
    assert(IvfAnn.numCellsFor(100000000L) == IvfAnn.MaxCells,
      "upper clamp at the quantizer-training feasibility bound")
    assert(IvfAnn.numProbesFor(16) == 16,
      "nprobe never exceeds the cell count (tiny index: probe everything)")
    assert(IvfAnn.numProbesFor(64) == IvfAnn.MaxProbes
        && IvfAnn.numProbesFor(1024) == IvfAnn.MaxProbes
        && IvfAnn.numProbesFor(IvfAnn.MaxCells) == IvfAnn.MaxProbes,
      "nprobe is a flat CONSTANT (r18, set from the three-scale recall " +
        "curve in MaxProbes' scaladoc — a cells/8 fraction measured recall 0.500 on the " +
        "64-cell sf0.1 index); an unbounded fraction made probed-candidate " +
        "volume n²/8 (caught by the 50k→500k decade)")
  }

  test("centroid ranking plan is O(1) in the cell count (no per-centroid literals)") {
    val df = graft.similarity.IvfAnn.ivfTopK(spark, sfDir)
    // Before de-literalizing, the plan held one graft_dot-over-literal
    // node PER centroid (k of them); now centroids are broadcast data and
    // the plan has a constant handful of expression nodes regardless of k.
    val plan = df.queryExecution.analyzed.toString
    val dots = "graft_dot".r.findAllIn(plan).length
    assert(dots <= 8, s"plan embeds per-centroid expressions: $dots graft_dot nodes")
    spark.catalog.clearCache()
  }

  test("kNN top-k rides the native WindowGroupLimit — partial mode before the exchange") {
    // The r10..r14 formulation cast the row_number to long BEFORE the
    // rank filter, which hid the Filter(rn <= k)-over-Window pattern
    // from InferWindowGroupLimit and silently bought the naive plan (a
    // full candidate-volume shuffle + sort: 8.8 GB peak task memory at
    // the 500k-doc decade point). The rank filter now compares the raw
    // attribute, and this pin makes the regression impossible to
    // reintroduce: the physical plan must carry WindowGroupLimit in
    // BOTH modes — Partial (map-side per-key bounded top-k, ≤k rows
    // per q_id leave each mapper) and Final.
    for (df <- Seq(IvfAnn.knnGraph(spark, sfDir), IvfAnn.ivfTopK(spark, sfDir))) {
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("WindowGroupLimit"),
        s"native window group limit missing from plan:\n${phys.take(2000)}")
      assert(phys.contains("Partial") && phys.contains("Final"),
        "expected partial (pre-shuffle) AND final WindowGroupLimit modes")
    }
    spark.catalog.clearCache()
  }

  private def synthVectors(n: Int): DataFrame =
    spark.range(n)
      .select(
        col("id").as("vec_id"),
        expr("transform(sequence(0, 7), i -> cast(pmod(xxhash64(id, i), 997) as double) / 997.0 + 0.001)").as("e"))
      .withColumn("norm", sqrt(expr("graft_dot(e, e)")))

  test("assignmentsOf derives k from the corpus and assigns every vector an in-range cell") {
    val small = 300
    val large = 20000
    val (kSmall, aSmall) = IvfAnn.assignmentsOf(spark, synthVectors(small))
    val (kLarge, aLarge) = IvfAnn.assignmentsOf(spark, synthVectors(large))
    // Leaf count = derived base cells plus any balance splits (each
    // split nets +1 leaf); uniform hash-synthetic corpora rarely
    // trigger splits, but the derivation contract is >= base, bounded.
    assert(kSmall >= IvfAnn.numCellsFor(small) && kSmall <= 2 * IvfAnn.numCellsFor(small))
    assert(kLarge >= IvfAnn.numCellsFor(large) && kLarge <= 2 * IvfAnn.numCellsFor(large),
      s"derived k must follow sqrt(n) within the balance-split factor: got $kLarge")
    assert(kLarge > kSmall, "a larger corpus must derive more cells")
    for ((a, n, k) <- Seq((aSmall, small, kSmall), (aLarge, large, kLarge))) {
      val rows = a.collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(rows.length == n && rows.map(_._1).distinct.length == n,
        "every vector gets exactly one cell")
      assert(rows.forall { case (_, c) => c >= 0 && c < k },
        "cells within [0, k) — leaf ids are compact")
      // the quantizer actually partitions the space — the corpus must not
      // collapse into a handful of cells
      assert(rows.map(_._2).distinct.length > k / 4,
        s"expected a spread assignment, got ${rows.map(_._2).distinct.length} of $k cells used")
    }
    spark.catalog.clearCache()
  }

  private def synthSkewed(n: Int): DataFrame =
    // 10% of vectors sit in one tight blob (~14x the mean cell mass —
    // past CellBalance but within MaxSplitRounds' 2^3 reduction); the
    // rest are hash-uniform. The blob is what k-means leaves as one hot
    // cell: its diameter (1e-3) is far below inter-centroid spacing.
    spark.range(n)
      .select(
        col("id").as("vec_id"),
        expr("""transform(sequence(0, 7), i ->
          CASE WHEN id % 10 = 0
          THEN 0.5 + cast(pmod(xxhash64(id, i), 97) as double) / 97000.0
          ELSE cast(pmod(xxhash64(id * 31 + 7, i), 997) as double) / 997.0 + 0.001
          END)""").as("e"))
      .withColumn("norm", sqrt(expr("graft_dot(e, e)")))

  test("balanced quantizer splits the hot cell and cuts corpus skew (r15)") {
    val (v, q) = IvfAnn.indexOf(spark, synthSkewed(20000))
    assert(q.rounds.nonEmpty, "a 14x-mean blob must trigger at least one split round")
    val sizes = q.assign(spark, v).groupBy("cell").count().collect().map(_.getLong(1))
    val avg = sizes.sum.toDouble / q.k
    // Base (unsplit) fit on the same staged frame for comparison.
    val base = IvfAnn.fitCoarse(v)
    val baseSizes = v
      .withColumn("cell", call_function("graft_argmin_cell",
        col("u"), typedLit(base.flatten), lit(base.length)))
      .groupBy("cell").count().collect().map(_.getLong(1))
    val baseAvg = baseSizes.sum.toDouble / base.length
    assert(sizes.max / avg <= 0.5 * (baseSizes.max / baseAvg),
      s"balance must at least halve max/mean skew: " +
        s"balanced ${sizes.max}/$avg vs base ${baseSizes.max}/$baseAvg")
    // Probe/assign consistency: every assigned cell id exists in the
    // leaf centroid table (what probeCells ranks).
    val leafIds = q.index.centroids.select("cell").collect().map(_.getInt(0)).toSet
    assert(leafIds == (0 until q.k).toSet, "centroid table ids are exactly [0, k)")
    val usedIds = q.assign(spark, v).select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(usedIds.subsetOf(leafIds), "assignments target only leaf centroids")
    // Determinism: an independent rebuild reproduces the centroid table.
    val q2 = IvfAnn.balancedQuantizerOf(spark, v)
    assert(q2.k == q.k &&
      q2.index.centroids.select("cell", "centroid").collect().toSeq ==
        q.index.centroids.select("cell", "centroid").collect().toSeq,
      "quantizer build is deterministic")
    spark.catalog.clearCache()
  }
}
