package graft.similarity

import graft.{Num, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Diversity-aware corpus sampling: select a fixed-budget subset that
  * COVERS the embedding space instead of mirroring its density — the
  * selection step after dedup/quality when the training budget is
  * smaller than the cleaned corpus (coreset selection; the
  * cluster-then-sample family SemDeDup/DataComp-style pipelines use,
  * and the cheap distributed stand-in for facility-location greedy,
  * which is inherently sequential and cannot run on 10⁹ vectors).
  *
  * Method: reuse the IVF coarse quantizer (cells ≈ √n, seeded — the
  * SAME index ivfTopK/semDedup/knnGraph already build, so a deployment
  * pays for it once), then
  *   1. quota per cell ∝ √cell_size, normalized to the budget, floor 1
  *      — the square root flattens density (a 100× hotter cell gets
  *      only 10× the picks), which is exactly the diversity knob:
  *      proportional quotas would reproduce the corpus distribution,
  *      uniform quotas would over-sample noise cells;
  *   2. within a cell, rank by distance to the centroid ascending
  *      (most-representative first, vec_id tie-break) and keep the
  *      quota — representatives first makes the selection stable under
  *      re-runs and robust to cell-edge outliers.
  *
  * Every cell keeps ≥1 vector, so the selection touches every region
  * of the space (the coverage property the spec pins, alongside a
  * measured spread improvement over a crawl-order prefix of the same
  * size and determinism across rebuilds).
  *
  * Scale shape: ONE staged embeddings scan (shared with the quantizer
  * build), one assignment pass, per-cell quotas on the cells-row count
  * frame (broadcast back), one window over cell-bounded partitions for
  * the within-cell rank — no global sort, no pairwise term anywhere.
  */
object Diversity {

  /** Selection budget (vectors). A deployment sets this from the token
    * budget; fixed here so specs and the gate see a stable output.
    */
  val Budget = 200L

  def diversitySample(spark: SparkSession, dir: String): DataFrame = {
    // Consumes the published coarse index when a root is configured
    // (the selection is a downstream reader of the SAME index every
    // family member shares); inline otherwise.
    val (assigned, idx) = IvfAnn.coarseFor(spark, dir)
    selectFrom(assigned.select(col("vec_id"), col("u"), col("cell")), idx.centroids)
  }

  private[graft] def diversitySampleOf(spark: SparkSession, vectors: DataFrame): DataFrame = {
    val (v, q) = IvfAnn.indexOf(spark, vectors)
    selectFrom(
      q.assign(spark, v).select(col("vec_id"), col("u"), col("cell")),
      q.index.centroids)
  }

  private def selectFrom(assigned: DataFrame, centroidsDf: DataFrame): DataFrame = {

    // √-flattened quotas on the cells-row count frame, in EXACT integer
    // arithmetic (r15): w = floor(√(n·10^8)) is a fixed-point √ both
    // engines compute identically (int→double, one multiply, correctly
    // rounded sqrt, floor), wsum = Σw is an exact int64 sum — crucially
    // ORDER-INDEPENDENT, where the old Σ of double √s depended on
    // Spark's aggregation order — and the HALF_UP quota round is pure
    // int64: round(B·w/wsum) = (2·B·w + wsum) div (2·wsum). This is
    // what lets `q_diversity_sample` replay in DuckDB (KMeansOracle)
    // instead of sitting rows-only.
    val cellSizes = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
    val quotas = cellSizes
      .withColumn("w", floor(sqrt(col("n").cast("double") * lit(1e8))).cast("long"))
      .crossJoin(broadcast(cellSizes
        .select(floor(sqrt(col("n").cast("double") * lit(1e8))).cast("long").as("w1"))
        .agg(sum(col("w1")).as("wsum"))))
      .select(col("cell"),
        greatest(lit(1L),
          expr(s"(${2 * Budget} * w + wsum) div (2 * wsum)")).as("quota"))

    // Most-representative-first within each cell: dist²(u, c) ranks as
    // cnorm2 − 2·u·c on unit vectors (the probeCells identity).
    val w = Window.partitionBy("cell").orderBy(col("dscore").asc, col("vec_id").asc)
    assigned
      .join(broadcast(centroidsDf), "cell")
      .withColumn("dscore", col("cnorm2") - lit(2d) * expr("graft_dot(u, centroid)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .join(broadcast(quotas), "cell")
      .filter(col("rnk") <= col("quota"))
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("rnk"),
        Num.round4((col("cnorm2") - col("dscore")) / lit(2d)).as("centroid_dot"))
      .orderBy("vec_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q_diversity_sample", (s, d) => diversitySample(s, d), KMeansOracle.diversitySql)
  )
}
