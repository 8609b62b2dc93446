package graft.similarity

import graft.{Num, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
  * pairs found by clustering embeddings with a coarse quantizer and
  * comparing exactly WITHIN clusters only — the trick that turns the
  * quadratic all-pairs cosine into per-cluster work units. Reuses the
  * IVF k-means quantizer (cells ~ sqrt n, so expected within-cell pair
  * work is ~n^1.5 total, and each cell is a bounded join partition —
  * skewed cells are AQE skew-join territory, not an OOM).
  *
  * Recall is what the cluster assignment gives up: a pair split across
  * cells is never compared (the spec measures this against the exact
  * q_embed_neardup pairs; the paper accepts the same trade). Pairs
  * compose with dedup.Clusters.connectedComponents for survivor
  * selection, exactly like the text-side near-dup operators.
  */
object SemDedup {

  def semDedupPairs(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    // The IVF build already staged the normalized corpus frame; its
    // assigned form (vec_id, e, norm, cell) is consumed here DIRECTLY —
    // re-reading Tables.embeddings to recover e/norm would scan the
    // corpus a second time (one full extra read at 100 TB; the
    // SimilaritySpec single-scan test pins this at exactly one). Staged
    // again post-assignment so the self-join below doesn't run the
    // k-means assignment twice.
    val v = graft.Staging.staged(
      IvfAnn.assignedVectors(spark, dir),
      "semdedup_cells")
    // Not a bare orderBy: an unstaged sort's sampling pass would re-run
    // the within-cell self-join and its dot products.
    graft.Staging.sorted(
      v.toDF("a", "ea", "na", "cell")
        .join(v.toDF("b", "eb", "nb", "cell2"), col("cell") === col("cell2") && col("a") < col("b"))
        .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
        .filter(col("cos") >= threshold)
        .select(col("a"), col("b"), Num.round4(col("cos")).as("cos")),
      "semdedup_pairs", "a", "b")()
  }

  val queries: Seq[Query] = Seq(
    Query("q_semdedup", (s, d) => semDedupPairs(s, d), KMeansOracle.semdedupSql)
  )
}
