package graft.similarity

import graft.{Num, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN index quality gate: measured recall@k of the LSH approximate
  * top-k against the exact brute-force top-k, per query — the QA table
  * an indexing pipeline publishes next to a vector index so recall
  * regressions are caught by a query, not an incident. (The reference
  * validates its caches by re-deriving and diffing; this is the same
  * discipline applied to an index artifact — recall is a MEASURED
  * property of index + corpus, never assumed from banding theory.)
  *
  * Scale shape: both parents are the repo's designed scale paths
  * (`Knn.bruteTopK` block equi-join — in production the exact side runs
  * on a SAMPLED query set, which is exactly what `Knn.NumQueries`
  * models; `LshAnn.annTopK` banded multi-probe). Their outputs are
  * top-k-BOUNDED: q·k rows each side, so everything downstream —
  * the hit join and the per-query aggregate — is broadcast-scale by
  * construction no matter the corpus size.
  *
  * Oracle-exact end-to-end: both parents replay bit-identically in
  * DuckDB (`q_knn_cosine`'s oracle and `LshOracle.annSql`), the hit
  * count is an integer join-count, and recall is one IEEE int64/int64
  * division round4'd identically in both engines.
  */
object AnnRecall {

  /** q_ann_recall: per-query recall@k of `LshAnn.annTopK` vs
    * `Knn.bruteTopK` — n_exact, n_ann, n_hit, recall. Queries the ANN
    * path misses entirely still appear (n_ann = 0, recall 0): the
    * whole point of the gate is making the misses visible.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(
      Knn.bruteTopK(spark, dir).select("q_id", "nbr_id"),
      LshAnn.annTopK(spark, dir).select("q_id", "nbr_id"))

  /** q_ann_recall_ivf: the same gate for the IVF probe path —
    * `IvfAnn.ivfTopK` vs the exact list. The LSH row alone left the
    * family's OTHER index unmeasured: five queries (ivf, ivfpq,
    * knn_graph, semdedup, index-backed hybrid) ride the IVF coarse
    * probe, so its recall belongs in the published QA table next to
    * LSH's, from the same bounded-join machinery.
    */
  def annRecallIvf(spark: SparkSession, dir: String): DataFrame =
    recallOf(
      Knn.bruteTopK(spark, dir).select("q_id", "nbr_id"),
      IvfAnn.ivfTopK(spark, dir).select("q_id", "nbr_id"))

  /** Shared recall join: both inputs are top-k-bounded (q·k rows), so
    * the hit join and per-query aggregate stay broadcast-scale whatever
    * the corpus size.
    */
  private def recallOf(exact: DataFrame, ann: DataFrame): DataFrame = {
    val exactN = exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
    val annN = ann.groupBy("q_id").agg(count(lit(1)).as("n_ann"))
    val hitN = exact
      .join(ann, Seq("q_id", "nbr_id"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_hit"))
    exactN
      .join(annN, Seq("q_id"), "left")
      .join(hitN, Seq("q_id"), "left")
      .select(
        col("q_id"),
        col("n_exact"),
        coalesce(col("n_ann"), lit(0L)).as("n_ann"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        Num.round4(
          coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("q_id")
  }

  val queries: Seq[Query] = Seq(
    Query("q_ann_recall", (s, d) => annRecall(s, d), LshOracle.recallSql),
    Query("q_ann_recall_ivf", (s, d) => annRecallIvf(s, d), KMeansOracle.ivfRecallSql)
  )
}
