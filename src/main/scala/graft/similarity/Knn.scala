package graft.similarity

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the embeddings table.
  *
  * The reference has no vector search; an LLM-data pipeline needs it for
  * near-dup mining and retrieval-style joins. Two paths:
  * - `bruteTopK`: exact cosine top-k, executed as a block equi-join
  *   (query set replicated once per corpus block) — the correctness
  *   oracle. Linear in corpus size per query, no CartesianProduct node.
  * - `LshAnn.annTopK`: random-hyperplane LSH buckets — the 100 TB path,
  *   trading bounded recall loss for an equi-keyed join.
  */
object Knn {

  /** Fixed query set: small vec_ids. In production the query side is an
    * arbitrary small batch; structurally identical.
    */
  val NumQueries = 20
  val TopK = 5

  /** Corpus blocks for the brute-force pass: queries are replicated once
    * per block so the pairing is a shuffled equi-join on blk, never a
    * CartesianProduct.
    */
  val CorpusBlocks = 8

  private[graft] def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("e"))
      .withColumn("norm", sqrt(expr("graft_dot(e, e)")))

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val v = vectors(spark, dir).withColumn("blk", pmod(col("vec_id"), lit(CorpusBlocks)).cast("int"))
    val queries = v
      .filter(col("vec_id") < NumQueries)
      .toDF("q_id", "qe", "qn", "qblk")
      .drop("qblk")
      .withColumn("blk", explode(array((0 until CorpusBlocks).map(lit): _*)))
    topKPerQuery(queries
      .join(v.toDF("nbr_id", "ce", "cn", "blk2"), col("blk2") === col("blk") && col("nbr_id") =!= col("q_id")))
  }

  /** Per-query top-k over a candidate stream (q_id, nbr_id, query vector
    * `qe` with norm `qn`, candidate vector `ce` with norm `cn`), scored
    * by cosine `cos` = graft_dot(qe, ce) / (qn * cn): rows
    * (q_id, nbr_id, cos rounded, rn: long), rn 1..TopK by cos desc,
    * nbr_id asc, ordered by (q_id, rn). Every kNN and ANN query ends here.
    *
    * Written so Catalyst's InferWindowGroupLimit fires: the filter
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
  private[graft] def topKPerQuery(candidates: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("nbr_id").asc)
    candidates
      .withColumn("cos", expr("graft_dot(qe, ce)") / (col("qn") * col("cn")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select(col("q_id"), col("nbr_id"), Num.round4(col("cos")).as("cos"),
        col("rn").cast("long").as("rn"))
      .orderBy("q_id", "rn")
  }

  val queries: Seq[Query] = Seq(
    Query("q_knn_cosine", (s, d) => bruteTopK(s, d),
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
        |), s AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS nbr_id,
        |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
        |  FROM n q JOIN n c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id < 20
        |), r AS (
        |  SELECT q_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nbr_id) AS rn
        |  FROM s
        |)
        |SELECT q_id, nbr_id, floor(cos * 10000 + 0.5) / 10000 AS cos, rn
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)
  )
}
