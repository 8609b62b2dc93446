package graft.dedup

import graft.{Num, Tables}
import graft.Staging.staged
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-index reference implementations of the pruned near-dup miners in
  * `Dedup` — no declared query runs them; the specs assert that the
  * pruned operators return exactly their rows.
  */
object DedupWitnesses {

  /** Exact pairwise Jaccard over the FULL shingle inverted index: the
    * candidate join is Σ df² over shingle document-frequencies — one
    * viral shingle melts a reducer even with AQE skew-splitting, so the
    * declared queries all route through `Dedup.prefixIndex` instead.
    */
  def jaccardPairs(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh
      .toDF("a", "sg")
      .join(sh.toDF("b", "sg2"), col("sg") === col("sg2") && col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("a2", "na"), col("a") === col("a2"))
      .join(sizes.toDF("b2", "nb"), col("b") === col("b2"))
      .withColumn("jac", col("inter") / (col("na") + col("nb") - col("inter")))
      .select("a", "b", "jac")
  }

  /** Naive full-index variant of `Dedup.ngramJaccard`, the losslessness
    * witness for `Dedup.jaccardPrefix`.
    */
  def ngramJaccardNaive(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(Dedup.shingles(Tables.documents(spark, dir)))
      .filter(col("jac") >= 0.8)
      .select(col("a"), col("b"), Num.round4(col("jac")).as("jac"))
      .orderBy("a", "b")

  /** Full-index containment witness: `Dedup.containmentOf` must equal it
    * on any corpus.
    */
  def containmentNaive(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val sh = staged(
      docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(expr(Dedup.ShingleArraySql)).as("sg")),
      "cont_naive_sh")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.toDF("a", "sga")
      .join(sh.toDF("b", "sgb"), col("sga") === col("sgb") && col("a") =!= col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.toDF("a2", "na"), col("a") === col("a2"))
      .withColumn("cont", col("inter") / col("na"))
      .filter(col("cont") >= threshold)
      .select(col("a"), col("b"), Num.round4(col("cont")).as("cont"))
      .orderBy("a", "b")
  }
}
