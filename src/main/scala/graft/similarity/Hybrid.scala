package graft.similarity

import graft.{Num, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al.,
  * SIGIR'09) of a lexical BM25 list and a semantic cosine list for the
  * SAME query document — the fusion step every retrieval-augmented
  * curation stack runs between its keyword index and its vector index.
  * The reference ranks by single signals only; an LLM-data pipeline
  * fuses them (mining paraphrase near-dups that either signal alone
  * misses, and building retrieval eval sets).
  *
  * Query = the longest document that has an embedding (deterministic:
  * n_chars DESC, doc_id ASC — doc_id keys the embeddings table by
  * construction of the corpus). Lexical query terms are that doc's
  * top-3 tokens by term frequency; the semantic query is its vector.
  *
  * ONE algorithm in both artifact modes: the BM25 list reads the
  * lexical inverted index (postings/terms/doclens/totals, see
  * [[LexIndex.lexIndexFor]]) instead of re-tokenizing the corpus per
  * query, and the semantic list probes the IVF coarse index
  * (`IvfAnn.coarseFor`) instead of scanning every vector: per-query
  * lexical work is a 3-term postings probe, per-query semantic work
  * nprobe cells ≈ nprobe·n/k candidates. With an artifacts root both
  * indexes are published once per corpus snapshot and read; without
  * one `Artifacts.publishedOrCompute` computes and stages them, and the
  * same probe runs over them. The semantic list is therefore the IVF
  * probe's, with its measured recall against an exact scan
  * (spec-pinned floor) — the disclosed approximation every vector
  * index trades for its scan-free query path.
  *
  * Oracle-exact end-to-end (the DuckDB replay runs the same quantizer
  * and probe, `KMeansOracle.hybridSemCtes`): BM25 scores are the repo's
  * exact-rational int64 formulation (see `TextFunctions.bm25Search`),
  * cosines are bit-identical across engines (`graft_dot` ≡
  * `list_dot_product` accumulation order), ranks are integer
  * row_numbers with total tiebreaks, and each RRF term 1/(60+rank) is
  * one IEEE division of exact integers, summed in fixed textual order
  * before round4.
  */
object Hybrid {

  /** List depth per signal (the standard fusion cut). */
  val TopN = 50

  /** RRF smoothing constant (Cormack et al.'s k = 60). */
  val RrfK = 60

  /** q_hybrid_search: doc_id, lex_rank, sem_rank (−1 = absent from that
    * list), rrf — fused candidates ordered by fused score.
    */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Query doc: longest doc that HAS a vector — a KEYLESS max-struct
    // aggregate (map-side partials, no sort), which is also the one
    // broadcast-build shape the plan gate can PROVE is a single row
    // (PlanShapeSpec's bounded-BNLJ rule); (n_chars, −doc_id) max ≡
    // (n_chars DESC, doc_id ASC) top-1.
    val qdoc = docs
      .join(
        Knn.vectors(spark, dir).select(col("vec_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select((-col("m.neg_id")).as("q_doc"))
    val (post, terms, dls, totals) = LexIndex.lexIndexFor(spark, dir)
    fuse(lexTopN(qdoc, post, terms, dls, totals), semTopN(spark, dir, qdoc))
  }

  /** Lexical BM25 top-N for the query doc's top-3 terms, over whatever
    * index frames the caller supplies (exact integer scoring; identical
    * rows in, identical list out).
    */
  private[graft] def lexTopN(
      qdoc: DataFrame, tf: DataFrame, dfreq: DataFrame,
      dl: DataFrame, totals: DataFrame): DataFrame = {
    val qtoks = tf
      .join(broadcast(qdoc), col("doc_id") === col("q_doc"))
      .orderBy(col("tf").desc, col("tok").asc)
      .limit(3)
      .select("tok")
    val idf = dfreq
      .join(broadcast(qtoks), "tok")
      .join(broadcast(totals))
      .withColumn("idf4", Num.idf4(col("n_docs"), col("df")))
      .select("tok", "idf4")
    val lexScored = tf
      .join(broadcast(idf), "tok")
      .join(dl, "doc_id")
      .join(broadcast(totals))
      .join(broadcast(qdoc))
      .filter(col("doc_id") =!= col("q_doc"))
      .withColumn("score4",
        Num.bm25Score4(col("idf4"), col("tf"), col("dl"), col("n_docs"), col("t_tok")))
      .groupBy("doc_id")
      .agg(sum("score4").as("s4"))
    lexScored
      .orderBy(col("s4").desc, col("doc_id").asc)
      .limit(TopN)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("s4").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "lex_rank")
  }

  /** Semantic top-N: probe the IVF coarse index — rank centroids for
    * the one query vector, score exact cosine ONLY within the nprobe
    * nearest cells. Candidate volume ≈ nprobe·n/k instead of n; the
    * cell-keyed equi join replaces the full scan. Same deterministic
    * quantizer the rest of the IVF family consumes. The global limit
    * runs before the row_number window (TakeOrderedAndProject over the
    * candidates, then a window over ≤TopN rows).
    */
  private def semTopN(spark: SparkSession, dir: String, qdoc: DataFrame): DataFrame = {
    val (assigned, idx) = IvfAnn.coarseFor(spark, dir)
    val corpus = graft.Staging.staged(
      assigned.select(col("vec_id"), col("e"), col("norm"), col("cell")), "hybrid_sem_corpus")
    val qv = assigned
      .join(broadcast(qdoc), col("vec_id") === col("q_doc"))
      .agg(first(col("vec_id")).as("q_id"), first(col("e")).as("qe"),
        first(col("norm")).as("qn"), first(col("u")).as("u"))
    val probes = IvfAnn.probeCells(spark, qv, idx)
      .select("q_id", "qe", "qn", "cell")
    probes
      .join(corpus.toDF("vec_id", "e", "norm", "cell2"),
        col("cell2") === col("cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_dot(qe, e)") / (col("qn") * col("norm")))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopN)
      .withColumn("sem_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
  }

  /** RRF fusion over the two ≤TopN-row lists. */
  private[graft] def fuse(lex: DataFrame, sem: DataFrame): DataFrame =
    lex
      .join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_raw",
        coalesce(lit(1.0) / (lit(RrfK.toLong) + col("lex_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK.toLong) + col("sem_rank")), lit(0.0)))
      .select(
        col("doc_id"),
        coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(-1L)).as("sem_rank"),
        Num.round4(col("rrf_raw")).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
}
