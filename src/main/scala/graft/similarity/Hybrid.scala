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
  * TWO deployment modes sharing one scoring/fusion algebra (r16):
  *
  * - INLINE (no artifacts root — the oracle authority): the corpus
  *   pays ONE tokenize into the staged tf frame; the semantic list is
  *   the exact cosine scan. Query side — query doc, 3-token idf table,
  *   query vector, totals — is all 1-to-3-row broadcasts; both lists
  *   reduce through TakeOrderedAndProject and fusion joins two
  *   ≤TopN-row frames.
  * - INDEX-BACKED (artifacts root configured — the production shape a
  *   standing retrieval stack runs): the BM25 list reads the published
  *   lexical inverted index (postings/terms/doclens/totals — built
  *   once per corpus snapshot, see [[LexIndex.lexIndexFor]]) instead of
  *   re-tokenizing the corpus per query, and the semantic list probes
  *   the published IVF coarse index (`IvfAnn.coarseFor` — trained
  *   once, centroids + assignments lake-resident) instead of scanning
  *   every vector. Per-query lexical work drops to a 3-term postings
  *   probe (pushdown-pruned scan; term-bucketed postings make it a
  *   pruned read at 100 TB); per-query semantic work drops to nprobe
  *   cells ≈ nprobe·n/k candidates. The LEXICAL list is identical in
  *   both modes by construction (same exact-integer BM25 over the same
  *   tf rows — spec-pinned); the SEMANTIC list differs only by the
  *   IVF probe's measured recall (floor spec-pinned), which is the
  *   disclosed approximation every vector index trades for its
  *   scan-free query path.
  *
  * Oracle-exact end-to-end (inline mode): BM25 scores are the repo's
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
    * list), rrf — fused candidates ordered by fused score. Dispatches
    * on the artifacts root: inline (oracle authority) vs index-backed
    * (production/bench mode; see object doc for the contract).
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
    val lex = lexTopN(qdoc, post, terms, dls, totals)
    // Root check kept: the exact scan and the IVF probe are different algorithms.
    val sem = graft.sources.Artifacts.rootDir(spark) match {
      case None    => semTopNExact(spark, dir, qdoc)
      case Some(_) => semTopNIndexed(spark, dir, qdoc)
    }
    fuse(lex, sem)
  }

  /** Lexical BM25 top-N for the query doc's top-3 terms, over whatever
    * index frames the caller supplies — THE shared algebra of both
    * modes (exact integer scoring; identical rows in, identical list
    * out).
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
      .withColumn("idf4",
        floor((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) * 10000 + 0.5).cast("long"))
      .select("tok", "idf4")
    val lexScored = tf
      .join(broadcast(idf), "tok")
      .join(dl, "doc_id")
      .join(broadcast(totals))
      .join(broadcast(qdoc))
      .filter(col("doc_id") =!= col("q_doc"))
      .withColumn("score4",
        floor(
          (col("idf4") * 22L * col("tf") * col("t_tok")).cast("double")
            / (lit(10L) * col("tf") * col("t_tok") + lit(3L) * col("t_tok")
                + lit(9L) * col("dl") * col("n_docs")).cast("double")
            + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(sum("score4").as("s4"))
    lexScored
      .orderBy(col("s4").desc, col("doc_id").asc)
      .limit(TopN)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("s4").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "lex_rank")
  }

  /** Semantic list, inline mode: exact cosine of every vector vs the
    * query vector. Re-aggregated keyless after the 1-row equi probe for
    * the same provable-single-row broadcast shape (first() is
    * deterministic on a one-row frame).
    */
  private def semTopNExact(spark: SparkSession, dir: String, qdoc: DataFrame): DataFrame = {
    val vecs = Knn.vectors(spark, dir) // vec_id, e, norm
    val qv = vecs
      .join(broadcast(qdoc), col("vec_id") === col("q_doc"))
      .agg(first(col("vec_id")).as("q_id"), first(col("e")).as("qe"), first(col("norm")).as("qn"))
    val semScored = vecs
      .join(broadcast(qv))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_dot(qe, e)") / (col("qn") * col("norm")))
    rankTopN(semScored)
  }

  /** Semantic list, index-backed mode: probe the published IVF coarse
    * index — rank centroids for the one query vector, score exact
    * cosine ONLY within the nprobe nearest cells. Candidate volume
    * ≈ nprobe·n/k instead of n; the cell-keyed equi join replaces the
    * full scan. Same deterministic quantizer the rest of the IVF
    * family consumes (published centroids/assignments, trained once).
    */
  private def semTopNIndexed(spark: SparkSession, dir: String, qdoc: DataFrame): DataFrame = {
    val (assigned, idx) = IvfAnn.coarseFor(spark, dir)
    val corpus = graft.Staging.staged(
      assigned.select(col("vec_id"), col("e"), col("norm"), col("cell")), "hybrid_sem_corpus")
    val qv = assigned
      .join(broadcast(qdoc), col("vec_id") === col("q_doc"))
      .agg(first(col("vec_id")).as("q_id"), first(col("e")).as("qe"),
        first(col("norm")).as("qn"), first(col("u")).as("u"))
    val probes = IvfAnn.probeCells(spark, qv, idx)
      .select("q_id", "qe", "qn", "cell")
    val semScored = probes
      .join(corpus.toDF("vec_id", "e", "norm", "cell2"),
        col("cell2") === col("cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr("graft_dot(qe, e)") / (col("qn") * col("norm")))
    rankTopN(semScored)
  }

  /** Shared top-N ranking of a (vec_id, cos) scored stream: global
    * limit + row_number over the ≤TopN survivors (TakeOrderedAndProject
    * before any window — no full-corpus window in either mode).
    */
  private def rankTopN(scored: DataFrame): DataFrame =
    scored
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopN)
      .withColumn("sem_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))

  /** RRF fusion over the two ≤TopN-row lists — mode-agnostic by
    * construction (list-source-agnostic algebra).
    */
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
