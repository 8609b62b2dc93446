package graft.similarity

import graft.{Num, Query, Tables}
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

  val queries: Seq[Query] = Seq(
    // Hybrid RRF fusion: BM25's exact-rational int64 scoring (see
    // q_bm25_search) for the query doc's top-3 terms + the IVF probe's
    // cosine list for its vector (the quantizer replay of q_ann_ivf),
    // fused as two IEEE divisions of exact integers summed in fixed
    // order before round4.
    Query("q_hybrid_search", (s, d) => hybridSearch(s, d),
      raw"""WITH RECURSIVE
           |${KMeansOracle.quantCtes.mkString(",\n")},
           |toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
           |), qdoc AS (
           |  SELECT d.doc_id AS q_doc FROM documents d
           |  JOIN embeddings e ON e.vec_id = d.doc_id
           |  ORDER BY d.n_chars DESC, d.doc_id LIMIT 1
           |), tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
           |), dl AS (
           |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
           |), totals AS (
           |  SELECT count(*) AS n_docs, sum(dl) AS t_tok FROM dl
           |), dfreq AS (
           |  SELECT tok, count(*) AS df FROM tf GROUP BY 1
           |), qtoks AS (
           |  SELECT tf.tok FROM tf JOIN qdoc ON tf.doc_id = qdoc.q_doc
           |  ORDER BY tf.tf DESC, tf.tok LIMIT 3
           |), idf AS (
           |  SELECT tok, CAST(floor((n_docs - df + 0.5) / (df + 0.5) * 10000 + 0.5) AS BIGINT) AS idf4
           |  FROM qtoks JOIN dfreq USING (tok), totals
           |), lexs AS (
           |  SELECT tf.doc_id, sum(
           |    CAST(floor(CAST(idf.idf4 * 22 * tf.tf * t.t_tok AS DOUBLE)
           |      / CAST(10 * tf.tf * t.t_tok + 3 * t.t_tok + 9 * dl.dl * t.n_docs AS DOUBLE)
           |      + 0.5) AS BIGINT)) AS s4
           |  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), totals t, qdoc
           |  WHERE tf.doc_id <> qdoc.q_doc
           |  GROUP BY tf.doc_id
           |), lex AS (
           |  SELECT doc_id, row_number() OVER (ORDER BY s4 DESC, doc_id) AS lex_rank
           |  FROM (SELECT * FROM lexs ORDER BY s4 DESC, doc_id LIMIT 50)
           |), ${KMeansOracle.hybridSemCtes}
           |SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           |  CAST(coalesce(l.lex_rank, -1) AS BIGINT) AS lex_rank,
           |  CAST(coalesce(s.sem_rank, -1) AS BIGINT) AS sem_rank,
           |  floor((coalesce(1::DOUBLE / (60 + l.lex_rank), 0)
           |       + coalesce(1::DOUBLE / (60 + s.sem_rank), 0)) * 10000 + 0.5) / 10000 AS rrf
           |FROM lex l FULL JOIN sem s ON s.doc_id = l.doc_id
           |ORDER BY rrf DESC, doc_id""".stripMargin)
  )
}
