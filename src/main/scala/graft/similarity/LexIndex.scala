package graft.similarity

import graft.{Num, Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The standing lexical inverted index as a maintained lake artifact:
  * build (shared with hybrid retrieval), INCREMENTAL maintenance
  * (`lexDelta` — merge a batch's postings without re-tokenizing the
  * corpus, the `q_dedup_delta`/`q_cluster_delta` pattern applied to the
  * term dictionary), and the health report read before launching a
  * BM25 probe (`lexStats` — df skew, hottest posting lists, stop-word
  * mass; a df-degenerate term is this family's viral bucket).
  *
  * Index layout (the Lucene-shaped quartet, published per corpus
  * snapshot when an artifacts root is configured):
  * - postings (tok, doc_id, tf)
  * - terms (tok, df, ttf) — document frequency AND collection term
  *   frequency; both are commutative-monoid merges of batch stats
  *   (r17 — ttf added so the delta merge and the stats report read the
  *   dictionary, never the postings)
  * - doclens (doc_id, dl)
  * - totals (n_docs, t_tok)
  *
  * (The reference re-derives its cached key->data maps from scratch on
  * every refresh, e.g. update_known_summoner_data.py's full re-pull;
  * the standing-index + delta-merge shape is what replaces that at
  * 100 TB: rebuild cost Σ corpus, merge cost Σ batch.)
  */
object LexIndex {

  /** Version tag of the published lexical index (v2: terms carry ttf). */
  val LexIndexVersion = "lex-v2-ws-postings-ttf"

  /** Whitespace-token tf frame (doc_id, tok, tf) — the postings shape.
    * One shuffle on (doc_id, tok) with map-side partial counts.
    */
  private[graft] def tokenizedTf(docs: DataFrame): DataFrame =
    // spread (r19): the tokenize+explode is the index build's CPU-dense
    // scan work; see Staging.spread (conditional, no-op on wide scans).
    graft.Staging.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))

  /** Derive the quartet from a postings frame: df/ttf by term, dl by
    * doc, collection totals. All monoid aggregates (count/sum), so the
    * SAME derivation serves the full build and the per-batch side of
    * the delta merge.
    */
  private[graft] def derive(tf: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = (
    tf,
    tf.groupBy("tok").agg(count(lit(1)).as("df"), sum("tf").as("ttf")),
    tf.groupBy("doc_id").agg(sum("tf").as("dl")),
    tf.agg(count_distinct(col("doc_id")).as("n_docs"), sum("tf").as("t_tok")))

  /** The standing index over an arbitrary documents frame, through
    * `prefix`-named artifacts: published when a root is configured,
    * computed and staged otherwise — either way one staged tokenize
    * feeds all four frames. Derived stats are PUBLISHED rather than
    * recomputed per query: re-deriving df from postings is a full
    * index shuffle at 100 TB, which is exactly what a standing term
    * dictionary exists to avoid.
    */
  private[graft] def lexIndexOf(
      spark: SparkSession, docs: => DataFrame, deps: Seq[String],
      prefix: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // Lazy: forced only when a frame is computed (an artifact miss, or
    // no root), and then one tokenize feeds all four frames.
    lazy val tf = graft.Staging.staged(tokenizedTf(docs), s"${prefix}_publish_tf")
    lazy val derived = derive(tf)
    def pub(name: String, frame: => DataFrame): DataFrame =
      graft.sources.Artifacts.publishedOrCompute(
        spark, name, LexIndexVersion, deps)(frame)
    (pub(s"${prefix}_postings", derived._1), pub(s"${prefix}_terms", derived._2),
      pub(s"${prefix}_doclens", derived._3), pub(s"${prefix}_totals", derived._4))
  }

  /** The whole-corpus standing index (hybrid retrieval's quartet). */
  def lexIndexFor(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) =
    lexIndexOf(spark, Tables.documents(spark, dir),
      Seq(s"$dir/documents.parquet"), "lex")

  /** q_lex_delta: the merged term dictionary (tok, df, ttf) after
    * folding the incremental batch (doc_id % 10 == 7 — the repo's
    * standing ingest-slice convention, `Dedup.DeltaBatchMod/Rem`) into
    * the standing index built over the settled slice. Merge algebra is
    * the commutative monoid `q_stats_merge` already proves: batch docs
    * are NEW doc_ids, so postings/doclens merge by disjoint union and
    * df/ttf/totals merge by per-key addition — a full-outer join of two
    * DICTIONARY-sized frames plus one batch tokenize. The settled
    * corpus is never re-tokenized: with an artifacts root the standing
    * quartet is a published parquet read (`lex_settled_*`), and the
    * batch-sized tokenize is the only corpus-text work in the plan.
    *
    * Contract (the cluster-delta contract): merged index == full
    * rebuild over the whole corpus, exactly — the DuckDB oracle IS the
    * full rebuild, so the gate re-proves the merge every round;
    * `LexIndexSpec` pins the other three frames (postings, doclens,
    * totals) the same way inline.
    */
  def lexDelta(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup.{DeltaBatchMod, DeltaBatchRem}
    val isBatch = pmod(col("doc_id"), lit(DeltaBatchMod)) === DeltaBatchRem
    val (_, sTerms, _, _) = lexIndexOf(
      spark, Tables.documents(spark, dir).filter(!isBatch),
      Seq(s"$dir/documents.parquet"), "lex_settled")
    val bTerms = tokenizedTf(Tables.documents(spark, dir).filter(isBatch))
      .groupBy("tok").agg(count(lit(1)).as("df"), sum("tf").as("ttf"))
    mergeTerms(sTerms, bTerms).orderBy("tok")
  }

  /** Per-key monoid merge of two (tok, df, ttf) dictionaries. */
  private[graft] def mergeTerms(a: DataFrame, b: DataFrame): DataFrame =
    a.toDF("tok", "df_a", "ttf_a")
      .join(b.toDF("tok", "df_b", "ttf_b"), Seq("tok"), "full_outer")
      .select(
        col("tok"),
        (coalesce(col("df_a"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df"),
        (coalesce(col("ttf_a"), lit(0L)) + coalesce(col("ttf_b"), lit(0L))).as("ttf"))

  /** How many hottest terms the health report keeps. */
  val StatsTopK = 20

  /** q_lex_stats: the lexical twin of `q_index_stats` — the top-K
    * hottest terms by document frequency, each with its posting-list
    * mass: df, ttf, df_frac (df/n_docs — the stop-word indicator; a
    * term near 1.0 means its posting list is the corpus) and mass_frac
    * (ttf/t_tok — the share of ALL token occurrences this one term
    * owns). This is the table read BEFORE launching a BM25 probe at
    * 100 TB: a df-degenerate query term turns the 3-term postings probe
    * into a corpus scan, and it shows up here as one row at the cost of
    * one dictionary-sized aggregate — never as a hot scan mid-query.
    *
    * Scale shape: reads the published terms/totals artifacts only
    * (dictionary-sized — no postings pass, no corpus pass); the top-K
    * cut is a TakeOrderedAndProject over the dictionary.
    */
  def lexStats(spark: SparkSession, dir: String): DataFrame = {
    val (_, terms, _, totals) = lexIndexFor(spark, dir)
    lexStatsOf(terms, totals)
  }

  /** Frame-level report (the planted hot-term spec drives this). */
  private[graft] def lexStatsOf(terms: DataFrame, totals: DataFrame): DataFrame =
    terms
      .join(broadcast(totals))
      .orderBy(col("df").desc, col("tok").asc)
      .limit(StatsTopK)
      .select(
        col("tok"),
        col("df"),
        col("ttf"),
        Num.round4(col("df").cast("double") / col("n_docs").cast("double")).as("df_frac"),
        Num.round4(col("ttf").cast("double") / col("t_tok").cast("double")).as("mass_frac"))
      .orderBy(col("df").desc, col("tok").asc)

  // ------------------------------------------------------------------
  // q_lex_rerank (r19): the POLICY CONSUMER of the dictionary-drift
  // signal — the lexical twin of q_ivf_refit. lexDelta merges the
  // batch into the standing dictionary; nothing decided when the
  // STANDING index's published df ranking (what BM25 idf and the
  // stats report read) had drifted far enough to re-rank.

  /** Re-rank when the batch's DOCUMENT count reaches this share of the
    * settled collection (basis points): 1000 bp = 10%. Doc count is
    * the trigger (not token mass) for two reasons: every new document
    * shifts every idf through N as well as through df, so N-growth is
    * the drift floor no term escapes; and it is the stable signal —
    * token mass fluctuates with the batch's length mix (measured 993
    * bp on the sf0.01 slice whose doc growth is 1111 bp), which would
    * make the decision corpus-noise-dependent right at the boundary.
    * Token-mass growth stays in the report as a diagnostic. The
    * standing ingest-slice convention (1/10 of dense ids → ~1111 bp
    * of settled) sits just above the threshold so the declared query
    * exercises the due path every round.
    */
  val RerankGrowthBp = 1000L

  /** A single settled TOP-`StatsTopK` term whose df doubled (10000 bp)
    * triggers re-rank regardless of total mass: the hottest terms are
    * the stop-word boundary, and a head term doubling means the
    * df-degeneracy report (`lexStats`) is stale exactly where it
    * matters.
    */
  val RerankHotTermBp = 10000L

  /** q_lex_rerank: the re-rank decision over the settled-vs-batch
    * dictionary drift, plus — when due and an artifacts root is
    * configured — the re-rank itself: the whole-corpus quartet is
    * derived and published under the SAME `lex_*` names every
    * retrieval consumer reads (`lexIndexFor` — q_bm25_search,
    * q_tfidf_search, q_hybrid_search's lexical leg), so consumers
    * serve the refreshed ranking on their next run, identically to a
    * fresh build (derivation is deterministic; `LexRerankSpec` pins
    * the parity). Publication goes through `publishedOrCompute` — the
    * content-fingerprint key makes the re-rank idempotent: unchanged
    * inputs hit, a changed corpus recomputes under its new
    * fingerprint.
    *
    * Output (one row): settled/new term counts, batch document-count
    * growth (the trigger) and batch token-mass growth (diagnostic) in
    * basis points, the hottest settled top-K term's df growth, and
    * the decision (rerank_due).
    * Whether the re-rank then RAN is an execution-mode property
    * (artifacts root present), not part of the declared result — the
    * oracle is mode-blind SQL — so `LexRerankSpec` pins it, not a
    * column.
    */
  def lexRerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.dedup.Dedup.{DeltaBatchMod, DeltaBatchRem}
    val isBatch = pmod(col("doc_id"), lit(DeltaBatchMod)) === DeltaBatchRem
    val (_, sTerms, _, sTotals) = lexIndexOf(
      spark, Tables.documents(spark, dir).filter(!isBatch),
      Seq(s"$dir/documents.parquet"), "lex_settled")
    val bTf = graft.Staging.staged(
      tokenizedTf(Tables.documents(spark, dir).filter(isBatch)), "lex_rerank_btf")
    val bTerms = bTf.groupBy("tok").agg(count(lit(1)).as("df"), sum("tf").as("ttf"))
    val bTotals = bTf.agg(
      count_distinct(col("doc_id")).as("n_docs_b"), sum("tf").as("t_tok_b"))
    val sT = graft.Staging.staged(sTerms, "lex_rerank_settled")
    val bT = graft.Staging.staged(bTerms, "lex_rerank_batch")
    val joined = sT.toDF("tok", "df_s", "ttf_s")
      .join(bT.toDF("tok", "df_b", "ttf_b"), Seq("tok"), "full_outer")
    val topDrift = sT.orderBy(col("df").desc, col("tok").asc).limit(StatsTopK)
      .toDF("tok", "df_top", "ttf_top")
      .join(bT.toDF("tok", "df_b", "ttf_b"), Seq("tok"), "left")
      .agg(max(expr("(coalesce(df_b, 0L) * 10000) div df_top"))
        .as("max_top_df_growth_bp"))
    val agg = joined.agg(
      count(when(col("df_s").isNotNull, 1)).as("n_terms_settled"),
      count(when(col("df_s").isNull, 1)).as("n_terms_new"))
      .crossJoin(broadcast(sTotals.toDF("n_docs_s", "t_tok_s")))
      .crossJoin(broadcast(bTotals))
      .crossJoin(broadcast(topDrift))
      .withColumn("doc_growth_bp", expr("(n_docs_b * 10000) div n_docs_s"))
      .withColumn("ttf_growth_bp", expr("(t_tok_b * 10000) div t_tok_s"))
      .withColumn("rerank_due",
        col("doc_growth_bp") >= RerankGrowthBp ||
          col("max_top_df_growth_bp") >= RerankHotTermBp)
    // ONE execution: collect the decision row, rebuild the output as
    // literals (re-selecting from `agg` would re-run both tokenizes).
    val row = agg.collect()(0)
    def l(n: String): Option[Long] = {
      val i = row.fieldIndex(n)
      if (row.isNullAt(i)) None else Some(row.getLong(i))
    }
    val dueIx = row.fieldIndex("rerank_due")
    val due = !row.isNullAt(dueIx) && row.getBoolean(dueIx)
    // Root check kept: without a root there is no published index to refresh.
    if (due && graft.sources.Artifacts.rootDir(spark).isDefined) {
      // The re-rank: force the whole-corpus quartet through the
      // artifact layer — publishedOrCompute materializes eagerly, so
      // constructing the index IS the publish; a hit is a metadata
      // read of the already-refreshed ranking.
      lexIndexFor(spark, dir): Unit
    }
    import spark.implicits._
    Seq((l("n_terms_settled"), l("n_terms_new"), l("doc_growth_bp"),
      l("ttf_growth_bp"), l("max_top_df_growth_bp"), due))
      .toDF("n_terms_settled", "n_terms_new", "doc_growth_bp",
        "ttf_growth_bp", "max_top_df_growth_bp", "rerank_due")
  }

  val queries: Seq[Query] = Seq(
    // Lexical index maintenance (r17): the oracle for the DELTA-merged
    // dictionary is the FULL REBUILD over the whole corpus — equality
    // re-proves the merge monoid every round (the cluster-delta
    // contract). The stats oracle is the same tf derivation plus two
    // exact int64/int64 divisions round4'd.
    Query("q_lex_delta", (s, d) => lexDelta(s, d),
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
           |), tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
           |)
           |SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
           |FROM tf GROUP BY tok ORDER BY tok""".stripMargin),
    Query("q_lex_stats", (s, d) => lexStats(s, d),
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
           |), tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
           |), dl AS (
           |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
           |), totals AS (
           |  SELECT count(*) AS n_docs, sum(dl) AS t_tok FROM dl
           |), terms AS (
           |  SELECT tok, count(*) AS df, sum(tf) AS ttf FROM tf GROUP BY tok
           |)
           |SELECT tok, df, CAST(ttf AS BIGINT) AS ttf,
           |  floor(CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) * 10000 + 0.5) / 10000 AS df_frac,
           |  floor(CAST(ttf AS DOUBLE) / CAST(t_tok AS DOUBLE) * 10000 + 0.5) / 10000 AS mass_frac
           |FROM terms, totals
           |ORDER BY df DESC, tok LIMIT $StatsTopK""".stripMargin),
    Query("q_lex_rerank", (s, d) => lexRerank(s, d),
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
           |), tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
           |), sterms AS (
           |  SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
           |  FROM tf WHERE doc_id % ${graft.dedup.Dedup.DeltaBatchMod} <> ${graft.dedup.Dedup.DeltaBatchRem} GROUP BY tok
           |), bterms AS (
           |  SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
           |  FROM tf WHERE doc_id % ${graft.dedup.Dedup.DeltaBatchMod} = ${graft.dedup.Dedup.DeltaBatchRem} GROUP BY tok
           |), joined AS (
           |  SELECT s.df AS df_s, s.ttf AS ttf_s, b.df AS df_b, b.ttf AS ttf_b
           |  FROM sterms s FULL OUTER JOIN bterms b ON s.tok = b.tok
           |), stot AS (
           |  SELECT count(DISTINCT doc_id) AS n_docs_s, CAST(sum(tf) AS BIGINT) AS t_tok_s
           |  FROM tf WHERE doc_id % ${graft.dedup.Dedup.DeltaBatchMod} <> ${graft.dedup.Dedup.DeltaBatchRem}
           |), btot AS (
           |  SELECT count(DISTINCT doc_id) AS n_docs_b, CAST(sum(tf) AS BIGINT) AS t_tok_b
           |  FROM tf WHERE doc_id % ${graft.dedup.Dedup.DeltaBatchMod} = ${graft.dedup.Dedup.DeltaBatchRem}
           |), top AS (
           |  SELECT tok, df AS df_top FROM sterms
           |  ORDER BY df DESC, tok LIMIT $StatsTopK
           |), topd AS (
           |  SELECT max((coalesce(b.df, 0) * 10000) // t.df_top) AS max_top_df_growth_bp
           |  FROM top t LEFT JOIN bterms b ON b.tok = t.tok
           |), agg AS (
           |  SELECT
           |    count(*) FILTER (WHERE df_s IS NOT NULL) AS n_terms_settled,
           |    count(*) FILTER (WHERE df_s IS NULL) AS n_terms_new
           |  FROM joined
           |)
           |SELECT n_terms_settled, n_terms_new,
           |  (n_docs_b * 10000) // n_docs_s AS doc_growth_bp,
           |  (t_tok_b * 10000) // t_tok_s AS ttf_growth_bp,
           |  max_top_df_growth_bp,
           |  ((n_docs_b * 10000) // n_docs_s >= $RerankGrowthBp)
           |    OR (max_top_df_growth_bp >= $RerankHotTermBp) AS rerank_due
           |FROM agg, stot, btot, topd""".stripMargin)
  )
}
