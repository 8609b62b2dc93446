package graft.operators

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed batch curation run (r11): the funnel report a
  * production corpus build publishes before anyone trains on the
  * output. Every stage is an ALREADY-GATED operator — this query's
  * value is the INTEGRATION: the stages compose in the production
  * order, each flag derived from the same machinery its standalone
  * query pins cross-engine, and the whole funnel is hash-compared
  * against one DuckDB derivation (the reference's equivalent is the
  * gather→repair→monitor chain of active_data_gathering.py:1-327
  * composed over its per-script stages).
  *
  * Stages, in published pipeline order (C4/Gopher gates first — cheap
  * scan-local rules should drop junk BEFORE any corpus-scale dedup
  * work is spent on it):
  *   0 ingest       every document as landed
  *   1 c4_gate      C4 blocklist rules (q_quality_c4's planted rules)
  *   2 gopher_gate  Gopher quality conjunction (q_quality_gopher)
  *   3 dedup        one survivor per near-dup cluster among the gated
  *                  docs: min doc_id over cluster ∩ stage-2 survivors
  *                  (the cluster table is the PUBLISHED artifact when a
  *                  root is configured — q_dedup_clusters' output)
  *   4 calibrate    per-source quality calibration keep
  *                  (q_quality_calibrate's 60.0% band)
  *
  * Output: (stage_id, stage, n_docs, n_tokens) — 5 rows, pure integer
  * counts (token counts by the corpus single-space convention), so the
  * funnel is engine-exact with no rounding trade at all.
  *
  * Scale shape: four doc_id-keyed equi-joins (one exchange per side,
  * reused across joins), one window partitioned by cluster_id (cluster
  * memberships are bounded by construction; singletons are their own
  * partition), and a single-row conditional aggregate fanned out with
  * `stack` — no new corpus-scale machinery beyond what the component
  * queries already pay.
  */
object CurationRun {

  def curationRun(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QualityFilters
    // ONE spread documents scan (r20, verdict item 3): the r19 funnel
    // composed the STANDALONE gate queries, so every sub-operator paid
    // its own round-robin exchange over the same scan plus its own
    // staged persist+range-sort — none of which the final
    // aggregate needs. The C4 and Gopher rules are all scan-local
    // expressions, so both gates and the token count ride a single
    // projection over one spread scan; only the cluster table and the
    // calibration score (genuinely shuffle-bearing) join in.
    val docs = graft.Staging.spread(
      Tables.documents(spark, dir).select("doc_id", "text"))
    val flagged = QualityFilters.gopherFrame(
        QualityFilters.c4FrameOf(docs).withColumnRenamed("keep", "k1"))
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        col("k1"),
        col("keep").as("kg"))
    val cl = graft.dedup.Clusters.publishedClusters(spark, dir)
      .select("doc_id", "cluster_id")
    val cal = QualityFilters.calibratedFrameOf(
        docs, Tables.documents(spark, dir).select("doc_id", "source"))
      .select(
        col("doc_id"),
        (col("cum") * 1000L <= col("n_source") * QualityFilters.CalibrateKeepPermille).as("kc"))
    val flags = flagged
      .join(cl, "doc_id").join(cal, "doc_id")
      .withColumn("s1", col("k1"))
      .withColumn("s2", col("k1") && col("kg"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    val staged = flags
      // dedup keeper among the gate survivors, NOT the raw corpus: if a
      // cluster's min-id member was gated out, the next surviving
      // member carries the cluster forward (dropping the whole cluster
      // would punish clean docs for having had a junk near-dup).
      .withColumn("min_s2", min(when(col("s2"), col("doc_id"))).over(w))
      .withColumn("s3", col("s2") && col("doc_id") === col("min_s2"))
      .withColumn("s4", col("s3") && col("kc"))
    def n(flag: String) = sum(when(col(flag), 1L).otherwise(0L))
    def t(flag: String) = coalesce(sum(when(col(flag), col("n_toks"))), lit(0L))
    staged
      .agg(
        count(lit(1)).as("n0"), sum("n_toks").as("t0"),
        n("s1").as("n1"), t("s1").as("t1"),
        n("s2").as("n2"), t("s2").as("t2"),
        n("s3").as("n3"), t("s3").as("t3"),
        n("s4").as("n4"), t("s4").as("t4"))
      .selectExpr(
        """stack(5,
          |  0L, 'ingest',      n0, t0,
          |  1L, 'c4_gate',     n1, t1,
          |  2L, 'gopher_gate', n2, t2,
          |  3L, 'dedup',       n3, t3,
          |  4L, 'calibrate',   n4, t4
          |) AS (stage_id, stage, n_docs, n_tokens)""".stripMargin)
      .orderBy("stage_id")
  }

  val queries: Seq[Query] = Seq(
    // The composed curation funnel: every stage flag re-derived from
    // the SAME oracle machinery its standalone query is gated by (C4 +
    // gopher full queries nested as scoped subqueries, the recursive
    // cluster closure, the calibration CTEs), then one conditional
    // aggregate fanned to 5 rows. Pure integer counts — no rounding
    // trade anywhere in the funnel.
    Query("q_curation_run", curationRun _,
      s"""WITH RECURSIVE ${graft.dedup.Clusters.ClusterWalkCtes},
         |cr_cl AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id
         |), ${graft.functions.QualityFilters.CalibrateCtes},
         |cr_cal AS (
         |  SELECT s.doc_id,
         |    (cc.cum * 1000 <= t.n_source * ${graft.functions.QualityFilters.CalibrateKeepPermille}) AS keep
         |  FROM s JOIN cc USING (source, score4) JOIN t USING (source)
         |), cr_tok AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents
         |), cr_c4 AS (
         |  SELECT doc_id, keep FROM (${graft.functions.QualityFilters.QualityC4Sql})
         |), cr_gop AS (
         |  SELECT doc_id, keep FROM (${graft.functions.QualityFilters.QualityGopherSql})
         |), cr_flags AS (
         |  SELECT k.doc_id, k.n_toks,
         |    c4.keep AS s1,
         |    (c4.keep AND g.keep) AS s2,
         |    cl.cluster_id, ca.keep AS kc
         |  FROM cr_tok k
         |  JOIN cr_c4 c4 USING (doc_id)
         |  JOIN cr_gop g USING (doc_id)
         |  JOIN cr_cl cl USING (doc_id)
         |  JOIN cr_cal ca USING (doc_id)
         |), cr_st AS (
         |  SELECT *,
         |    (s2 AND doc_id = min(CASE WHEN s2 THEN doc_id END)
         |       OVER (PARTITION BY cluster_id)) AS s3
         |  FROM cr_flags
         |), cr_st4 AS (
         |  SELECT *, (s3 AND kc) AS s4 FROM cr_st
         |), cr_agg AS (
         |  SELECT count(*) AS n0, sum(n_toks) AS t0,
         |    count(*) FILTER (s1) AS n1, coalesce(sum(n_toks) FILTER (s1), 0) AS t1,
         |    count(*) FILTER (s2) AS n2, coalesce(sum(n_toks) FILTER (s2), 0) AS t2,
         |    count(*) FILTER (s3) AS n3, coalesce(sum(n_toks) FILTER (s3), 0) AS t3,
         |    count(*) FILTER (s4) AS n4, coalesce(sum(n_toks) FILTER (s4), 0) AS t4
         |  FROM cr_st4
         |)
         |SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
         |       CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM (
         |  SELECT 0 AS stage_id, 'ingest' AS stage, n0 AS n_docs, t0 AS n_tokens FROM cr_agg
         |  UNION ALL SELECT 1, 'c4_gate', n1, t1 FROM cr_agg
         |  UNION ALL SELECT 2, 'gopher_gate', n2, t2 FROM cr_agg
         |  UNION ALL SELECT 3, 'dedup', n3, t3 FROM cr_agg
         |  UNION ALL SELECT 4, 'calibrate', n4, t4 FROM cr_agg
         |)
         |ORDER BY stage_id""".stripMargin)
  )
}
