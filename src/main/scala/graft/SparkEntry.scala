package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.dedup.Dedup
import graft.similarity.{Knn, LshAnn}
import graft.functions.TextFunctions

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Column names of each query are aliased identically in the Spark plan
  * and the DuckDB oracle; doubles in compared output are rounded on both
  * sides (float sum order is engine/partitioning dependent).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.multiJoinAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_filter_project"  -> (Relational.filterProject _),
    "q_agg_group"       -> (Relational.aggGroup _),
    "q_join_broadcast"  -> (Relational.joinBroadcast _),
    "q_multi_join_agg"  -> (Relational.multiJoinAgg _),
    "q_topk_global"     -> (Relational.topkGlobal _),
    "q_topk_per_group"  -> (Relational.topkPerGroup _),
    "q_distinct_agg"    -> (Relational.distinctAgg _),
    "q_anti_join"       -> (Relational.antiJoin _),
    "q_semi_join"       -> (Relational.semiJoin _),
    "q_conditional_agg" -> (Relational.conditionalAgg _),
    "q_pivot_onehot"    -> (Relational.pivotOnehot _),
    "q_window_running"  -> (Windows.runningSum _),
    "q_window_moving"   -> (Windows.movingAvg _),
    "q_streaks"         -> (Windows.streaks _),
    "q_sessionize"      -> (Sessionize.sessions _),
    "q_range_join"      -> (RangeJoin.nearbyCounts _),
    "q_asof_lookback"   -> (Windows.asofLookback _),
    "q_percentiles"     -> (Windows.percentiles _),
    "q_zscore_normalize" -> (Windows.zscoreNormalize _),
    "q_histogram"       -> (Windows.histogram _),
    "q_rollup"          -> (Windows.rollupAgg _),
    "q_role_assign"     -> (RoleAssign.roles _),
    "q_range_attr_merge" -> (Fights.attrMerge _),
    "q_fight_outcomes"  -> (Fights.outcomes _),
    "q_lookback_multiwindow" -> (Windows.multiWindowLookback _),
    "q_stats_availability" -> (Windows.statsAvailability _),
    "q_recurrent_delta"    -> (Windows.recurrentDelta _),
    "q_split_assign"    -> (Splits.splitAssign _),
    "q_split_leakage_safe" -> (Splits.leakageSafeSplit _),
    "q_seq_pack"        -> (SeqPack.seqPack _),
    "q_doc_shuffle"     -> ((s, d) => SeqPack.docShuffle(s, d)),
    "q_pack_boundaries" -> (SeqPack.packBoundaries _),
    "q_pack_efficiency" -> (SeqPack.packEfficiency _),
    "q_source_mix"      -> (Splits.sourceMix _),
    "q_source_temperature" -> (Splits.sourceTemperature _),
    "q_source_upsample"    -> (Splits.sourceUpsample _),
    "q_token_budget_mix"   -> (Splits.tokenBudgetMix _),
    "q_stratified_sample" -> (Splits.stratifiedSample _),
    "q_pull_schedule"   -> (graft.sources.PullIngest.pullSchedule _),
    "q_distinct_agg_approx" -> (Relational.distinctAggApprox _),
    "q_json_props"      -> (Relational.jsonProps _),
    "q_event_transitions" -> (Windows.eventTransitions _),
    "q_latest_snapshot" -> (Windows.latestSnapshot _),
    "q_percentiles_approx"  -> (Windows.percentilesApprox _),
    "q_dedup_exact"        -> ((s, d) => Dedup.exact(s, d)),
    "q_dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "q_dedup_jaccard_prefix" -> ((s, d) => Dedup.jaccardPrefix(s, d)),
    "q_dedup_containment"  -> ((s, d) => Dedup.containment(s, d)),
    "q_source_overlap"     -> ((s, d) => Dedup.sourceOverlap(s, d)),
    "q_curation_run"       -> (graft.operators.CurationRun.curationRun _),
    "q_dedup_minhash_lsh"  -> ((s, d) => Dedup.minhashLsh(s, d)),
    "q_dedup_recall"       -> ((s, d) => graft.dedup.DedupQa.dedupRecall(s, d)),
    "q_index_stats"        -> ((s, d) => graft.dedup.DedupQa.indexStats(s, d)),
    "q_dedup_simhash"      -> ((s, d) => Dedup.simhash(s, d)),
    "q_dedup_clusters"     -> ((s, d) => graft.dedup.Clusters.dedupClusters(s, d)),
    "q_cluster_delta"      -> ((s, d) => graft.dedup.Clusters.clusterDelta(s, d)),
    "q_dedup_keep_best"    -> ((s, d) => graft.dedup.Clusters.keepBest(s, d)),
    "q_substr_dedup"       -> ((s, d) => graft.dedup.SubstrDedup.substrDedup(s, d)),
    "q_decontaminate"      -> ((s, d) => Dedup.decontaminate(s, d)),
    "q_contamination_report" -> ((s, d) => Dedup.contaminationReport(s, d)),
    "q_decontaminate_bloom" -> ((s, d) => Dedup.decontaminateBloom(s, d)),
    "q_doc_repetition"     -> ((s, d) => TextFunctions.docRepetition(s, d)),
    "q_embed_neardup"      -> ((s, d) => Dedup.embedNeardup(s, d)),
    "q_embed_neardup_lsh"  -> ((s, d) => LshAnn.neardupPairs(s, d)),
    "q_knn_cosine"         -> ((s, d) => Knn.bruteTopK(s, d)),
    "q_embed_quantize"     -> ((s, d) => graft.similarity.Quantize.quantizeStats(s, d)),
    "q_ann_lsh"            -> ((s, d) => LshAnn.annTopK(s, d)),
    "q_ann_recall"         -> ((s, d) => graft.similarity.AnnRecall.annRecall(s, d)),
    "q_ann_recall_ivf"     -> ((s, d) => graft.similarity.AnnRecall.annRecallIvf(s, d)),
    "q_hybrid_search"      -> ((s, d) => graft.similarity.Hybrid.hybridSearch(s, d)),
    "q_lex_delta"          -> ((s, d) => graft.similarity.LexIndex.lexDelta(s, d)),
    "q_lex_stats"          -> ((s, d) => graft.similarity.LexIndex.lexStats(s, d)),
    "q_lex_rerank"         -> ((s, d) => graft.similarity.LexIndex.lexRerank(s, d)),
    "q_ann_ivf"            -> ((s, d) => graft.similarity.IvfAnn.ivfTopK(s, d)),
    "q_ivf_delta"          -> ((s, d) => graft.similarity.IvfAnn.ivfDelta(s, d)),
    "q_ivf_refit"          -> ((s, d) => graft.similarity.IvfAnn.ivfRefit(s, d)),
    "q_ann_ivfpq"          -> ((s, d) => graft.similarity.IvfPq.ivfPqTopK(s, d)),
    "q_knn_graph"          -> ((s, d) => graft.similarity.IvfAnn.knnGraph(s, d)),
    "q_token_count"        -> ((s, d) => TextFunctions.tokenCount(s, d)),
    "q_token_count_bpe"    -> ((s, d) => TextFunctions.tokenCountBpe(s, d)),
    "q_text_quality"       -> ((s, d) => TextFunctions.textQuality(s, d)),
    "q_lang_id"            -> ((s, d) => TextFunctions.langId(s, d)),
    "q_doc_fingerprint"    -> ((s, d) => TextFunctions.docFingerprint(s, d)),
    "q_doc_chunk"          -> ((s, d) => TextFunctions.docChunk(s, d)),
    "q_vocab_topk"         -> ((s, d) => TextFunctions.vocabTopK(s, d)),
    "q_vocab_topk_cms"     -> ((s, d) => TextFunctions.vocabTopKCms(s, d)),
    "q_substr_search"      -> ((s, d) => TextFunctions.substrSearch(s, d)),
    "q_phrase_mine"        -> ((s, d) => TextFunctions.phraseMine(s, d)),
    "q_tfidf_search"       -> ((s, d) => TextFunctions.tfidfSearch(s, d)),
    "q_bm25_search"        -> ((s, d) => TextFunctions.bm25Search(s, d)),
    "q_session_stats"      -> (Sessionize.sessionStats _),
    "q_multimodal_pipeline" -> ((s, d) => graft.multimodal.BinaryPipeline.pipelineGated(s, d)),
    "q_scd_history"         -> ((s, d) => graft.sources.ScdHistory.scdHistory(s, d)),
    "q_stats_history_composite" -> (StatsHistory.statsComposite _),
    "q_feature_bins"        -> (Features.featureBins _),
    "q_corr_matrix"         -> (Features.corrMatrix _),
    "q_stats_merge"         -> (Features.statsMerge _),
    "q_line_dedup"          -> ((s, d) => graft.dedup.LineDedup.lineDedup(s, d)),
    "q_pii_redact"          -> ((s, d) => graft.functions.QualityFilters.piiRedact(s, d)),
    "q_quality_gopher"      -> ((s, d) => graft.functions.QualityFilters.gopherQuality(s, d)),
    "q_dedup_delta"         -> ((s, d) => Dedup.dedupDelta(s, d)),
    "q_semdedup"            -> ((s, d) => graft.similarity.SemDedup.semDedupPairs(s, d)),
    "q_media_prep"          -> ((s, d) => graft.multimodal.BinaryPipeline.mediaPrep(s, d)),
    "q_media_pixels"        -> ((s, d) => graft.multimodal.PixelPipeline.mediaPixels(s, d)),
    "q_media_pixels_jpeg"   -> ((s, d) => graft.multimodal.PixelPipeline.mediaPixelsJpeg(s, d)),
    "q_corpus_report"       -> ((s, d) => graft.functions.QualityFilters.corpusReport(s, d)),
    "q_quality_sample"      -> ((s, d) => graft.functions.QualityFilters.qualitySample(s, d)),
    "q_quality_c4"          -> ((s, d) => graft.functions.QualityFilters.c4Quality(s, d)),
    "q_quality_freqrank"    -> ((s, d) => graft.functions.QualityFilters.freqRankQuality(s, d)),
    "q_dsir_select"         -> ((s, d) => graft.functions.Dsir.dsirSelect(s, d)),
    "q_corpus_diff"         -> ((s, d) => graft.sources.SnapshotDiff.corpusDiff(s, d)),
    "q_snapshot_merge"      -> ((s, d) => graft.sources.SnapshotDiff.snapshotMerge(s, d)),
    "q_corpus_drift"        -> ((s, d) => graft.sources.SnapshotDiff.corpusDrift(s, d)),
    "q_diversity_sample"    -> ((s, d) => graft.similarity.Diversity.diversitySample(s, d)),
    "q_quality_bigramlm"    -> ((s, d) => graft.functions.QualityFilters.bigramLmQuality(s, d)),
    "q_quality_calibrate"   -> ((s, d) => graft.functions.QualityFilters.calibratedQuality(s, d)),
    "q_quality_tiers"       -> ((s, d) => graft.functions.QualityFilters.scoreTiers(s, d)),
    "q_curriculum_order"    -> ((s, d) => graft.functions.QualityFilters.curriculumOrder(s, d)),
    "q_bpe_train"           -> ((s, d) => graft.functions.BpeTrain.trainTable(s, d)),
    "q_tokenize_bpe"        -> ((s, d) => TextFunctions.tokenizeBpe(s, d)),
    "q_html_extract"        -> ((s, d) => graft.functions.HtmlExtract.htmlExtract(s, d)),
    "q_html_corpus_report"  -> ((s, d) => graft.functions.HtmlExtract.htmlCorpusReport(s, d)),
    "q_model_lr"            -> (Model.trainPredict _),
    "q_model_eval"          -> (Model.evalTable _)
  )

  private val SeqPackSql =
    raw"""WITH t AS (
         |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens FROM documents
         |), c AS (
         |  SELECT doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |  FROM t
         |)
         |SELECT doc_id,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(off AS BIGINT) AS start_offset,
         |  CAST(off // 2048 AS BIGINT) AS pack_id,
         |  CAST(off % 2048 AS BIGINT) AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin

  private val NgramJaccardSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS i
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sg
      |  FROM tok t1
      |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
      |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2
      |), pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      |  FROM sh x JOIN sh y ON x.sg = y.sg AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |)
      |SELECT p.a, p.b, floor(p.inter * 1.0 / (sa.n + sb.n - p.inter) * 10000 + 0.5) / 10000 AS jac
      |FROM pairs p
      |JOIN sizes sa ON p.a = sa.doc_id
      |JOIN sizes sb ON p.b = sb.doc_id
      |WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= 0.8
      |ORDER BY a, b""".stripMargin

  /** Shared recursive-closure CTEs (DuckDB): 3-gram shingles → >= 0.8
    * Jaccard pairs → undirected edges → `walk` = transitive reachability
    * from every doc. Used by the clustering oracle and the
    * leakage-safe-split oracle.
    */
  private val ClusterWalkCtes =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS i
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sg
      |  FROM tok t1
      |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
      |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2
      |), cand AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      |  FROM sh x JOIN sh y ON x.sg = y.sg AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
      |), pairs AS (
      |  SELECT c.a, c.b
      |  FROM cand c
      |  JOIN sizes sa ON c.a = sa.doc_id
      |  JOIN sizes sb ON c.b = sb.doc_id
      |  WHERE c.inter * 1.0 / (sa.n + sb.n - c.inter) >= 0.8
      |), edges AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION ALL
      |  SELECT b, a FROM pairs
      |), walk(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.r = e.src
      |)""".stripMargin

  /** Shared by q_decontaminate and q_decontaminate_bloom: the bloom
    * pre-filter has no false negatives and exact-confirms candidates, so
    * both queries have the SAME exact output.
    */
  private val DecontamSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |), s AS (
      |  SELECT doc_id, unnest(range(1, len(tk) - 6)) AS i, tk FROM t WHERE len(tk) >= 8
      |), sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(tk[i : i + 7], ' ') AS sg FROM s
      |), ev AS (
      |  SELECT DISTINCT sg FROM sh WHERE doc_id % 20 = 0
      |), hits AS (
      |  SELECT sh.doc_id, count(*) AS n_overlap
      |  FROM sh JOIN ev USING (sg)
      |  WHERE sh.doc_id % 20 != 0
      |  GROUP BY sh.doc_id
      |)
      |SELECT d.doc_id,
      |  CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
      |  coalesce(h.n_overlap, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 20 != 0
      |ORDER BY d.doc_id""".stripMargin

  /** DuckDB-equivalent SQL per query (same column aliases, same rounding,
    * same deterministic ORDER BY).
    */
  def oracleSql: Map[String, String] = Map(
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice""".stripMargin,
    "q_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_broadcast" ->
      """SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_multi_join_agg" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_topk_global" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 10""".stripMargin,
    "q_topk_per_group" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer
        |) WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin,
    "q_distinct_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_anti_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin,
    "q_semi_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin,
    "q_conditional_agg" ->
      """SELECT user_id,
        |  round((sum(CASE WHEN value > 120 THEN 1 ELSE 0 END)
        |       - sum(CASE WHEN value < 80 THEN 1 ELSE 0 END)) * 1.0 / count(*), 4) AS ratio,
        |  round(sum(CASE WHEN value >= 80 AND value <= 120 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS mid_share,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_pivot_onehot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_window_running" ->
      """SELECT event_id, user_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_window_moving" ->
      """SELECT event_id, user_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), 4) AS avg2,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg3,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS avg4
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_streaks" ->
      """WITH seq AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN value >= 100 THEN 1 ELSE 0 END AS w,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), isl AS (
        |  SELECT user_id, w,
        |    rn - row_number() OVER (PARTITION BY user_id, w ORDER BY ts, event_id) AS grp
        |  FROM seq
        |), runs AS (
        |  SELECT user_id, w, grp, count(*) AS len FROM isl GROUP BY user_id, w, grp
        |)
        |SELECT user_id,
        |  max(CASE WHEN w = 1 THEN len ELSE 0 END) AS max_win_streak,
        |  max(CASE WHEN w = 0 THEN len ELSE 0 END) AS max_loss_streak
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id,
        |    count(CASE WHEN brk = 1 THEN 1 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g
        |)
        |SELECT user_id, session_id, count(*) AS n_events
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_range_join" ->
      """SELECT a.event_id, count(b.event_id) AS n_nearby
        |FROM events a LEFT JOIN events b
        |  ON a.user_id = b.user_id AND b.event_id != a.event_id
        | AND epoch_us(b.ts) >= epoch_us(a.ts) - 900000000
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 900000000
        |WHERE a.event_type = 'error'
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin,
    "q_asof_lookback" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  floor((CAST(sum(v100) OVER w AS DOUBLE) / (count(v100) OVER w * 100.0)) * 10000 + 0.5) / 10000 AS avg_7d
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |  RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,
    "q_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // r16 graduation: the fixed-grid integer bucket histogram replays
    // exactly — centi-int scaling is lossless on the 2-decimal domain,
    // bucket width / ranks are pure integer arithmetic, and the
    // midpoint estimate is one int/100.0 division + round4 (identical
    // IEEE ops both engines). `//` is DuckDB integer floor-division =
    // Spark `div` on the nonnegative operands used here.
    "q_percentiles_approx" ->
      s"""WITH sv AS (
        |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS sv FROM events
        |), st AS (
        |  SELECT event_type, min(sv) AS lo, max(sv) AS hi, count(*) AS n,
        |         (max(sv) - min(sv)) // ${graft.operators.Windows.ApproxBuckets} + 1 AS w
        |  FROM sv GROUP BY event_type
        |), bk AS (
        |  SELECT s.event_type, t.lo, t.w, t.n, (s.sv - t.lo) // t.w AS bucket, count(*) AS c
        |  FROM sv s JOIN st t USING (event_type)
        |  GROUP BY 1, 2, 3, 4, 5
        |), cum AS (
        |  SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cc FROM bk
        |), sel AS (
        |  SELECT event_type, lo, w,
        |         min(CASE WHEN cc >= (1 * n + 1) // 2 THEN bucket END) AS b50,
        |         min(CASE WHEN cc >= (9 * n + 9) // 10 THEN bucket END) AS b90,
        |         min(CASE WHEN cc >= (99 * n + 99) // 100 THEN bucket END) AS b99
        |  FROM cum GROUP BY 1, 2, 3
        |)
        |SELECT event_type,
        |  ${graft.Num.round4Sql("CAST(lo + b50 * w + w // 2 AS DOUBLE) / 100.0")} AS p50,
        |  ${graft.Num.round4Sql("CAST(lo + b90 * w + w // 2 AS DOUBLE) / 100.0")} AS p90,
        |  ${graft.Num.round4Sql("CAST(lo + b99 * w + w // 2 AS DOUBLE) / 100.0")} AS p99
        |FROM sel ORDER BY event_type""".stripMargin,
    "q_zscore_normalize" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor((l_extendedprice - avg(l_extendedprice) OVER ())
        |        / (2 * stddev_pop(l_extendedprice) OVER ()) * 10000 + 0.5) / 10000 AS znorm
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, znorm""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(value / 50) AS INT) AS bucket, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS rname, coalesce(n_name, 'ALL') AS nname,
        |  count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY rname, nname""".stripMargin,
    "q_json_props" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
        |  FROM events
        |)
        |SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_k_high,
        |  floor(CAST(sum(CASE WHEN k >= 50 THEN v100 ELSE 0 END) AS DOUBLE)
        |        / (sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) * 100.0) * 10000 + 0.5) / 10000 AS avg_value_k_high
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_event_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |), pairs AS (
        |  SELECT prev_type, event_type, count(*) AS n
        |  FROM seq WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type
        |)
        |SELECT prev_type, event_type, n,
        |  floor(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type) * 10000 + 0.5) / 10000 AS share
        |FROM pairs ORDER BY prev_type, event_type""".stripMargin,
    "q_latest_snapshot" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_split_assign" ->
      """SELECT doc_id,
        |  ((doc_id % 1000003) * 1315423911 + 12345) % 1000000007 % 100 AS bucket,
        |  CASE WHEN ((doc_id % 1000003) * 1315423911 + 12345) % 1000000007 % 100 < 80 THEN 'train'
        |       WHEN ((doc_id % 1000003) * 1315423911 + 12345) % 1000000007 % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_role_assign" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount
        |  FROM lineitem
        |), s1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_quantity DESC, l_linenumber, l_partkey, l_extendedprice, l_quantity, l_discount) AS rn
        |  FROM li
        |), s2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_extendedprice ASC, l_linenumber, l_partkey, l_extendedprice, l_quantity, l_discount) AS rn2
        |  FROM s1 WHERE rn > 1
        |), s3 AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY l_discount DESC, l_linenumber, l_partkey, l_extendedprice, l_quantity, l_discount) AS rn3
        |  FROM s2 WHERE rn2 > 1
        |)
        |SELECT l_orderkey, l_linenumber, l_partkey, role FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, 'bulk' AS role FROM s1 WHERE rn = 1
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, 'budget' FROM s2 WHERE rn2 = 1
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, 'discount' FROM s3 WHERE rn3 = 1
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, 'other' FROM s3 WHERE rn3 > 1
        |) ORDER BY l_orderkey, l_linenumber, l_partkey, role""".stripMargin,
    "q_range_attr_merge" ->
      """WITH a AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS a_ts, value FROM events WHERE event_type = 'error'
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS c_ts, value FROM events WHERE event_type = 'click'
        |), m AS (
        |  SELECT a.event_id, count(*) AS n_clicks,
        |    floor(max(c.value) * 10000 + 0.5) / 10000 AS max_click,
        |    floor(sum(c.value) * 10000 + 0.5) / 10000 AS sum_click
        |  FROM a JOIN c ON a.user_id = c.user_id
        |    AND c.c_ts >= a.a_ts - 900000000 AND c.c_ts <= a.a_ts + 900000000
        |  GROUP BY a.event_id
        |)
        |SELECT a.event_id, a.user_id, coalesce(m.n_clicks, 0) AS n_clicks, m.max_click, m.sum_click
        |FROM a LEFT JOIN m ON a.event_id = m.event_id
        |ORDER BY a.event_id""".stripMargin,
    "q_fight_outcomes" ->
      """WITH a AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS a_ts, value FROM events WHERE event_type = 'error'
        |), c AS (
        |  SELECT user_id, epoch_us(ts) AS c_ts FROM events WHERE event_type = 'click'
        |), m AS (
        |  SELECT a.event_id, count(*) AS n_clicks
        |  FROM a JOIN c ON a.user_id = c.user_id
        |    AND c.c_ts >= a.a_ts - 900000000 AND c.c_ts <= a.a_ts + 900000000
        |  GROUP BY a.event_id
        |), f AS (
        |  SELECT a.user_id,
        |    CASE WHEN coalesce(m.n_clicks, 0) = 0 THEN 'solo'
        |         WHEN coalesce(m.n_clicks, 0) <= 3 THEN 'skirmish'
        |         ELSE 'team' END AS kind,
        |    CASE WHEN a.value >= 100 THEN 1 ELSE 0 END AS win
        |  FROM a LEFT JOIN m ON a.event_id = m.event_id
        |)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN kind = 'solo' THEN 1 ELSE 0 END) AS BIGINT) AS solo_n,
        |  CAST(sum(CASE WHEN kind = 'solo' THEN win ELSE 0 END) AS BIGINT) AS solo_wins,
        |  CAST(sum(CASE WHEN kind = 'skirmish' THEN 1 ELSE 0 END) AS BIGINT) AS skirmish_n,
        |  CAST(sum(CASE WHEN kind = 'skirmish' THEN win ELSE 0 END) AS BIGINT) AS skirmish_wins,
        |  CAST(sum(CASE WHEN kind = 'team' THEN 1 ELSE 0 END) AS BIGINT) AS team_n,
        |  CAST(sum(CASE WHEN kind = 'team' THEN win ELSE 0 END) AS BIGINT) AS team_wins
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_lookback_multiwindow" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  floor(CAST(sum(v100) OVER w7 AS DOUBLE) / (count(*) OVER w7 * 100.0) * 10000 + 0.5) / 10000 AS avg_7d,
        |  floor(CAST(sum(v100) OVER w14 AS DOUBLE) / (count(*) OVER w14 * 100.0) * 10000 + 0.5) / 10000 AS avg_14d,
        |  floor(CAST(sum(v100) OVER w21 AS DOUBLE) / (count(*) OVER w21 * 100.0) * 10000 + 0.5) / 10000 AS avg_21d,
        |  count(*) OVER w7 AS n_7d,
        |  floor(CAST(sum(v100) OVER wt AS DOUBLE) / (count(*) OVER wt * 100.0) * 10000 + 0.5) / 10000 AS avg_7d_type
        |FROM e
        |WINDOW
        |  w7 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING),
        |  w14 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 1209600000 PRECEDING AND 1 PRECEDING),
        |  w21 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 1814400000 PRECEDING AND 1 PRECEDING),
        |  wt AS (PARTITION BY user_id, event_type ORDER BY ts_ms RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,
    "q_stats_availability" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value FROM events
        |)
        |SELECT event_id, user_id,
        |  count(*) OVER w7 AS n_7d,
        |  count(*) OVER w21 AS n_21d,
        |  CAST(coalesce(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) OVER w7, 0) AS BIGINT) AS n_high_7d,
        |  CAST(coalesce(sum(CASE WHEN value >= 10 THEN 1 ELSE 0 END) OVER w7, 0) AS BIGINT) AS n_counted_7d,
        |  count(*) OVER wt AS n_same_type_7d
        |FROM e
        |WINDOW
        |  w7 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING),
        |  w21 AS (PARTITION BY user_id ORDER BY ts_ms RANGE BETWEEN 1814400000 PRECEDING AND 1 PRECEDING),
        |  wt AS (PARTITION BY user_id, event_type ORDER BY ts_ms RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,
    "q_recurrent_delta" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
        |  FROM events
        |)
        |SELECT event_id, user_id, event_type, value,
        |  CASE WHEN count(*) OVER w2 = 2
        |    THEN floor(CAST(sum(v100) OVER w2 AS DOUBLE) / 200.0 * 10000 + 0.5) / 10000 END AS delta2,
        |  CASE WHEN count(*) OVER w3 = 3
        |    THEN floor(CAST(sum(v100) OVER w3 AS DOUBLE) / 300.0 * 10000 + 0.5) / 10000 END AS delta3,
        |  CASE WHEN count(*) OVER w4 = 4
        |    THEN floor(CAST(sum(v100) OVER w4 AS DOUBLE) / 400.0 * 10000 + 0.5) / 10000 END AS delta4
        |FROM e
        |WINDOW
        |  w2 AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
        |  w3 AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
        |  w4 AS (PARTITION BY user_id, event_type ORDER BY ts_ms, event_id ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,
    "q_source_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_s FROM documents GROUP BY source
        |), m AS (
        |  SELECT min(n_s) AS min_n FROM c
        |), r AS (
        |  SELECT source, greatest((min_n * 1000) // n_s, 1) AS rate_pm FROM c, m
        |)
        |SELECT d.doc_id, d.source,
        |  CAST(((d.doc_id % 1000003) * 1315423911 + 2038074743) % 1000000007 % 1000 AS BIGINT) AS bucket
        |FROM documents d JOIN r USING (source)
        |WHERE ((d.doc_id % 1000003) * 1315423911 + 2038074743) % 1000000007 % 1000 < r.rate_pm
        |ORDER BY d.doc_id""".stripMargin,
    // Temperature (α = 1/2) mixing: floor(sqrt(exact integer)) is
    // cross-engine deterministic because IEEE sqrt is correctly rounded
    // (a fractional pow would not be).
    "q_source_temperature" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_s FROM documents GROUP BY source
        |), m AS (
        |  SELECT min(n_s) AS min_n FROM c
        |), r AS (
        |  SELECT source,
        |    greatest(CAST(floor(sqrt(CAST((min_n * 1000000) // n_s AS DOUBLE))) AS BIGINT), 1) AS rate_pm
        |  FROM c, m
        |)
        |SELECT d.doc_id, d.source,
        |  CAST(((d.doc_id % 1000003) * 1315423911 + 1442695040) % 1000000007 % 1000 AS BIGINT) AS bucket
        |FROM documents d JOIN r USING (source)
        |WHERE ((d.doc_id % 1000003) * 1315423911 + 1442695040) % 1000000007 % 1000 < r.rate_pm
        |ORDER BY d.doc_id""".stripMargin,
    // upsampling mirrors temperature's floor-sqrt rate as EPOCHS: the
    // integer part repeats every doc, the fractional per-mille selects
    // docs by hash, the cap bounds the explode — all exact integers
    "q_source_upsample" ->
      s"""WITH c AS (
         |  SELECT source, count(*) AS n_s FROM documents GROUP BY source
         |), m AS (
         |  SELECT max(n_s) AS max_n FROM c
         |), r AS (
         |  SELECT source,
         |    least(CAST(floor(sqrt(CAST((max_n * 1000000) // n_s AS DOUBLE))) AS BIGINT), ${graft.operators.Splits.UpsampleMaxEpochs * 1000}) AS epochs_pm
         |  FROM c, m
         |), e AS (
         |  SELECT d.doc_id, d.source,
         |    epochs_pm // 1000 +
         |      CASE WHEN ((d.doc_id % 1000003) * 1315423911 + 824633720) % 1000000007 % 1000 < epochs_pm % 1000
         |           THEN 1 ELSE 0 END AS n_copies
         |  FROM documents d JOIN r USING (source)
         |)
         |SELECT doc_id, source, CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_id
         |FROM e ORDER BY doc_id, copy_id""".stripMargin,
    // token-budget mixing: sqrt-damped budgets over per-source TOKEN
    // totals (floor-sqrt exactness trick), keep ⇔ strictly-before
    // cumulative tokens fit the budget, within-source order = the
    // squared-multiplier shuffle key (its own salt)
    "q_token_budget_mix" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         |    ((doc_id % 1000003) * ${(1315423911L + 2 * graft.operators.Splits.TokenBudgetSalt) % 1000000007L}) % 1000000007 AS k1
         |  FROM documents
         |), dk AS (
         |  SELECT doc_id, source, n_tokens, (k1 * k1) % 1000000007 AS k FROM d
         |), t AS (
         |  SELECT source, sum(n_tokens) AS t_s FROM dk GROUP BY source
         |), m AS (
         |  SELECT min(t_s) AS min_t FROM t
         |), b AS (
         |  SELECT source,
         |    greatest(t_s * greatest(CAST(floor(sqrt(CAST((min_t * 1000000) // t_s AS DOUBLE))) AS BIGINT), 1) // 1000, 1) AS budget
         |  FROM t, m
         |), c AS (
         |  SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY k, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM dk
         |)
         |SELECT c.doc_id, c.source, CAST(c.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(c.cum_before AS BIGINT) AS cum_before
         |FROM c JOIN b USING (source)
         |WHERE c.cum_before < b.budget
         |ORDER BY c.doc_id""".stripMargin,
    // pull-ingestion schedule: greedy multi-window rate limiting
    // t(i) = max_j(t(i-n_j) + w_j), replayed as a recursive CTE whose
    // working row carries a ring-buffer list of the last max(n_j)
    // ticks (exactly the per-key state the distributed pass keeps);
    // limits pinned to PullIngest.GateLimits = (3 per 2, 10 per 20)
    "q_pull_schedule" ->
      """WITH RECURSIVE base AS (
        |  SELECT r.r_name AS api_key, c.c_custkey AS req_id,
        |    row_number() OVER (PARTITION BY r.r_name ORDER BY c.c_custkey) - 1 AS seq
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |), cnt AS (
        |  SELECT api_key, count(*) AS n FROM base GROUP BY api_key
        |), sched AS (
        |  SELECT api_key, CAST(0 AS BIGINT) AS seq, CAST(0 AS BIGINT) AS t, [CAST(0 AS BIGINT)] AS ring
        |  FROM base WHERE seq = 0
        |  UNION ALL
        |  SELECT u.api_key, u.seq, u.t0 AS t,
        |    CASE WHEN len(list_append(u.ring, u.t0)) > 10
        |         THEN list_append(u.ring, u.t0)[-10:]
        |         ELSE list_append(u.ring, u.t0) END AS ring
        |  FROM (
        |    SELECT s.api_key AS api_key, s.seq + 1 AS seq,
        |      greatest(
        |        CASE WHEN s.seq + 1 >= 3 THEN s.ring[-3] + 2 ELSE CAST(0 AS BIGINT) END,
        |        CASE WHEN s.seq + 1 >= 10 THEN s.ring[-10] + 20 ELSE CAST(0 AS BIGINT) END) AS t0,
        |      s.ring AS ring
        |    FROM sched s JOIN cnt ON s.api_key = cnt.api_key
        |    WHERE s.seq + 1 < cnt.n
        |  ) u
        |)
        |SELECT b.api_key, b.req_id, CAST(b.seq AS BIGINT) AS req_seq, s.t AS issue_tick
        |FROM base b JOIN sched s ON b.api_key = s.api_key AND b.seq = s.seq
        |ORDER BY 1, 3""".stripMargin,
    "q_seq_pack" -> SeqPackSql,
    // boundaries ride the same layout: embed the seq-pack derivation as
    // a subquery and aggregate per pack (aligned primitive lists, both
    // engines ordering by (pack_offset, doc_id)).
    "q_pack_boundaries" ->
      s"""WITH sp AS ($SeqPackSql)
         |SELECT pack_id, count(*) AS n_docs,
         |  coalesce(array_to_string(list(pack_offset ORDER BY pack_offset, doc_id), ' '), '') AS boundary_offsets,
         |  coalesce(array_to_string(list(doc_id ORDER BY pack_offset, doc_id), ' '), '') AS boundary_docs
         |FROM sp GROUP BY pack_id ORDER BY pack_id""".stripMargin,
    // per-split packing efficiency: the same concat-and-chunk layout
    // computed per split (offsets restart), aggregated to split grain;
    // ratios are int64-exact divisions round4'd identically both sides
    "q_pack_efficiency" ->
      raw"""WITH t AS (
           |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens,
           |    ((doc_id % 1000003) * 1315423911 + 12345) % 1000000007 % 100 AS bucket
           |  FROM documents
           |), s AS (
           |  SELECT doc_id, n_tokens,
           |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
           |         ELSE 'test' END AS split
           |  FROM t
           |), c AS (
           |  SELECT split, n_tokens,
           |    coalesce(sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           |  FROM s
           |), a AS (
           |  SELECT split,
           |    greatest(max(off // 2048) + 1, (sum(n_tokens) + 2047) // 2048) AS n_packs,
           |    count(*) AS n_docs,
           |    sum(n_tokens) AS total_tokens,
           |    sum(CASE WHEN off % 2048 + n_tokens > 2048 THEN 1 ELSE 0 END) AS n_straddlers
           |  FROM c GROUP BY split
           |)
           |SELECT split,
           |  CAST(n_packs AS BIGINT) AS n_packs,
           |  CAST(n_docs AS BIGINT) AS n_docs,
           |  CAST(total_tokens AS BIGINT) AS total_tokens,
           |  floor((CAST(n_docs AS DOUBLE) / CAST(n_packs AS DOUBLE)) * 10000 + 0.5) / 10000 AS docs_per_pack,
           |  CAST(n_straddlers AS BIGINT) AS n_straddlers,
           |  floor((CAST(n_straddlers AS DOUBLE) / CAST(n_docs AS DOUBLE)) * 10000 + 0.5) / 10000 AS straddle_rate,
           |  floor((CAST(total_tokens % 2048 AS DOUBLE) / 2048.0) * 10000 + 0.5) / 10000 AS tail_fill
           |FROM a ORDER BY split""".stripMargin,
    // salt enters via the MULTIPLIER (1315423911 + 2*69069) and the
    // product is SQUARED mod p: an additive salt would only rotate the
    // order, and one multiply under-mixes small doc_id ranges (epochs
    // would rank-correlate)
    "q_doc_shuffle" ->
      """WITH h0 AS (
        |  SELECT doc_id, ((doc_id % 1000003) * 1315562049) % 1000000007 AS k1
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, (k1 * k1) % 1000000007 AS shuffle_key FROM h0
        |)
        |SELECT doc_id, shuffle_key,
        |  ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS pos
        |FROM h ORDER BY doc_id""".stripMargin,
    "q_doc_chunk" ->
      raw"""WITH t AS (
           |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
           |), s AS (
           |  SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS start FROM t
           |)
           |SELECT doc_id, start // 24 AS chunk_idx,
           |  len(tk[start + 1 : start + 32]) AS n_chunk_tokens,
           |  array_to_string(tk[start + 1 : start + 32], ' ') AS chunk_text
           |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_vocab_topk" ->
      raw"""SELECT token, count(*) AS n FROM (
           |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents
           |) GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    // the CMS shortlist + exact-rescore path must emit EXACTLY the true
    // top-k (sketch selects, exact counts re-order — the oracle is the
    // same exact query as q_vocab_topk)
    "q_vocab_topk_cms" ->
      raw"""SELECT token, count(*) AS n FROM (
           |  SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents
           |) GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    // the index-probe search must equal a LIKE scan: the phrase is
    // token-boundary-safe in this vocabulary (verified at every SF), so
    // substring counting == token-trigram counting
    "q_substr_search" ->
      s"""SELECT doc_id,
         |  (length(text) - length(replace(text, '${graft.functions.TextFunctions.SearchPhrase}', '')))
         |    // length('${graft.functions.TextFunctions.SearchPhrase}') AS n_hits,
         |  source
         |FROM documents
         |WHERE contains(text, '${graft.functions.TextFunctions.SearchPhrase}')
         |ORDER BY doc_id""".stripMargin,
    // word2phrase statistic in exact per-mille integer space; top-20
    // with phrase tie-break, final total order by phrase
    "q_phrase_mine" ->
      s"""WITH tk AS (
         |  SELECT string_split(text, ' ') AS tk FROM documents
         |), uni AS (
         |  SELECT w, count(*) AS cw FROM (SELECT unnest(tk) AS w FROM tk) GROUP BY w
         |), bi AS (
         |  SELECT w1, w2, count(*) AS n_pair FROM (
         |    SELECT tk[i] AS w1, tk[i + 1] AS w2
         |    FROM tk, unnest(range(1, len(tk))) AS t(i)
         |  ) GROUP BY w1, w2 HAVING count(*) >= ${graft.functions.TextFunctions.PhraseMinCount}
         |), n AS (SELECT sum(cw) AS nt FROM uni
         |), s AS (
         |  SELECT w1 || ' ' || w2 AS phrase, n_pair,
         |    CAST((1000 * (n_pair - ${graft.functions.TextFunctions.PhraseDiscount}) * nt) // (a.cw * b.cw) AS BIGINT) AS score
         |  FROM bi JOIN uni a ON w1 = a.w JOIN uni b ON w2 = b.w CROSS JOIN n
         |), top AS (
         |  SELECT phrase, n_pair, score FROM s
         |  ORDER BY score DESC, phrase LIMIT ${graft.functions.TextFunctions.PhraseTopK}
         |)
         |SELECT phrase, n_pair, score FROM top ORDER BY phrase""".stripMargin,
    // DuckDB has no equivalent of Spark's seeded xxhash64, so the
    // MinHash/SimHash variants are rows-checked (plus ScalaTest parity
    // with the exact operators); the exact dedup family is SQL-matched.
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q_dedup_ngram_jaccard" -> NgramJaccardSql,
    "q_dedup_delta" -> {
      val where = "WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= 0.8"
      val m = Dedup.DeltaBatchMod
      val r = Dedup.DeltaBatchRem
      val sql = NgramJaccardSql.replace(where, s"$where AND (p.a % $m = $r OR p.b % $m = $r)")
      require(sql != NgramJaccardSql, "delta oracle WHERE anchor drifted out of NgramJaccardSql")
      sql
    },
    // prefix-filtered variant is LOSSLESS — identical oracle.
    "q_dedup_jaccard_prefix" -> NgramJaccardSql,
    // MinHash-LSH (r14): full cross-engine replay of the seeded XXH64
    // chain — band keys reproduced bit-for-bit in DuckDB HUGEINT mod
    // 2^64 arithmetic, candidates from the replayed buckets, then the
    // same exact >= tau verify. See MinHashOracle for the generator and
    // its two loud-failure domain assumptions (ASCII, shingles < 32 B).
    "q_dedup_minhash_lsh" -> graft.dedup.MinHashOracle.sql,
    // Recall gate and index health report share the SAME replay chain
    // (pairCtes) as the LSH oracle, so the three cannot drift.
    "q_dedup_recall" -> graft.dedup.MinHashOracle.recallSql,
    "q_index_stats" -> graft.dedup.MinHashOracle.indexStatsSql,
    // SimHash (r14): same XXH64 string replay — every token occurrence
    // votes, fingerprint bits from strictly-positive vote sums, block
    // keys off the unsigned fingerprint, bit_count(xor) hamming verify.
    "q_dedup_simhash" -> graft.dedup.MinHashOracle.simhashSql,
    // One-sided containment: same shingle CTEs, ORDERED pairs (<>), the
    // divisor is the contained side's set size only. The one-sided
    // prefix + positional pruning is lossless, so the oracle is the
    // full-index derivation.
    "q_dedup_containment" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         generate_subscripts(string_split(text, ' '), 1) AS i
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sg
        |  FROM tok t1
        |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
        |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2
        |), pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.sg = y.sg AND x.doc_id <> y.doc_id
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |)
        |SELECT p.a, p.b, floor(p.inter * 1.0 / sa.n * 10000 + 0.5) / 10000 AS cont
        |FROM pairs p
        |JOIN sizes sa ON p.a = sa.doc_id
        |WHERE p.inter * 1.0 / sa.n >= 0.8
        |ORDER BY a, b""".stripMargin,
    // Near-dup links rolled up to unordered source pairs: the jaccard
    // CTEs feed a two-way doc→source join and a least/greatest fold.
    "q_source_overlap" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         generate_subscripts(string_split(text, ' '), 1) AS i
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT t1.doc_id, t1.w || ' ' || t2.w || ' ' || t3.w AS sg
        |  FROM tok t1
        |  JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
        |  JOIN tok t3 ON t1.doc_id = t3.doc_id AND t3.i = t1.i + 2
        |), pairs AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
        |  FROM sh x JOIN sh y ON x.sg = y.sg AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), nd AS (
        |  SELECT p.a, p.b FROM pairs p
        |  JOIN sizes sa ON p.a = sa.doc_id
        |  JOIN sizes sb ON p.b = sb.doc_id
        |  WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= 0.8
        |)
        |SELECT least(da.source, db.source) AS src_a,
        |       greatest(da.source, db.source) AS src_b,
        |       count(*) AS n_links
        |FROM nd
        |JOIN documents da ON nd.a = da.doc_id
        |JOIN documents db ON nd.b = db.doc_id
        |GROUP BY 1, 2
        |ORDER BY src_a, src_b""".stripMargin,
    // Transitive closure over the same >= 0.8 Jaccard edge set via a
    // recursive CTE: min reachable doc_id = cluster id.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $ClusterWalkCtes
        |SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS is_keeper
        |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,
    // The incremental maintainer is held to the FULL-RECOMPUTE answer:
    // identical oracle to q_dedup_clusters — merging standing components
    // along batch-incident edges must reproduce corpus-wide CC exactly.
    "q_cluster_delta" ->
      s"""WITH RECURSIVE $ClusterWalkCtes
        |SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS is_keeper
        |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin,
    // Same closure joined to the freq-rank score: per cluster the
    // winner is argmin (mean_rank, doc_id) — row_number in both engines
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $ClusterWalkCtes, cl AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id
        |), fr AS (
        |$FreqRankSql
        |), ranked AS (
        |  SELECT cl.cluster_id, f.doc_id, f.mean_rank,
        |    row_number() OVER (PARTITION BY cl.cluster_id ORDER BY f.mean_rank ASC, f.doc_id ASC) AS rn
        |  FROM cl JOIN fr f ON cl.doc_id = f.doc_id
        |)
        |SELECT cluster_id, doc_id AS keep_doc, mean_rank
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    // Same closure, split assigned by hashing the CLUSTER id so near-dup
    // members can never straddle train/test.
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE $ClusterWalkCtes, cl AS (
        |  SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id
        |)
        |SELECT doc_id, cluster_id,
        |  CAST(((cluster_id % 1000003) * 1315423911 + 12345) % 1000000007 % 100 AS BIGINT) AS bucket,
        |  CASE WHEN ((cluster_id % 1000003) * 1315423911 + 12345) % 1000000007 % 100 < 80 THEN 'train'
        |       WHEN ((cluster_id % 1000003) * 1315423911 + 12345) % 1000000007 % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM cl ORDER BY doc_id""".stripMargin,
    "q_decontaminate" -> DecontamSql,
    // source-grain rollup of the decontamination verdicts; rides the
    // same CTE, so the report stays exactly consistent with the per-doc
    // gate output
    "q_contamination_report" ->
      s"""WITH v AS ($DecontamSql)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN v.contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |  CAST(sum(v.n_overlap) AS BIGINT) AS total_overlaps,
         |  floor((CAST(sum(CASE WHEN v.contaminated THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 10000 + 0.5) / 10000 AS contamination_rate
         |FROM v JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // the bloom pre-filter has no false negatives and candidates are
    // exact-confirmed, so the OUTPUT is identical to plain decontaminate
    // — the oracle is literally shared
    "q_decontaminate_bloom" -> DecontamSql,
    "q_doc_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i : i + 2], ' ')) AS grams
        |  FROM t WHERE len(tk) >= 3
        |)
        |SELECT doc_id,
        |  CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        |  floor((1.0 - len(list_distinct(grams)) * 1.0 / len(grams)) * 10000 + 0.5) / 10000 AS dup_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "q_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
        |)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |  floor(list_dot_product(x.v, y.v) / (x.nrm * y.nrm) * 10000 + 0.5) / 10000 AS cos
        |FROM n x JOIN n y ON x.vec_id < y.vec_id
        |WHERE list_dot_product(x.v, y.v) / (x.nrm * y.nrm) >= 0.4
        |ORDER BY a, b""".stripMargin,
    // Quantization is elementwise (no accumulation order), so the stats
    // oracle-check exactly; indexing instead of list_zip keeps DuckDB
    // struct field naming out of the comparison.
    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), s AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS sc FROM e
        |), q AS (
        |  SELECT vec_id, v, sc,
        |    CASE WHEN sc = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> CAST(floor(x / sc + 0.5) AS INT)) END AS qv
        |  FROM s
        |)
        |SELECT vec_id,
        |  CAST(len(v) AS BIGINT) AS n_dims,
        |  floor(sc * 10000 + 0.5) / 10000 AS scale,
        |  CASE WHEN sc = 0 THEN 0.0
        |       ELSE floor(list_max(list_transform(range(1, len(v) + 1), i -> abs(qv[i] * sc - v[i]))) * 10000 + 0.5) / 10000
        |  END AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin,
    // LSH embedding queries (r14): fully oracle-backed after all — the
    // hyperplane table inlines as round-trip double literals and
    // DuckDB's list_dot_product matches graft_dot's accumulation order
    // bit-for-bit (the identity q_knn_cosine's oracle has relied on
    // since r3), so signatures, band keys, multi-probe, and the exact
    // cosine verify all replay. See LshOracle.
    "q_embed_neardup_lsh" -> graft.similarity.LshOracle.neardupSql,
    "q_ann_lsh" -> graft.similarity.LshOracle.annSql,
    "q_ann_recall" -> graft.similarity.LshOracle.recallSql,
    // The k-means family (r15): the deterministic quantizer build —
    // hash-ordered sample, hash-prefix init, fixed Lloyd rounds,
    // balance splits with median-mass cuts, routing, remap — replays
    // end-to-end in DuckDB (KMeansOracle), so all four fit-consuming
    // queries graduate from rows-only to full rows+schema+hash.
    "q_ann_ivf" -> graft.similarity.KMeansOracle.annIvfSql,
    "q_ivf_delta" -> graft.similarity.KMeansOracle.ivfDeltaSql,
    // r19: the refit/re-rank POLICY consumers — the decision aggregates
    // over the delta health reports; side effects (artifact republish)
    // are mode-local and excluded from the declared result by design.
    "q_ivf_refit" -> graft.similarity.KMeansOracle.ivfRefitSql,
    "q_lex_rerank" ->
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
           |  ORDER BY df DESC, tok LIMIT ${graft.similarity.LexIndex.StatsTopK}
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
           |  ((n_docs_b * 10000) // n_docs_s >= ${graft.similarity.LexIndex.RerankGrowthBp})
           |    OR (max_top_df_growth_bp >= ${graft.similarity.LexIndex.RerankHotTermBp}) AS rerank_due
           |FROM agg, stot, btot, topd""".stripMargin,
    "q_ann_recall_ivf" -> graft.similarity.KMeansOracle.ivfRecallSql,
    // Lexical index maintenance (r17): the oracle for the DELTA-merged
    // dictionary is the FULL REBUILD over the whole corpus — equality
    // re-proves the merge monoid every round (the cluster-delta
    // contract). The stats oracle is the same tf derivation plus two
    // exact int64/int64 divisions round4'd.
    "q_lex_delta" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
           |), tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
           |)
           |SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf
           |FROM tf GROUP BY tok ORDER BY tok""".stripMargin,
    "q_lex_stats" ->
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
           |ORDER BY df DESC, tok LIMIT ${graft.similarity.LexIndex.StatsTopK}""".stripMargin,
    "q_knn_graph" -> graft.similarity.KMeansOracle.knnGraphSql,
    "q_semdedup" -> graft.similarity.KMeansOracle.semdedupSql,
    "q_diversity_sample" -> graft.similarity.KMeansOracle.diversitySql,
    "q_ann_ivfpq" -> graft.similarity.KMeansOracle.annIvfPqSql,
    // The model family (r15): the rational-sigmoid GD trainer replays
    // in DuckDB (ModelOracle) — train → score → eval oracle-closed.
    "q_model_lr" -> graft.operators.ModelOracle.trainPredictSql,
    "q_model_eval" -> graft.operators.ModelOracle.evalSql,
    // HyperLogLog++ replay (r15): registers + estimator + bias tables,
    // constants extracted from the live Spark helper. See HllOracle.
    "q_distinct_agg_approx" -> graft.operators.HllOracle.sql,
    // Hybrid RRF fusion: BM25's exact-rational int64 scoring (see
    // q_bm25_search) for the query doc's top-3 terms + the IVF probe's
    // cosine list for its vector (the quantizer replay of q_ann_ivf),
    // fused as two IEEE divisions of exact integers summed in fixed
    // order before round4.
    "q_hybrid_search" ->
      raw"""WITH RECURSIVE
           |${graft.similarity.KMeansOracle.quantCtes.mkString(",\n")},
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
           |), ${graft.similarity.KMeansOracle.hybridSemCtes}
           |SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           |  CAST(coalesce(l.lex_rank, -1) AS BIGINT) AS lex_rank,
           |  CAST(coalesce(s.sem_rank, -1) AS BIGINT) AS sem_rank,
           |  floor((coalesce(1::DOUBLE / (60 + l.lex_rank), 0)
           |       + coalesce(1::DOUBLE / (60 + s.sem_rank), 0)) * 10000 + 0.5) / 10000 AS rrf
           |FROM lex l FULL JOIN sem s ON s.doc_id = l.doc_id
           |ORDER BY rrf DESC, doc_id""".stripMargin,
    "q_knn_cosine" ->
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
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,
    "q_scd_history" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_type
        |  FROM events
        |), c AS (
        |  SELECT user_id, event_type, ts_ms, event_id FROM e
        |  WHERE prev_type IS NULL OR prev_type != event_type
        |)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  event_type,
        |  ts_ms AS valid_from_ms,
        |  coalesce(lead(ts_ms) OVER w, 253402300799999) AS valid_to_ms
        |FROM c
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "q_stats_history_composite" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100,
        |    CASE WHEN value >= 100 THEN 1 ELSE 0 END AS w
        |  FROM events
        |), u AS (
        |  SELECT *,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC) AS BIGINT) AS rn,
        |    max(ts_ms) OVER (PARTITION BY user_id) AS max_ts
        |  FROM e
        |), s AS (
        |  SELECT *, max(CASE WHEN rn = 1 THEN w END) OVER (PARTITION BY user_id) AS last_w FROM u
        |), t AS (
        |  SELECT *,
        |    min(CASE WHEN w != last_w THEN rn END) OVER (PARTITION BY user_id) AS brk,
        |    count(*) OVER (PARTITION BY user_id) AS n_user
        |  FROM s
        |), lane AS (
        |  SELECT user_id, event_type,
        |    count(*) AS n_events,
        |    floor(CAST(sum(v100) AS DOUBLE) / (count(*) * 100.0) * 10000 + 0.5) / 10000 AS avg_value,
        |    CASE WHEN sum(CASE WHEN ts_ms > max_ts - 604800000 THEN 1 ELSE 0 END) > 0
        |      THEN floor(CAST(sum(CASE WHEN ts_ms > max_ts - 604800000 THEN v100 ELSE 0 END) AS DOUBLE)
        |           / (sum(CASE WHEN ts_ms > max_ts - 604800000 THEN 1 ELSE 0 END) * 100.0) * 10000 + 0.5) / 10000
        |      END AS avg_value_7d,
        |    max(coalesce(brk, n_user + 1) - 1) AS cur_streak_len,
        |    max(last_w) AS cur_streak_win
        |  FROM t GROUP BY user_id, event_type
        |)
        |SELECT user_id, event_type, n_events, avg_value, avg_value_7d,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC, event_type) AS BIGINT) AS lane_rank,
        |  cur_streak_len, cur_streak_win
        |FROM lane ORDER BY user_id, lane_rank""".stripMargin,
    "q_tfidf_search" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
           |), tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
           |), dfreq AS (
           |  SELECT tok, count(*) AS df FROM tf GROUP BY 1
           |), total AS (
           |  SELECT count(*) AS n_docs FROM documents
           |), q AS (
           |  SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT 3
           |), idf AS (
           |  SELECT tok, CAST(floor((n_docs - df + 0.5) / (df + 0.5) * 10000 + 0.5) AS BIGINT) AS idf4
           |  FROM q, total
           |)
           |SELECT tf.doc_id, CAST(sum(tf.tf * idf.idf4) AS DOUBLE) / 10000.0 AS score
           |FROM tf JOIN idf USING (tok)
           |GROUP BY tf.doc_id
           |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
    // BM25 with k1=6/5, b=3/4 and exact-rational avgdl=T/N: per-term
    // score collapses to ONE int64/int64 division (IEEE-identical both
    // engines), floor(q+0.5)-quantized to 4dp so doc totals are exact
    // integer sums in any partition order
    "q_bm25_search" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
           |), tf AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
           |), dl AS (
           |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
           |), totals AS (
           |  SELECT count(*) AS n_docs, sum(dl) AS t_tok FROM dl
           |), dfreq AS (
           |  SELECT tok, count(*) AS df FROM tf GROUP BY 1
           |), q AS (
           |  SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT 3
           |), idf AS (
           |  SELECT tok, CAST(floor((n_docs - df + 0.5) / (df + 0.5) * 10000 + 0.5) AS BIGINT) AS idf4
           |  FROM q, totals
           |), s AS (
           |  SELECT tf.doc_id,
           |    CAST(floor(CAST(idf.idf4 * 22 * tf.tf * t.t_tok AS DOUBLE)
           |      / CAST(10 * tf.tf * t.t_tok + 3 * t.t_tok + 9 * dl.dl * t.n_docs AS DOUBLE)
           |      + 0.5) AS BIGINT) AS score4
           |  FROM tf JOIN idf USING (tok) JOIN dl USING (doc_id), totals t
           |)
           |SELECT doc_id, CAST(sum(score4) AS DOUBLE) / 10000.0 AS score
           |FROM s GROUP BY doc_id
           |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,
    "q_session_stats" ->
      """WITH g AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
        |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > 1800000 THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id, ts_ms, event_id,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g
        |), per AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        |  FROM s GROUP BY user_id, session_id
        |)
        |SELECT user_id,
        |  count(*) AS n_sessions,
        |  floor(CAST(sum(n_events) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_session_events,
        |  max(n_events) AS max_session_events,
        |  floor(CAST(sum(end_ms - start_ms) AS DOUBLE) / (count(*) * 60000.0) * 10000 + 0.5) / 10000 AS avg_session_minutes
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stratified_sample" ->
      """SELECT event_id, user_id, event_type,
        |  ((event_id % 1000003) * 1315423911 + 12345) % 1000000007 % 100 AS bucket
        |FROM events
        |WHERE ((event_id % 1000003) * 1315423911 + 12345) % 1000000007 % 100
        |      < (CASE WHEN event_type IN ('view', 'click') THEN 20 ELSE 80 END)
        |ORDER BY event_id""".stripMargin,
    "q_feature_bins" ->
      """WITH b AS (
        |  SELECT list_transform(quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |                        q -> floor(q * 10000 + 0.5) / 10000) AS bs
        |  FROM events
        |)
        |SELECT event_id, value,
        |  CAST((CASE WHEN value >= bs[1] THEN 1 ELSE 0 END) + (CASE WHEN value >= bs[2] THEN 1 ELSE 0 END)
        |     + (CASE WHEN value >= bs[3] THEN 1 ELSE 0 END) + (CASE WHEN value >= bs[4] THEN 1 ELSE 0 END)
        |     + (CASE WHEN value >= bs[5] THEN 1 ELSE 0 END) + (CASE WHEN value >= bs[6] THEN 1 ELSE 0 END)
        |     + (CASE WHEN value >= bs[7] THEN 1 ELSE 0 END) + (CASE WHEN value >= bs[8] THEN 1 ELSE 0 END)
        |     + (CASE WHEN value >= bs[9] THEN 1 ELSE 0 END) AS BIGINT) AS bin
        |FROM events, b ORDER BY event_id""".stripMargin,
    "q_corr_matrix" ->
      """WITH s AS (
        |  SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
        |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS z
        |  FROM lineitem
        |), a AS (
        |  SELECT count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(z * z) AS szz,
        |    sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
        |  FROM s
        |)
        |SELECT n,
        |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 10000 + 0.5) / 10000 AS corr_qty_price,
        |  floor((CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
        |    * 10000 + 0.5) / 10000 AS corr_qty_disc,
        |  floor((CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        |         * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
        |    * 10000 + 0.5) / 10000 AS corr_price_disc
        |FROM a""".stripMargin,
    // the merge path (partial states unioned and re-aggregated) must
    // equal the single-pass direct stats bit-for-bit — double operation
    // order mirrored exactly (see Features.statsMerge)
    "q_stats_merge" ->
      """WITH s AS (
        |  SELECT source, len(string_split(text, ' ')) AS len FROM documents
        |), a AS (
        |  SELECT source, count(*) AS n, sum(len) AS total_len,
        |    min(len) AS min_len, max(len) AS max_len, sum(len * len) AS ss
        |  FROM s GROUP BY source
        |)
        |SELECT source, n, CAST(total_len AS BIGINT) AS total_len, min_len, max_len,
        |  floor(CAST(total_len AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS mean_len,
        |  floor((CAST(ss AS DOUBLE) - CAST(total_len AS DOUBLE) * CAST(total_len AS DOUBLE) / CAST(n AS DOUBLE))
        |    / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS var_len
        |FROM a ORDER BY source""".stripMargin,
    "q_token_count" ->
      raw"""SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tokens
           |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_count_bpe" ->
      raw"""SELECT doc_id,
           |  len(string_split_regex(text, '\s+')) AS n_tokens_ws,
           |  len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_tokens_bpe
           |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      raw"""WITH t AS (
           |  SELECT doc_id, text, string_split_regex(text, '\s+') AS tk FROM documents
           |), b AS (
           |  SELECT doc_id,
           |    len(tk) AS n_tokens,
           |    len(list_filter(tk, x -> x IN (${TextFunctions.stopListSql}))) AS stop_hits,
           |    length(text) AS n_chars
           |  FROM t
           |)
           |SELECT doc_id, n_tokens, stop_hits,
           |  floor(stop_hits / n_tokens * 10000 + 0.5) / 10000 AS stop_ratio,
           |  floor((n_chars - n_tokens + 1) / n_tokens * 10000 + 0.5) / 10000 AS avg_token_chars,
           |  floor((0.4 * least(n_tokens / 50.0, 1.0)
           |       + 0.4 * (1.0 - stop_hits / n_tokens)
           |       + 0.2 * least((n_chars - n_tokens + 1) / n_tokens / 5.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
           |FROM b ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      raw"""WITH t AS (
           |  SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
           |), h AS (
           |  SELECT doc_id,
           |    len(list_filter(tk, x -> x IN (${TextFunctions.markerListSql("de")}))) AS h_de,
           |    len(list_filter(tk, x -> x IN (${TextFunctions.markerListSql("en")}))) AS h_en,
           |    len(list_filter(tk, x -> x IN (${TextFunctions.markerListSql("es")}))) AS h_es,
           |    len(list_filter(tk, x -> x IN (${TextFunctions.markerListSql("fr")}))) AS h_fr,
           |    len(list_filter(tk, x -> x IN (${TextFunctions.markerListSql("zh")}))) AS h_zh
           |  FROM t
           |)
           |SELECT doc_id,
           |  CASE
           |    WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_zh THEN 'de'
           |    WHEN h_en >= h_de AND h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
           |    WHEN h_es >= h_de AND h_es >= h_en AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
           |    WHEN h_fr >= h_de AND h_fr >= h_en AND h_fr >= h_es AND h_fr >= h_zh THEN 'fr'
           |    ELSE 'zh'
           |  END AS pred_lang,
           |  greatest(h_de, h_en, h_es, h_fr, h_zh) AS n_hits
           |FROM h ORDER BY doc_id""".stripMargin,
    // The oracle recomputes the media-prep plan from the id-derived
    // generator formulas, so a Spark-side DECODE regression (the dims
    // feeding the plan come from real byte parsing) breaks this gate.
    // r17: the last rows-only row graduates — header bytes re-synthesized
    // from the generator's own hex constants, checksum polynomial rolled
    // in HUGEINT mod-2^64 over header + text bytes (see
    // BinaryPipeline.pipelineSql; ASCII-guarded by Verify's domain probe).
    "q_multimodal_pipeline" -> graft.multimodal.BinaryPipeline.pipelineSql,
    "q_media_prep" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 1024 WHEN 2 THEN 160 + doc_id % 1280 ELSE 0 END AS width,
        |    CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 768 WHEN 2 THEN 120 + doc_id % 720 ELSE 0 END AS height,
        |    CASE WHEN doc_id % 3 = 2 THEN (1 + doc_id % 59) * 1000 ELSE 0 END AS duration_ms
        |  FROM documents
        |), d AS (
        |  SELECT media_id, kind, width, height, duration_ms,
        |    CASE WHEN width <= 0 OR height <= 0 THEN 0
        |         WHEN width >= height THEN 224
        |         ELSE greatest(1, (width * 224) // height) END AS dst_w,
        |    CASE WHEN width <= 0 OR height <= 0 THEN 0
        |         WHEN height >= width THEN 224
        |         ELSE greatest(1, (height * 224) // width) END AS dst_h,
        |    CASE kind WHEN 'image' THEN 1 WHEN 'video' THEN duration_ms // 1000 + 1 ELSE 0 END AS n_frames
        |  FROM m
        |)
        |SELECT media_id, kind, width, height, dst_w, dst_h, n_frames,
        |  ((dst_w + 15) // 16) * ((dst_h + 15) // 16) * n_frames AS n_tokens
        |FROM d ORDER BY media_id""".stripMargin,
    // r16: full-frame PNG pixel decode. The engine inflates + unfilters
    // REAL zlib IDAT bytes (PngCodec: all five RFC 2083 filters, chunk
    // CRCs) and aggregates exact int64 channel sums; the oracle
    // recomputes the same statistics from the id-derived pixel formula
    // p(id,x,y,c) = (31·id + 7x + 13y + 5c) mod 256 — lossless codec
    // roundtrip makes them equal bit-for-bit, so ANY defect in the
    // inflate/unfilter path breaks this gate. Means are one int/int
    // double division + round4 (identical IEEE ops both engines).
    "q_media_pixels" ->
      """WITH img AS (
        |  SELECT doc_id AS media_id, 8 + doc_id % 25 AS w, 8 + doc_id % 17 AS h
        |  FROM documents WHERE doc_id % 6 = 0
        |), px AS (
        |  SELECT media_id, w, h, unnest(range(0, w * h)) AS i FROM img
        |), sums AS (
        |  SELECT media_id, w, h,
        |    sum((media_id * 31 + 7 * (i % w) + 13 * (i // w)) % 256) AS sr,
        |    sum((media_id * 31 + 7 * (i % w) + 13 * (i // w) + 5) % 256) AS sg,
        |    sum((media_id * 31 + 7 * (i % w) + 13 * (i // w) + 10) % 256) AS sb
        |  FROM px GROUP BY 1, 2, 3
        |)
        |SELECT media_id, w AS width, h AS height, w * h AS n_px,
        |  floor((CAST(sr AS DOUBLE) / (w * h)) * 10000 + 0.5) / 10000 AS mean_r,
        |  floor((CAST(sg AS DOUBLE) / (w * h)) * 10000 + 0.5) / 10000 AS mean_g,
        |  floor((CAST(sb AS DOUBLE) / (w * h)) * 10000 + 0.5) / 10000 AS mean_b
        |FROM sums ORDER BY media_id""".stripMargin,
    // r17: the JPEG twin — real baseline JFIF (Annex-K Huffman scan
    // data) decoded end-to-end; block-constant content makes the
    // roundtrip exact, and the oracle replays the codec's fixed-point
    // YCbCr roundtrip per block (constants from JpegCodec itself).
    "q_media_pixels_jpeg" -> graft.multimodal.PixelPipeline.mediaPixelsJpegSql,
    "q_line_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         generate_subscripts(string_split(text, ' '), 1) AS i
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, (i - 1) // 10 AS line_no, string_agg(w, ' ' ORDER BY i) AS line
        |  FROM w GROUP BY doc_id, (i - 1) // 10
        |), f AS (
        |  SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line
        |)
        |SELECT l.doc_id, count(*) AS n_lines,
        |  count(CASE WHEN f.df >= 3 THEN 1 END) AS n_removed,
        |  coalesce(string_agg(CASE WHEN f.df < 3 THEN l.line END, ' ' ORDER BY l.line_no), '') AS clean_text
        |FROM l JOIN f USING (line)
        |GROUP BY l.doc_id
        |ORDER BY l.doc_id""".stripMargin,
    // ExactSubstr-style: the oracle keys on gram STRINGS where the plan
    // keys on xxhash64 longs — identical output modulo the documented
    // 1e-10 collision trade. The engine's SubstrOccCap boilerplate
    // exclusion (a window hash with > cap total occurrences drops out
    // of removal — see SubstrDedup.SubstrOccCap) is replicated here as
    // the count(*) <= cap HAVING term, so the oracle/engine contract
    // holds UNCONDITIONALLY, not only on corpora where the cap is inert.
    "q_substr_dedup" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |), g AS (
        |  SELECT doc_id, s, array_to_string(w[s + 1 : s + 8], ' ') AS gram
        |  FROM (SELECT doc_id, w, unnest(range(0, greatest(len(w) - 7, 0))) AS s FROM t)
        |), rep AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2
        |     AND count(*) <= ${graft.dedup.SubstrDedup.SubstrOccCap}
        |), cov AS (
        |  SELECT doc_id, list_distinct(flatten(list(range(s, s + 8)))) AS covered
        |  FROM g JOIN rep USING (gram) GROUP BY doc_id
        |), fin AS (
        |  SELECT t.doc_id, w, coalesce(cov.covered, CAST([] AS BIGINT[])) AS covered
        |  FROM t LEFT JOIN cov USING (doc_id)
        |)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(w) - len(clean) AS BIGINT) AS n_removed,
        |  coalesce(array_to_string(clean, ' '), '') AS clean_text
        |FROM (
        |  SELECT doc_id, w,
        |    list_where(w, list_transform(range(0, len(w)), i -> NOT list_contains(covered, i))) AS clean
        |  FROM fin
        |) ORDER BY doc_id""".stripMargin,
    "q_pii_redact" ->
      raw"""WITH p AS (
           |  SELECT doc_id,
           |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or call 555-' ||
           |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           |      ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS pii_text
           |  FROM documents
           |), r AS (
           |  SELECT doc_id, pii_text,
           |    regexp_replace(
           |      regexp_replace(
           |        regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           |        '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
           |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text
           |  FROM p
           |)
           |SELECT doc_id,
           |  len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           |  len(regexp_extract_all(pii_text, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones,
           |  len(regexp_extract_all(pii_text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
           |  clean_text
           |FROM r ORDER BY doc_id""".stripMargin,
    "q_quality_gopher" -> QualityGopherSql,
    "q_quality_sample" -> QualitySampleSql,
    "q_tokenize_bpe" -> graft.functions.Bpe.oracleSql,
    // r15: the training LOOP graduates from rows-only — the lexicon is
    // bounded by contract, so the whole merge iteration replays as one
    // recursive CTE carrying the lexicon as a single state row (exact
    // argmax + tie-break + greedy merge semantics; see BpeTrainOracle).
    "q_bpe_train" -> graft.functions.BpeTrainOracle.oracleSql,
    // graft_fingerprint replayed byte-by-byte: h = h*31 + byte over the
    // UTF-8 bytes, 64-bit wrap. DuckDB BIGINT overflow errors rather
    // than wraps, so the accumulator runs in HUGEINT mod 2^64 and maps
    // to signed at the end. ord(char) = the UTF-8 byte only for ASCII —
    // exactly what the generator emits; a future non-ASCII regeneration
    // fails this compare loudly (multi-byte chars advance one char but
    // several bytes), never silently.
    "q_doc_fingerprint" ->
      """WITH RECURSIVE fp AS (
        |  SELECT doc_id, text, 0 AS i, length(text) AS n, 0::HUGEINT AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, text, i + 1, n,
        |         (h * 31 + ord(substr(text, i + 1, 1))) % 18446744073709551616::HUGEINT
        |  FROM fp WHERE i < n
        |)
        |SELECT doc_id,
        |       (CASE WHEN h >= 9223372036854775808::HUGEINT
        |             THEN h - 18446744073709551616::HUGEINT ELSE h END)::BIGINT AS fp
        |FROM fp WHERE i = n
        |ORDER BY doc_id""".stripMargin,
    "q_quality_c4" -> QualityC4Sql,
    // The composed curation funnel: every stage flag re-derived from
    // the SAME oracle machinery its standalone query is gated by (C4 +
    // gopher full queries nested as scoped subqueries, the recursive
    // cluster closure, the calibration CTEs), then one conditional
    // aggregate fanned to 5 rows. Pure integer counts — no rounding
    // trade anywhere in the funnel.
    "q_curation_run" ->
      s"""WITH RECURSIVE $ClusterWalkCtes,
         |cr_cl AS (
         |  SELECT id AS doc_id, min(r) AS cluster_id FROM walk GROUP BY id
         |), $CalibrateCtes,
         |cr_cal AS (
         |  SELECT s.doc_id,
         |    (cc.cum * 1000 <= t.n_source * ${graft.functions.QualityFilters.CalibrateKeepPermille}) AS keep
         |  FROM s JOIN cc USING (source, score4) JOIN t USING (source)
         |), cr_tok AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents
         |), cr_c4 AS (
         |  SELECT doc_id, keep FROM ($QualityC4Sql)
         |), cr_gop AS (
         |  SELECT doc_id, keep FROM ($QualityGopherSql)
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
         |ORDER BY stage_id""".stripMargin,
    // dense_rank over counts is a pure integer ordering (ties share a
    // rank), the per-doc sum is an exact BIGINT, and both engines
    // divide the same exact integers — fully hash-comparable.
    "q_quality_freqrank" -> FreqRankSql,
    // calibration: per-source keep of the best 60.0% by freq-rank
    // score, tie groups in-or-out together — pure integer band logic
    // over the exact ×10000 score (floor(x*10000+0.5) is exact where a
    // bare double→int cast rounds DIFFERENTLY across engines)
    "q_quality_calibrate" ->
      s"""WITH $CalibrateCtes
         |SELECT s.doc_id, s.source, s.mean_rank,
         |  (cc.cum * 1000 <= t.n_source * ${graft.functions.QualityFilters.CalibrateKeepPermille}) AS keep
         |FROM s JOIN cc USING (source, score4) JOIN t USING (source)
         |ORDER BY s.doc_id""".stripMargin,
    // same per-source empirical CDF, banded into thirds instead of gated
    "q_quality_tiers" ->
      s"""WITH $CalibrateCtes
         |SELECT s.doc_id, s.source, s.mean_rank,
         |  CASE WHEN cc.cum * 3 <= t.n_source THEN 'head'
         |       WHEN cc.cum * 3 <= t.n_source * 2 THEN 'middle'
         |       ELSE 'tail' END AS tier
         |FROM s JOIN cc USING (source, score4) JOIN t USING (source)
         |ORDER BY s.doc_id""".stripMargin,
    // curriculum: global rank in (tier, salted shuffle key, doc_id)
    // order — head first, tail last, tiers internally shuffled; the
    // shuffle key is the same squared-multiplier construction as
    // q_doc_shuffle with its own salt
    "q_curriculum_order" ->
      s"""WITH $CalibrateCtes, ti AS (
         |  SELECT s.doc_id,
         |    CASE WHEN cc.cum * 3 <= t.n_source THEN 0
         |         WHEN cc.cum * 3 <= t.n_source * 2 THEN 1
         |         ELSE 2 END AS tier_rank
         |  FROM s JOIN cc USING (source, score4) JOIN t USING (source)
         |), kk AS (
         |  SELECT doc_id, tier_rank,
         |    ((doc_id % 1000003) * ${(1315423911L + 2 * graft.functions.QualityFilters.CurriculumSalt) % 1000000007L}) % 1000000007 AS k1
         |  FROM ti
         |)
         |SELECT doc_id,
         |  CASE tier_rank WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS tier,
         |  CAST(row_number() OVER (ORDER BY tier_rank, (k1 * k1) % 1000000007, doc_id) - 1 AS BIGINT) AS pos
         |FROM kk ORDER BY doc_id""".stripMargin,
    // snapshot diff over planted v1/v2 slices; status decode is pure
    // CASE logic over a keyed full-outer join, text equality stands in
    // for the sha2 compare (identical verdicts — the hash is a Spark
    // shuffle-width optimization, not a semantic)
    "q_corpus_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, text AS t1, source AS src1 FROM documents WHERE doc_id % 23 != 3
        |), v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 2 THEN text || ' rev2' ELSE text END AS t2,
        |    source AS src2
        |  FROM documents WHERE doc_id % 29 != 5
        |), j AS (
        |  SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |    CASE WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN t1 != t2 THEN 'changed' END AS status,
        |    coalesce(src2, src1) AS source
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |)
        |SELECT doc_id, status, source FROM j
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,
    // MERGE-apply correctness: the Spark side reconstructs v2 as
    // v1 anti-join delta-keys ∪ upsert payloads; the oracle derives v2
    // DIRECTLY from the base table — hash equality proves the merge
    // mechanics reproduce the target snapshot byte-for-byte
    "q_snapshot_merge" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 2 THEN text || ' rev2' ELSE text END AS text,
        |  source
        |FROM documents WHERE doc_id % 29 != 5 ORDER BY doc_id""".stripMargin,
    // exact per-billion integer rates per snapshot (the Dsir scheme),
    // signed drift, top-20 absolute movers with token-text tie-break —
    // every step integer-exact in both engines
    "q_corpus_drift" ->
      s"""WITH v1 AS (
         |  SELECT text FROM documents WHERE doc_id % 23 != 3
         |), v2 AS (
         |  SELECT CASE WHEN doc_id % 17 = 2 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 29 != 5
         |), tk1 AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok FROM v1
         |), tk2 AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok FROM v2
         |), c1 AS (
         |  SELECT tok, count(*) AS cnt1 FROM tk1 GROUP BY tok
         |  HAVING count(*) >= ${graft.sources.SnapshotDiff.DriftMinCount}
         |), c2 AS (
         |  SELECT tok, count(*) AS cnt2 FROM tk2 GROUP BY tok
         |  HAVING count(*) >= ${graft.sources.SnapshotDiff.DriftMinCount}
         |), t1 AS (SELECT count(*) AS total1 FROM tk1
         |), t2 AS (SELECT count(*) AS total2 FROM tk2
         |), j AS (
         |  SELECT coalesce(c1.tok, c2.tok) AS tok,
         |    (1000000000 * coalesce(cnt1, 0)) // total1 AS rate1_pb,
         |    (1000000000 * coalesce(cnt2, 0)) // total2 AS rate2_pb
         |  FROM c1 FULL OUTER JOIN c2 ON c1.tok = c2.tok
         |    CROSS JOIN t1 CROSS JOIN t2
         |), top AS (
         |  SELECT tok, rate1_pb, rate2_pb, rate2_pb - rate1_pb AS drift_pb
         |  FROM j ORDER BY abs(rate2_pb - rate1_pb) DESC, tok
         |  LIMIT ${graft.sources.SnapshotDiff.DriftTopK}
         |)
         |SELECT tok, rate1_pb, rate2_pb, drift_pb FROM top ORDER BY tok""".stripMargin,
    // DSIR as an exact-integer probability-ratio sigmoid: per-billion
    // smoothed token rates p = (1e9*(cnt+1)) // total on each side,
    // importance points = (1000*p_tgt) // (p_tgt + p_raw) - 500, tokens
    // absent from BOTH floor-bounded tables carry no evidence (0). All
    // int64 floor-divisions on positive operands — identical in both
    // engines; per-doc exact BIGINT sum, one round4 division at the end
    // (see Dsir.scala for why rank positions canNOT stand in here).
    "q_dsir_select" ->
      s"""WITH tk AS (
         |  SELECT doc_id, (lang = 'en' AND doc_id % 4 = 1) AS is_tgt,
         |    unnest(string_split(text, ' ')) AS tok
         |  FROM documents
         |), ft AS (
         |  SELECT tok, count(*) AS cnt_tgt FROM tk WHERE is_tgt GROUP BY tok
         |  HAVING count(*) >= ${graft.functions.Dsir.FeatureMinCount}
         |), fr AS (
         |  SELECT tok, count(*) AS cnt_raw FROM tk WHERE NOT is_tgt GROUP BY tok
         |  HAVING count(*) >= ${graft.functions.Dsir.FeatureMinCount}
         |), tot AS (
         |  SELECT sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS total_tgt,
         |    sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS total_raw
         |  FROM tk
         |), s AS (
         |  SELECT doc_id, count(*) AS n_toks,
         |    sum(CASE WHEN cnt_tgt IS NULL AND cnt_raw IS NULL THEN 0
         |      ELSE (1000 * ((1000000000 * (coalesce(cnt_tgt, 0) + 1)) // total_tgt))
         |        // (((1000000000 * (coalesce(cnt_tgt, 0) + 1)) // total_tgt)
         |           + ((1000000000 * (coalesce(cnt_raw, 0) + 1)) // total_raw)) - 500
         |      END) AS pts_sum
         |  FROM tk LEFT JOIN ft USING (tok) LEFT JOIN fr USING (tok) CROSS JOIN tot
         |  WHERE NOT is_tgt GROUP BY doc_id
         |)
         |SELECT doc_id, n_toks,
         |  floor(pts_sum * 1.0 / n_toks * 10000 + 0.5) / 10000 AS dsir_score,
         |  (floor(pts_sum * 1.0 / n_toks * 10000 + 0.5) / 10000
         |    >= ${graft.functions.Dsir.KeepMin}) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    // same exactness scheme as q_quality_freqrank: integer dense-ranks,
    // exact BIGINT sums, one final round4 division; the bounded table is
    // a count-threshold (no top-K tie-break needed), OOV rank is
    // (#distinct kept counts)+1 in both engines
    "q_quality_bigramlm" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |), bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
         |  FROM tk
         |), f AS (
         |  SELECT bg, count(*) AS cnt FROM bg GROUP BY bg
         |  HAVING count(*) >= ${graft.functions.QualityFilters.BigramMinCount}
         |), r AS (
         |  SELECT bg, dense_rank() OVER (ORDER BY cnt DESC) AS rnk FROM f
         |), m AS (
         |  SELECT count(DISTINCT cnt) + 1 AS oov_rnk FROM f
         |), s AS (
         |  SELECT doc_id, count(*) AS n_bigrams, sum(coalesce(r.rnk, m.oov_rnk)) AS rank_sum
         |  FROM bg LEFT JOIN r USING (bg) CROSS JOIN m GROUP BY doc_id
         |)
         |SELECT doc_id, n_bigrams,
         |  floor(rank_sum * 1.0 / n_bigrams * 10000 + 0.5) / 10000 AS mean_rank,
         |  (floor(rank_sum * 1.0 / n_bigrams * 10000 + 0.5) / 10000
         |    <= ${graft.functions.QualityFilters.BigramKeepMax}) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    "q_corpus_report" ->
      s"""WITH g AS (
         |$QualityGopherSql
         |)
         |SELECT coalesce(d.lang, 'ALL') AS lang, coalesce(d.source, 'ALL') AS source,
         |  count(*) AS n_docs,
         |  CAST(sum(g.n_words) AS BIGINT) AS total_words,
         |  floor(avg(CAST(g.keep AS INT)) * 10000 + 0.5) / 10000 AS keep_rate
         |FROM g JOIN documents d ON g.doc_id = d.doc_id
         |GROUP BY ROLLUP(d.lang, d.source)
         |ORDER BY lang, source""".stripMargin,
    "q_html_extract" ->
      s"""WITH h AS (
         |  SELECT doc_id, $HtmlPlantSql AS html FROM documents
         |)
         |SELECT doc_id,
         |  regexp_extract(html, '<title>(.*?)</title>', 1) AS title,
         |  CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags,
         |  ${htmlStripSql("html")} AS clean_text
         |FROM h ORDER BY doc_id""".stripMargin,
    // the composed pipeline front: plant -> extract -> Gopher gate ->
    // rollup report, the same report query over extracted text
    "q_html_corpus_report" ->
      s"""WITH hdocs AS (
         |  SELECT doc_id, lang, source,
         |    ${htmlStripSql(HtmlPlantSql)} AS text
         |  FROM documents
         |), g AS (
         |${qualityGopherSqlOver("hdocs")}
         |)
         |SELECT coalesce(d.lang, 'ALL') AS lang, coalesce(d.source, 'ALL') AS source,
         |  count(*) AS n_docs,
         |  CAST(sum(g.n_words) AS BIGINT) AS total_words,
         |  floor(avg(CAST(g.keep AS INT)) * 10000 + 0.5) / 10000 AS keep_rate
         |FROM g JOIN hdocs d ON g.doc_id = d.doc_id
         |GROUP BY ROLLUP(d.lang, d.source)
         |ORDER BY lang, source""".stripMargin
  )

  private lazy val QualitySampleSql =
    s"""WITH g AS (
       |$QualityGopherSql
       |), p AS (
       |  SELECT doc_id,
       |    CAST(pass_wc AS INT) + CAST(pass_mwl AS INT) + CAST(pass_stop AS INT) + CAST(pass_rep AS INT) AS n_pass
       |  FROM g
       |), r AS (
       |  SELECT doc_id, CAST(n_pass AS BIGINT) AS n_pass,
       |    CAST(CASE n_pass WHEN 4 THEN 1000 WHEN 3 THEN 500 WHEN 2 THEN 200 ELSE 50 END AS BIGINT) AS rate_pm,
       |    CAST(((doc_id % 1000003) * 1315423911 + 32452843) % 1000000007 % 1000 AS BIGINT) AS bucket
       |  FROM p
       |)
       |SELECT doc_id, n_pass, rate_pm, bucket FROM r
       |WHERE bucket < rate_pm
       |ORDER BY doc_id""".stripMargin

  /** The Gopher-gate oracle over any (doc_id, text) relation `src` —
    * "documents" for the declared query, the html-extraction CTE for
    * the composed report variant.
    */
  private def qualityGopherSqlOver(src: String) =
      raw"""WITH t AS (
           |  SELECT doc_id, text, string_split_regex(text, '\s+') AS tk FROM $src
           |), b AS (
           |  SELECT doc_id,
           |    len(tk) AS n_words,
           |    len(list_filter(tk, x -> x IN (${TextFunctions.stopListSql}))) AS stop_hits,
           |    floor(length(regexp_replace(text, '\s', '', 'g')) / len(tk) * 10000 + 0.5) / 10000 AS mean_word_len
           |  FROM t
           |), w AS (
           |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM $src
           |), tw AS (
           |  SELECT doc_id, max(c) AS top_word_n FROM (
           |    SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w
           |  ) GROUP BY doc_id
           |)
           |SELECT b.doc_id, b.n_words, b.mean_word_len, b.stop_hits, tw.top_word_n,
           |  floor(tw.top_word_n / b.n_words * 10000 + 0.5) / 10000 AS top_word_ratio,
           |  b.n_words >= 50 AND b.n_words <= 100000 AS pass_wc,
           |  b.mean_word_len >= 3.0 AND b.mean_word_len <= 10.0 AS pass_mwl,
           |  b.stop_hits >= 2 AS pass_stop,
           |  floor(tw.top_word_n / b.n_words * 10000 + 0.5) / 10000 <= 0.2 AS pass_rep,
           |  (b.n_words >= 50 AND b.n_words <= 100000)
           |    AND (b.mean_word_len >= 3.0 AND b.mean_word_len <= 10.0)
           |    AND b.stop_hits >= 2
           |    AND floor(tw.top_word_n / b.n_words * 10000 + 0.5) / 10000 <= 0.2 AS keep
           |FROM b JOIN tw USING (doc_id)
           |ORDER BY b.doc_id""".stripMargin

  private lazy val QualityGopherSql = qualityGopherSqlOver("documents")

  private lazy val QualityC4Sql =
    raw"""WITH p AS (
         |  SELECT doc_id,
         |    'http://' ||
         |      CASE WHEN doc_id % 13 = 0 THEN '${graft.functions.QualityFilters.BadDomains.head}'
         |           ELSE 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example.com' END ||
         |      '/page/' || CAST(doc_id AS VARCHAR) AS url,
         |    text ||
         |      CASE WHEN doc_id % 11 = 0 THEN ' function() { return 0 }' ELSE '' END ||
         |      CASE WHEN doc_id % 7 = 0 THEN ' lorem ipsum dolor sit' ELSE '' END ||
         |      CASE WHEN doc_id % 17 = 0 THEN ' ${graft.functions.QualityFilters.BadWords.head}' ELSE '' END AS ptext
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, url, ptext,
         |    regexp_extract(url, '^https?://([^/]+)', 1) AS domain
         |  FROM p
         |)
         |SELECT doc_id, url, domain,
         |  NOT (domain IN (${graft.functions.QualityFilters.BadDomains.map(d => s"'$d'").mkString(", ")})) AS pass_url,
         |  NOT contains(ptext, '{') AS pass_brace,
         |  NOT contains(ptext, 'lorem ipsum') AS pass_lorem,
         |  len(list_filter(string_split_regex(ptext, '\s+'),
         |      t -> t IN (${graft.functions.QualityFilters.BadWords.map(w => s"'$w'").mkString(", ")}))) = 0 AS pass_badword,
         |  NOT (domain IN (${graft.functions.QualityFilters.BadDomains.map(d => s"'$d'").mkString(", ")}))
         |    AND NOT contains(ptext, '{')
         |    AND NOT contains(ptext, 'lorem ipsum')
         |    AND len(list_filter(string_split_regex(ptext, '\s+'),
         |        t -> t IN (${graft.functions.QualityFilters.BadWords.map(w => s"'$w'").mkString(", ")}))) = 0 AS keep
         |FROM r ORDER BY doc_id""".stripMargin

  /** Shared calibration CTEs: freq-rank scores joined to source, the
    * exact ×10000 integer score, per-(source, score4) cumulative counts
    * (the empirical CDF), and source totals.
    */
  private lazy val CalibrateCtes =
    s"""fr AS (
       |$FreqRankSql
       |), s AS (
       |  SELECT f.doc_id, d.source, f.mean_rank,
       |    CAST(floor(f.mean_rank * 10000 + 0.5) AS BIGINT) AS score4
       |  FROM fr f JOIN documents d USING (doc_id)
       |), c AS (
       |  SELECT source, score4, count(*) AS cnt FROM s GROUP BY source, score4
       |), cc AS (
       |  SELECT source, score4, sum(cnt) OVER (PARTITION BY source ORDER BY score4
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c
       |), t AS (
       |  SELECT source, count(*) AS n_source FROM s GROUP BY source
       |)""".stripMargin

  private lazy val FreqRankSql =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), f AS (
       |  SELECT tok, count(*) AS cnt FROM tk GROUP BY tok
       |), r AS (
       |  SELECT tok, dense_rank() OVER (ORDER BY cnt DESC) AS rnk FROM f
       |), s AS (
       |  SELECT doc_id, count(*) AS n_toks, sum(rnk) AS rank_sum
       |  FROM tk JOIN r USING (tok) GROUP BY doc_id
       |)
       |SELECT doc_id, n_toks,
       |  floor(rank_sum * 1.0 / n_toks * 10000 + 0.5) / 10000 AS mean_rank,
       |  (floor(rank_sum * 1.0 / n_toks * 10000 + 0.5) / 10000
       |    <= ${graft.functions.QualityFilters.FreqRankKeepMax}) AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  /** The planted page + extraction pipeline, DuckDB side — the same
    * doc_id arithmetic as HtmlExtract.plantHtml / extractText, in the
    * shared Java∩RE2 regex subset (no backrefs: one replace per block
    * tag).
    */
  private lazy val HtmlPlantSql =
    """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |'</title><style>body{font-size:12px;}</style></head><body>' ||
      |'<nav>home | about | section' || CAST(doc_id % 7 AS VARCHAR) || '</nav>' ||
      |'<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
      |'<p>' || text || '</p>' ||
      |'<p>More about item ' || CAST(doc_id % 13 AS VARCHAR) || '.</p>' ||
      |'<script>var x=' || CAST(doc_id % 97 AS VARCHAR) || ';</script>' ||
      |'<footer>(c) 2026 example.com</footer></body></html>'""".stripMargin

  private def htmlStripSql(c: String) =
    raw"""trim(regexp_replace(regexp_replace(
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace($c,
         |    '<head[^>]*>.*?</head>', ' ', 'gs'),
         |    '<script[^>]*>.*?</script>', ' ', 'gs'),
         |    '<nav[^>]*>.*?</nav>', ' ', 'gs'),
         |    '<footer[^>]*>.*?</footer>', ' ', 'gs'),
         |  '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g'))""".stripMargin
}
