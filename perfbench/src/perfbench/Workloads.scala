package perfbench

import graft.{Bench, SparkEntry}

/** The benchmark's query inventory: which module each benched query's
  * entry function lives in, how the inventory splits into workloads,
  * and which queries a run of each workload times.
  */
object Workloads {

  /** Module of each query's public entry function (the package the
    * `SparkEntry.queries` lambda calls into). The coverage guard fails
    * the run when this table and the engine's inventory disagree, so a
    * query added or renamed later cannot fall out of the benchmark.
    */
  val Modules: Map[String, Seq[String]] = Map(
    "operators" -> Seq(
      "q_filter_project", "q_agg_group", "q_join_broadcast", "q_multi_join_agg",
      "q_topk_global", "q_topk_per_group", "q_distinct_agg", "q_anti_join",
      "q_semi_join", "q_conditional_agg", "q_pivot_onehot", "q_window_running",
      "q_window_moving", "q_streaks", "q_sessionize", "q_range_join",
      "q_asof_lookback", "q_percentiles", "q_zscore_normalize", "q_histogram",
      "q_rollup", "q_role_assign", "q_range_attr_merge", "q_fight_outcomes",
      "q_lookback_multiwindow", "q_stats_availability", "q_recurrent_delta",
      "q_split_assign", "q_split_leakage_safe", "q_seq_pack", "q_doc_shuffle",
      "q_pack_boundaries", "q_pack_efficiency", "q_source_mix",
      "q_source_temperature", "q_source_upsample", "q_token_budget_mix",
      "q_stratified_sample", "q_distinct_agg_approx", "q_json_props",
      "q_event_transitions", "q_latest_snapshot", "q_percentiles_approx",
      "q_curation_run", "q_session_stats", "q_stats_history_composite",
      "q_feature_bins", "q_corr_matrix", "q_stats_merge", "q_model_lr",
      "q_model_eval"),
    "functions" -> Seq(
      "q_doc_repetition", "q_token_count", "q_token_count_bpe", "q_text_quality",
      "q_lang_id", "q_doc_fingerprint", "q_doc_chunk", "q_vocab_topk",
      "q_vocab_topk_cms", "q_substr_search", "q_phrase_mine", "q_tfidf_search",
      "q_bm25_search", "q_pii_redact", "q_quality_gopher", "q_corpus_report",
      "q_quality_sample", "q_quality_c4", "q_quality_freqrank", "q_dsir_select",
      "q_quality_bigramlm", "q_quality_calibrate", "q_quality_tiers",
      "q_curriculum_order", "q_bpe_train", "q_tokenize_bpe", "q_html_extract",
      "q_html_corpus_report"),
    "multimodal" -> Seq(
      "q_multimodal_pipeline", "q_media_prep", "q_media_pixels", "q_media_pixels_jpeg"),
    "sources" -> Seq(
      "q_pull_schedule", "q_scd_history", "q_corpus_diff", "q_snapshot_merge",
      "q_corpus_drift"),
    "dedup" -> Seq(
      "q_dedup_exact", "q_dedup_jaccard_prefix", "q_dedup_containment",
      "q_source_overlap", "q_dedup_minhash_lsh", "q_dedup_recall", "q_index_stats",
      "q_dedup_simhash", "q_dedup_clusters", "q_cluster_delta", "q_dedup_keep_best",
      "q_substr_dedup", "q_decontaminate", "q_contamination_report",
      "q_decontaminate_bloom", "q_embed_neardup", "q_line_dedup", "q_dedup_delta"),
    "similarity" -> Seq(
      "q_embed_neardup_lsh", "q_knn_cosine", "q_embed_quantize", "q_ann_lsh",
      "q_ann_recall", "q_ann_recall_ivf", "q_hybrid_search", "q_lex_delta",
      "q_lex_stats", "q_lex_rerank", "q_ann_ivf", "q_ivf_delta", "q_ivf_refit",
      "q_ann_ivfpq", "q_knn_graph", "q_semdedup", "q_diversity_sample"))

  val ModuleNames: Seq[String] =
    Seq("operators", "functions", "multimodal", "sources", "dedup", "similarity")

  val moduleOf: Map[String, String] =
    for ((m, qs) <- Modules; q <- qs) yield q -> m

  val EtlModules: Set[String] = Set("operators", "functions", "multimodal", "sources")

  /** The queries a run of each workload times. A full pass over either
    * workload takes one to two minutes warm, far more than a run can
    * spend; a run that timed a different slice for each seed would
    * measure the slice. So each run times one fixed core, and the seed
    * only shuffles its order. `pin.py cores` chose each core from the
    * warm per-query costs in `pins/costs.json`: slots per module follow
    * the module's share of the workload's time, and within a module a
    * query's chance to be picked follows its share of the module's time.
    * `run.py --mode pin` still runs and digests every query.
    */
  val Cores: Map[String, Seq[String]] = Map(
    // 8 of 84 queries: 11 % of the workload's warm time, 12 % of its jobs.
    "etl-sf01" -> Seq(
      "q_corpus_drift", "q_doc_repetition", "q_filter_project", "q_join_broadcast", "q_media_prep",
      "q_multi_join_agg", "q_quality_bigramlm", "q_range_join"),
    // 4 of 39 queries: 15 % of the workload's warm time and of its jobs.
    "index-sf01" -> Seq("q_cluster_delta", "q_curation_run", "q_dedup_simhash", "q_embed_neardup_lsh"))

  /** Seconds of one timed pass over each core at 4 cores, after the
    * warmup pass.
    */
  val PassSeconds: Map[String, Double] = Map("etl-sf01" -> 7.0, "index-sf01" -> 9.0)

  /** Timed passes a run of `workload` makes for `seconds`: as many whole
    * passes as fit at the nominal pass time, and at least one. The count
    * does not depend on how fast the run goes, so a slow run is not also
    * measured over fewer passes. At 15 s that is two passes on etl-sf01
    * and one on index-sf01.
    */
  def passes(workload: String, seconds: Int): Int =
    math.max(1, (seconds / PassSeconds(workload)).toInt)

  type Query = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** Every query the engine benches: its inventory minus the aliases
    * that share another entry's plan.
    */
  def benched: Map[String, Query] = SparkEntry.queries -- Bench.Aliases.keys

  def etl: Set[String] = benched.keySet.filter(q =>
    EtlModules(moduleOf(q)) && !Bench.ArtifactConsumers(q))

  def index: Set[String] = benched.keySet.filter(q =>
    !EtlModules(moduleOf(q)) || Bench.ArtifactConsumers(q))

  /** Fails loudly unless the module table names every benched query once,
    * `etl-sf01` and `index-sf01` split the inventory with no overlap, and
    * each core lies inside its workload.
    */
  def coverageGuard(): Unit = {
    val names = benched.keySet
    val listed = Modules.values.flatten.toSeq
    val dup = listed.diff(listed.distinct)
    val unmapped = names -- listed
    val stale = listed.toSet -- names
    val overlap = etl intersect index
    val missing = names -- etl -- index
    val strayCore = (Cores("etl-sf01").toSet -- etl) ++ (Cores("index-sf01").toSet -- index)
    val problems = Seq(
      "listed twice" -> dup.toSet, "without a module" -> unmapped,
      "not in the engine's inventory" -> stale, "in both sf0.1 workloads" -> overlap,
      "in neither sf0.1 workload" -> missing, "in a core outside its workload" -> strayCore)
      .filter(_._2.nonEmpty)
    if (problems.nonEmpty)
      throw new IllegalStateException("coverage guard: " + problems.map { case (what, qs) =>
        s"${qs.toSeq.sorted.mkString(", ")} $what"
      }.mkString("; "))
  }
}
