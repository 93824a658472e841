package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the query catalog, so a move of entries between files or a
  * shared oracle fragment cannot drop an entry or change an oracle byte.
  * No SparkSession: building the registries only constructs the plan
  * closures and the oracle strings.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val expectedNames = Seq(
    "basket_rules", "corpus_diff", "corpus_overlap", "corpus_profile",
    "dedup_components", "dedup_components_incremental", "dedup_containment",
    "dedup_embedding", "dedup_exact", "dedup_exact_keep",
    "dedup_exact_stream", "dedup_exact_substr", "dedup_exact_substr_apply",
    "dedup_exact_substr_stream", "dedup_incremental",
    "dedup_incremental_stream", "dedup_keep_best", "dedup_lsh_eval",
    "dedup_minhash", "dedup_minhash_stream", "dedup_ngram_jaccard",
    "dedup_semantic", "dedup_semantic_incremental",
    "dedup_semantic_incremental_stream", "dedup_semantic_ingest",
    "dedup_semantic_multiprobe", "dedup_semantic_pq",
    "dedup_semantic_stream", "dedup_simhash", "dedup_spans",
    "dedup_spans_stream", "dedup_substr_incremental",
    "dedup_substr_incremental_stream", "dedup_substr_ingest",
    "dedup_tf_cosine", "dedup_winnow", "embed_covariance",
    "embed_normalize", "embed_pool", "embed_project", "embed_quantize",
    "embed_quantize_digest", "er_match", "er_resolve",
    "er_resolve_incremental", "events_abtest", "events_acf",
    "events_active_users", "events_anomaly", "events_attribution",
    "events_audience_overlap", "events_cohort_matrix", "events_concurrency",
    "events_concurrency_stream", "events_cusum", "events_ewma",
    "events_funnel", "events_funnel_fold", "events_funnel_stream",
    "events_hll_incremental", "events_hll_merge_stream",
    "events_hll_precise", "events_hll_stream", "events_hll_users",
    "events_holt", "events_hopping", "events_hopping_stream",
    "events_hourly", "events_hourly_incremental", "events_hourly_stream",
    "events_interval_union", "events_interval_union_stream",
    "events_mad_outliers", "events_paths", "events_pit_join",
    "events_retention", "events_retention_stream", "events_rfm",
    "events_scd2", "events_scd2_stream", "events_seasonal",
    "events_session_window", "events_sessionize", "events_sessions_stream",
    "events_survival", "events_transitions", "events_trend",
    "events_wau_stream", "graph_bfs", "graph_coreness", "graph_kcore",
    "graph_linkpred", "graph_pagerank", "graph_sssp", "graph_triangles",
    "layout_bloom_incremental", "layout_bloom_prune", "layout_bloom_stream",
    "layout_clustering", "layout_clustering_zorder", "layout_prune_eval",
    "layout_stats_incremental", "layout_stats_index", "layout_stats_stream",
    "layout_zorder", "mix_epochs", "mix_epochs_stream", "mix_interleave",
    "mix_schedule", "mix_temperature", "mix_to_target",
    "mix_to_target_stream", "multimodal_dedup", "multimodal_features",
    "multimodal_frame_neardup", "multimodal_framesample",
    "multimodal_ingest", "multimodal_pcm_energy", "multimodal_phash",
    "pipeline_audit", "pipeline_curate", "pipeline_forget",
    "pipeline_forget_neardup", "pipeline_full", "pipeline_ingest",
    "pipeline_ingest_stream", "pipeline_multilingual",
    "pipeline_multilingual_stream", "pipeline_pretrain", "pipeline_rag",
    "pipeline_rag_indexed", "pipeline_rag_stream", "profile_fd",
    "profile_fk", "profile_join_estimate", "profile_join_estimate_wide",
    "profile_skew", "q1_pricing_summary", "q3_top_orders",
    "q5_region_revenue", "q_agg_filter", "q_anti_join", "q_approx_distinct",
    "q_array_funcs", "q_asof_forward", "q_asof_join", "q_asof_join_native",
    "q_asof_join_stream", "q_asof_nearest", "q_asof_tolerance", "q_bigrams",
    "q_conditional", "q_corr_subquery", "q_cube", "q_date_dialect",
    "q_date_funcs", "q_date_series", "q_distinct_agg", "q_exists_sql",
    "q_first_last", "q_gap_fill", "q_grouping_sets", "q_json_props",
    "q_lateral", "q_like_filter", "q_map_funcs", "q_mode_exact",
    "q_null_handling", "q_nulls_order", "q_offset", "q_percentile",
    "q_pivot", "q_posexplode", "q_range_join", "q_range_overlap",
    "q_recursive_cte", "q_regexp", "q_rollup", "q_salted_agg",
    "q_salted_join", "q_scalar_funcs", "q_semi_join", "q_setops",
    "q_setops_all", "q_skyline", "q_stats_agg", "q_stream_stream_join",
    "q_stream_stream_left", "q_string_agg", "q_string_funcs",
    "q_struct_funcs", "q_tdigest", "q_theta_join", "q_topk",
    "q_union_by_name", "q_unpivot", "q_weighted_median", "q_window_dist",
    "q_window_nav", "q_window_range", "q_window_running", "q_window_topn",
    "q_wordcount", "sample_budget_stream", "sample_hash",
    "sample_importance", "sample_kcenter", "sample_kcenter_scalable",
    "sample_quota_stream", "sample_rebalance", "sample_reservoir",
    "sample_source_cap", "sample_split", "sample_split_component",
    "sample_split_leakproof", "sample_stratified", "sample_token_budget",
    "sample_weighted", "sample_weighted_strat", "search_bm25",
    "search_bm25_stream", "search_bm25f", "search_hybrid_rrf",
    "search_index", "search_ingest", "search_passages", "search_phrase",
    "search_proximity", "search_ranker_eval", "sim_ann_lsh",
    "sim_centroid_classify", "sim_eval", "sim_filtered", "sim_hamming",
    "sim_ivf", "sim_ivf_refined", "sim_ivfpq", "sim_ivfpq_ingest",
    "sim_ivfpq_stream", "sim_knn_graph", "sim_knn_sweep", "sim_label_vote",
    "sim_label_vote_ann", "sim_mmr", "sim_pq", "sim_topk_brute",
    "table_checks", "table_corr_stats", "table_dp_bounded", "table_drift",
    "table_histogram", "table_kanon", "table_ldiversity", "table_masking",
    "table_merge_cdc", "table_merge_cdc_stream", "table_profile",
    "table_profile_fast", "table_quantile_transform", "table_winsorize",
    "tap_any_array", "tap_array_agg", "tap_conform_cast",
    "tap_dialect_rewrite", "tap_distinct_on", "tap_flatten",
    "tap_flatten_json", "tap_flatten_json_mixed", "tap_incremental",
    "tap_interval", "tap_jdbc_partitioned", "tap_json_ops",
    "tap_operator_collate", "tap_projection", "tap_pushdown_fallback",
    "tap_raw_sql_scan", "tap_similar_to", "tap_stream_map",
    "tap_to_char_numeric", "text_bigram_novelty", "text_bpe_apply",
    "text_bpe_char_apply", "text_bpe_char_apply_vocab",
    "text_bpe_char_vocab", "text_bpe_pretrained", "text_bpe_step",
    "text_bpe_vocab", "text_chunk", "text_classifier_agreement",
    "text_collocations", "text_compression", "text_countmin",
    "text_decontaminate", "text_decontaminate_bloom",
    "text_decontaminate_spans", "text_dedup_lines", "text_dup_fraction",
    "text_fingerprint", "text_gopher_rules", "text_hashed_features",
    "text_hashed_stream", "text_keywords", "text_langid", "text_lm_score",
    "text_lm_score_stream", "text_normalize", "text_pack", "text_pack_bins",
    "text_quality_pct", "text_readability", "text_redact",
    "text_repetition", "text_score_calibration", "text_score_lexicon",
    "text_score_lexicon_stream", "text_score_linear", "text_sentences",
    "text_shard", "text_shard_manifest", "text_stats", "text_stats_native",
    "text_strip_markup", "text_topk_ngrams", "text_topk_sketch",
    "text_unigram_apply", "text_unigram_apply_big", "text_unigram_em",
    "text_unigram_stream", "text_unigram_vocab", "text_wordpiece_apply",
    "text_wordpiece_stream", "text_wordpiece_vocab", "web_domain_cap",
    "web_domain_stats", "web_url_canon", "web_url_canon_stream")

  /** SHA-256 over the oracles sorted by name, each hashed as its name, a
    * NUL byte, the oracle and a newline. It changes when a fragment
    * spliced into a `.stripMargin` string loses a leading `|`, a `\` is
    * escaped differently between `"""` and `s"""`, or a `val` is read
    * before its object initializes it.
    */
  private val expectedOracleDigest =
    "d0128d3f18fdf36d69005cb553201e2c0e7a8649a4aa0a6bb16240207f454b6d"

  test("entry names, oracle ownership and oracle bytes are pinned") {
    val names = SparkEntry.queries.keySet
    assert((names -- expectedNames).isEmpty, "unexpected entries")
    assert((expectedNames.toSet -- names).isEmpty, "missing entries")
    assert((SparkEntry.oracleSql.keySet -- names).isEmpty,
      "oracle without an entry")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      md.update(s"$name\u0000$sql\n".getBytes("UTF-8"))
    }
    val hex = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(hex === expectedOracleDigest)
  }
}
