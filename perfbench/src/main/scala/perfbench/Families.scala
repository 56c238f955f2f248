package perfbench

/** The one declaration of which family each `SparkEntry.queries` entry
  * belongs to. [[check]] fails when a query is in no family, in two, or
  * names no query, so a query added later cannot escape the family
  * metrics unnoticed. */
object Families {
  val names: Seq[String] = Seq("tpch", "sql", "vector", "dedup", "text", "media", "gates", "store")

  val members: Map[String, Seq[String]] = Map(
    "tpch" -> Seq(
      "q1_lineitem_agg", "q2_min_cost_supplier", "q3_top_orders", "q4_order_priority",
      "q5_region_revenue", "q6_forecast_revenue", "q7_nation_volume", "q8_market_share",
      "q9_profit", "q10_returned_customers", "q11_part_value", "q12_priority_class",
      "q13_custdist", "q14_promo_revenue", "q15_top_supplier", "q16_supplier_cnt",
      "q17_below_avg", "q18_large_orders", "q19_disjunctive_revenue", "q20_stock_surplus",
      "q21_waiting_suppliers", "q22_never_ordered"),
    "sql" -> Seq(
      "q_asof_forward", "q_asof_join", "q_data_checks", "q_domain_cap", "q_domain_mix",
      "q_drift_psi", "q_event_paths", "q_events_distinct_users", "q_events_hourly",
      "q_events_hourly_native", "q_events_sessionize", "q_ewma", "q_exists_semijoin",
      "q_funnel", "q_gapfill", "q_grouping_sets", "q_histogram", "q_hopping_window",
      "q_iqr_outliers", "q_json_extract", "q_latest_by_key", "q_moving_avg",
      "q_ntile_quartiles", "q_outliers", "q_percentiles", "q_pivot_events", "q_profile",
      "q_range_join", "q_retention", "q_rfm", "q_rollup", "q_running_total",
      "q_sample_stratified", "q_set_ops", "q_shuffle_shards", "q_skew_join",
      "q_split_groups", "q_sql_surface", "q_top_per_lang", "q_window_suite",
      "q_window_top3", "q_wma", "q_zorder"),
    "vector" -> Seq(
      "q_ann_recall", "q_binary_hamming", "q_hybrid_rrf", "q_ivf_flat", "q_ivf_search",
      "q_ivfpq", "q_knn_batch", "q_knn_classify", "q_knn_self_top1", "q_maxsim",
      "q_maxsim_build", "q_maxsim_search", "q_mean_pool", "q_mmr", "q_negative_pairs",
      "q_opq_adc", "q_pq_adc", "q_quantize_int8", "q_radius_search",
      "q_random_projection", "q_retrieval_metrics", "q_search_pipeline", "q_topk_cosine",
      "q_topk_ip", "q_topk_l2", "q_tuning_curve"),
    "dedup" -> Seq(
      "q_contamination", "q_dedup_best", "q_dedup_bloom", "q_dedup_boilerplate",
      "q_dedup_clusters", "q_dedup_containment", "q_dedup_cut", "q_dedup_exact",
      "q_dedup_fingerprint", "q_dedup_incremental", "q_dedup_jaccard",
      "q_dedup_minhash_lsh", "q_dedup_simhash", "q_dup_span_ranges", "q_dup_spans",
      "q_neardup_embedding", "q_semdedup", "q_semdedup2", "q_url_dedup"),
    "text" -> Seq(
      "q_bm25_index", "q_bm25_search", "q_chunk", "q_collocations", "q_dsir_weights",
      "q_edit_distance", "q_keywords", "q_lm_bigram", "q_lm_score", "q_ngram_repetition",
      "q_normalize_text", "q_pack_sequences", "q_pii_cc", "q_pii_redact",
      "q_quality_filter", "q_quality_model", "q_quality_topfrac", "q_repetition",
      "q_text_analysis", "q_token_budget", "q_vocab_coverage", "q_wordcount"),
    "media" -> Seq(
      "q_audio_features", "q_audio_neardup", "q_image_decode", "q_image_neardup",
      "q_image_rgb", "q_media_sql", "q_multimodal"),
    "gates" -> Seq(
      "q_audio_gate", "q_gate_compact", "q_image_gate", "q_sem_gate", "q_text_gate"),
    "store" -> Seq(
      "q_delete_antijoin", "q_enrichment_join", "q_essential_projection",
      "q_integrity_check", "q_point_lookup", "q_storage_stats", "q_upsert"))

  val familyOf: Map[String, String] =
    for ((f, qs) <- members; q <- qs) yield q -> f

  /** Problems with the map against the engine's query names; empty when
    * every query sits in exactly one family. */
  def check(queryNames: Set[String]): Seq[String] = {
    val all = members.values.flatten.toSeq
    val twice = all.groupBy(identity).collect { case (q, xs) if xs.size > 1 => s"$q is in ${xs.size} families" }
    val missing = (queryNames -- all).toSeq.sorted.map(q => s"$q is in no family")
    val unknown = (all.toSet -- queryNames).toSeq.sorted.map(q => s"$q is not a SparkEntry query")
    val badFamily = (members.keySet -- names).toSeq.map(f => s"undeclared family $f")
    twice.toSeq.sorted ++ missing ++ unknown ++ badFamily
  }
}
