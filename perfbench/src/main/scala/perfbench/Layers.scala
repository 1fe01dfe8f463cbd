package perfbench

/** The layer every registered query belongs to: the library module whose
  * code does the query's work. Per-layer metrics are summed over this
  * table, so it must name every QDef `SparkEntry` registers and nothing
  * else — [[check]] fails the run otherwise, which keeps a new query from
  * going unmeasured. Session cells carry their own layer (`core` for
  * ExplainFrame operations, `explain` for explain cells). */
object Layers {

  val all: Seq[String] =
    Seq("core", "explain", "operators", "streaming", "dedup", "sim", "text", "graph", "multimodal")

  private def names(layer: String, qs: String): Seq[(String, String)] =
    qs.trim.split("\\s+").toSeq.map(_ -> layer)

  val table: Map[String, String] = (
    names("operators", """
      q_filter q_project q_groupby_agg q_groupby_nunique q_agg_stats q_join
      q_join_multi q_left_join q_right_join q_outer_join q_semi_anti q_union
      q_intersect q_except q_distinct q_topk q_value_counts q_describe q_window
      q_pivot q_rollup q_cube q_string_ops q_date_ops q_approx_stats
      q_approx_kmv q_join_size_est q_null_profile q_bloom_join q_basket_pairs
      q_dq_suite q_sample_det q_sample_stratified q_group_topk q_winsorize
      q_anomaly_mad q_group_zscore q_qcut q_qcut_approx q_cut q_grouping_sets
      q_group_mode q_string_agg q_robust_scale q_zorder_layout q_skew_join
      q_upsert_merge q_scd2_history""") ++
    names("streaming", """
      q_events_window q_events_sessionize q_events_json q_asof_join
      q_asof_forward q_asof_nearest q_asof_tolerance q_events_funnel
      q_rolling_time q_range_join q_events_retention q_events_anomaly
      q_key_skew q_session_gap_stats q_user_burstiness q_psi_drift
      q_orders_rfm q_events_markov q_funnel_steps q_events_attribution
      q_salted_nunique q_events_ewma""") ++
    names("explain", """
      q_fedex_filter q_fedex_filter_influence q_fedex_shapley q_fedex_groupby
      q_fedex_groupby_influence q_fedex_datetime q_outlier_explain
      q_many_to_one q_many_to_one_conj q_many_to_one_conj3
      q_many_to_one_quantile q_many_to_one_disj q_many_to_one_label_bin
      q_many_to_one_pruned q_many_to_one_errors q_many_to_one_label_bin_errors
      q_many_to_one_pruned_smallest q_many_to_one_pruned_maxdist
      q_many_to_one_pruned_mindist q_many_to_one_pruned_silhouette
      q_many_to_one_pruned_min_silhouette q_many_to_one_pruned_random
      q_metainsight q_metainsight_auto q_metainsight_multi q_fedex_join
      q_groupby_corr q_groupby_corr_matrix q_correlation""") ++
    names("dedup", """
      q_dedup_exact q_dedup_norm q_minhash_sig q_dedup_minhash
      q_minhash_accuracy q_minhash_curve q_dedup_incremental q_dedup_simhash
      q_dedup_ngram q_dedup_lines q_dup_shingle_frac q_dedup_substr
      q_dedup_substr50 q_dedup_substr_cut q_dup_clusters q_dup_cluster_stats
      q_dedup_cluster_keep q_split_leakage""") ++
    names("sim", """
      q_dedup_embedding q_dedup_embedding_ivf q_dedup_embedding_lsh q_semdedup
      q_ann_topk q_ann_ivf q_ann_fast q_hard_negatives q_hard_negatives_ivf
      q_embed_drift q_embed_norm_qa q_embed_dims q_ann_recall
      q_ann_nprobe_curve q_ann_refine q_kmeans_step q_kmeans_2iter
      q_embed_gram q_pq_codes q_ann_pq q_triplets q_triplets_ivf q_ann_ivfpq
      q_embed_quantize""") ++
    names("graph", "q_pagerank_step q_pagerank_2iter") ++
    names("multimodal", """
      q_multimodal_meta q_multimodal_frames q_multimodal_dedup
      q_multimodal_phash q_multimodal_phash_pairs q_multimodal_keep""") ++
    names("text", """
      q_repetition_ngram q_corpus_diff q_text_langid q_tok_fertility
      q_langid_confusion q_text_quality q_text_tokens q_text_fingerprint
      q_kmv_merge q_corpus_jaccard q_text_cdc q_pipeline_e2e q_decontaminate
      q_contaminated q_bloom_decon q_text_repetition q_domain_mix
      q_quality_gopher q_quality_linear q_quality_funnel q_pii_scrub
      q_seq_pack q_shard_balance q_domain_resample q_lang_mix_drift
      q_tfidf_bigrams q_pmi_pairs q_bm25 q_unigram_lm q_unigram_lm_bylang
      q_bigram_lm q_dsir q_vocab_coverage q_top_domains q_vocab_build
      q_heavy_hitters q_bpe_pairs q_bpe_fit q_tfidf_terms q_sample_weighted
      q_split_hash q_split_stratified q_token_hist q_tok_truncation
      q_text_entropy q_rag_chunks q_temp_mix q_html_strip q_url_filter
      q_fuzzy_match q_dedup_url""")
  ).toMap

  /** Fails loudly unless the table and the registry name the same
    * queries. */
  def check(registered: Set[String]): Unit = {
    val unlayered = registered -- table.keySet
    val unknown = table.keySet -- registered
    require(unlayered.isEmpty && unknown.isEmpty,
      s"layer table out of date: registered without a layer ${unlayered.toSeq.sorted}, " +
        s"layered but not registered ${unknown.toSeq.sorted}")
  }
}
