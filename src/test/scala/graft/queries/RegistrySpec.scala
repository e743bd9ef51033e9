package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The registry's load-time checks, and the board it holds. */
class RegistrySpec extends AnyFunSuite {

  private def q(name: String, concept: String = "c",
                oracle: String = "SELECT 1"): Query =
    Query(name, concept, (s, dir) => s.emptyDataFrame, oracle)

  test("a blank oracle is rejected at construction, naming the query") {
    val e = intercept[IllegalArgumentException](q("x_no_oracle", oracle = " \n"))
    assert(e.getMessage.contains("x_no_oracle"), e.getMessage)
  }

  test("a blank concept is rejected at construction, naming the query") {
    val e = intercept[IllegalArgumentException](q("x_no_concept", concept = ""))
    assert(e.getMessage.contains("x_no_concept"), e.getMessage)
  }

  test("a duplicate name is rejected, naming the query") {
    val e = intercept[IllegalArgumentException](
      Registry.unique(Seq(q("x_one"), q("x_twice"), q("x_twice"))))
    assert(e.getMessage.contains("x_twice"), e.getMessage)
    assert(!e.getMessage.contains("x_one"), e.getMessage)
  }

  test("the registry holds exactly the board's 356 queries") {
    val expected =
      """|a10_boxstats a11_out_of_range a12_rollup a13_winsorize
      |a14_robust_outliers a15_cube a16_corr a17_regression
      |a18_expectations a19_topk_agg a1_group_count a20_ab_test
      |a21_benford a22_cms_topk a23_skew_report a24_hist_quantile a25_woe
      |a26_gap_days a27_seasonal a28_dau_wau a29_psi a2_distinct
      |a30_chisq a31_seq_gaps a32_k_anon a33_mutual_info a35_loo_encode
      |a37_hll_distinct a38_ks_drift a39_cramers_v a40_roc_auc
      |a41_calibration a42_ece a43_bh_fdr a44_pareto a45_kappa a46_gini
      |a47_spearman a48_avg_precision a49_conformal a4_dedup_keep_last
      |a50_fairness a51_kmv a52_randomization a53_isotonic a54_bootstrap
      |a55_decayed_topk a56_mann_kendall a57_cuped a58_temperature_mix
      |a59_sinkhorn a5_missingness a60_dataset_fp a61_quantile_norm
      |a62_uplift a63_msprt a64_did a65_brier a66_cliffs_delta
      |a67_pettitt a68_hellinger a69_anova a6_summary a70_theil
      |a71_mcnemar a72_trend a73_fleiss a74_capture a75_offpolicy
      |a76_power a77_krippendorff a78_bradley_terry a79_dawid_skene
      |a7_distinct_proj a80_annotator_quality a81_pass_at_k a8_percentile
      |a9_histogram clif_blocked_dataset clif_blocked_incremental
      |clif_model_calibration clif_mortality_model clif_sofa_hourly
      |e_ann_topk e_binary_recall e_binary_rerank e_binary_topk
      |e_centroid_drift e_cka e_cluster_purity e_embed_qc e_ivf_indexed
      |e_ivf_knn_indexed e_ivf_knn_join e_ivf_topk e_ivfpq_residual
      |e_ivfpq_topk e_kcenter e_kmeans e_label_centroid e_mmr_rerank
      |e_mutual_margin e_mutual_margin_ivf e_ndcg e_ndcg_ivf
      |e_pca_project e_pca_topk e_pq_encode e_pq_indexed e_pq_recall
      |e_pq_topk e_prefix_recall e_quantize_int8 e_rbo e_semantic_neardup
      |e_semdedup e_silhouette e_sim_pairs f_array_ops f_conditional
      |f_datetime f_hash_id f_jaro_winkler f_json_extract f_json_multi
      |f_parse_number f_string g_kcore g_labelprop g_pagerank g_ppr
      |g_triangles j10_asof_tolerance j11_edit_join j12_interval_overlap
      |j13_eps_join j14_fuzzy_match j15_scd2_asof j16_linkage
      |j17_entity_clusters j18_asof_nearest j19_edit_join j1_join_dims
      |j20_multipass j2_join_composite j4_full_outer j5_semi
      |j6_regex_vocab j8_asof j9_range j_anti j_bucketed_3way
      |m_frame_sample m_gif_frames m_image_decode m_media_ingest
      |m_media_meta m_phash_neardup m_wav_decode o1_sort_limit p1_project
      |p2_drop p3_rename p4_filter_null p5_filter_in p6_filter_cmp
      |p7_filter_pattern p8_filter_ts_range p9_cast_filter q1_agg
      |r1_unpivot r2_pivot r3_separate r4_explode s10_zorder_key
      |s11_incremental_agg s12_xml_roundtrip s13_snapshot_diff s14_scd2
      |s15_fixed_width s16_warc_scan s17_wet_roundtrip s18_cdx_scan
      |s1_csv_roundtrip s2_jsonl_roundtrip s3_orc_roundtrip
      |s4_schema_evolution s5_jsonl_corrupt s6_merge_upsert
      |s7_stream_upsert s8_xlsx_scan s9_http_scan s_stream_brier
      |s_stream_calibration s_stream_cusum s_stream_dedup
      |s_stream_distinct s_stream_enrich s_stream_ewma
      |s_stream_fingerprint s_stream_funnel s_stream_hellinger
      |s_stream_hll s_stream_holt s_stream_join s_stream_join_full
      |s_stream_join_outer s_stream_kmv s_stream_mad s_stream_neardup
      |s_stream_psi s_stream_rate s_stream_sessionize
      |s_stream_sessionize_ooo s_stream_sliding s_stream_topk
      |s_stream_warc s_stream_warc_curate s_stream_windowed
      |s_stream_zscore s_two_tier_dedup t_augment t_bigram_surprise
      |t_bleu t_block_dedup t_bm25 t_bpe_encode t_bpe_merges t_canonical
      |t_cap_per_domain t_cdx_fetch t_charset_decode t_chrf
      |t_chunk_overlap t_code_detect t_contained_ngrams
      |t_containment_join t_contrastive_triplets t_corpus_report
      |t_cross_surprise t_curate t_decontaminate t_decontaminate_bloom
      |t_dedup_clusters t_dedup_exact t_dedup_keep_best t_dedup_norm
      |t_distinct_terms t_doc_entropy t_domain_mix t_dsir_weights
      |t_dup_span_removal t_dup_spans t_epoch_shuffle t_feature_hash
      |t_fingerprint t_frontier t_glove_cooccur t_gopher_rules
      |t_hash_split t_heaps t_html_extract t_jaccard_join t_jsd t_kwic
      |t_langid t_leakage_split t_length_filter t_length_filter_approx
      |t_link_graph t_link_graph_rel t_lm_interpolated t_lsh_index_probe
      |t_minhash_lsh t_mix_domains t_nb_classify t_neg_sampling
      |t_next_event t_nfc_normalize t_novelty t_overlap_matrix
      |t_pack_chunks t_phrase_search t_pmi_colloc t_proximity_search
      |t_quality t_rake t_readability t_redirects t_registrable_domain
      |t_repetition t_resolve_url t_revisit_resolve t_robots_filter
      |t_rouge t_rrf_fusion t_sample_stratified t_scrub t_simhash
      |t_sitemap t_source_js t_surt t_textrank t_tfidf t_token_bpe
      |t_token_stats t_top_terms t_unigram_logprob t_url_dedup
      |t_vocab_coverage t_warc_curate t_warc_http t_weighted_sample
      |t_zipf u1_union u2_union_by_name u3_intersect u4_except
      |w10_session_window w11_funnel w12_retention w13_funnel_windowed
      |w14_funnel_latency w15_transitions w16_ewma w17_attribution
      |w18_assoc_rules w19_debounce w1_fill_downup w20_cusum w21_survival
      |w22_rfm w23_interp w24_acf w25_markov w26_rate_limit w27_holt
      |w28_roll_zscore w29_top_paths w2_lead_episodes w30_holt_seasonal
      |w31_rolling_mad w32_changepoint w33_nelson_aalen w34_logrank
      |w35_cum_incidence w36_interval_union w37_rmst w38_cox
      |w3_interval_shift w4_sessionize w5_rank w6_resample w7_rolling
      |w8_share w9_time_weighted""".stripMargin.split("\\s+").toSet
    assert(expected.size == 356)
    val names = Registry.all.map(_.name)
    assert(names.size == 356 && names.toSet == expected,
      s"missing: ${expected -- names}; unexpected: ${names.toSet -- expected}")
    assert(graft.SparkEntry.queries.keySet == expected &&
      graft.SparkEntry.oracleSql.keySet == expected)
  }
}
