package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.plans.GraftPlanner

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` is one declared operator from SURVEY.md §2.2;
  * `oracleSql` carries the equivalent DuckDB SQL the driver hash-compares
  * against on the same parquet tables (t2 gate). Column names/aliases match
  * pairwise by construction — the compare sorts columns by name.
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 shape, q20) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    AggQueries.q20_agg_hash(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs graft's planner on its session ([[GraftPlanner.install]])
    * before it builds the query, so the query and the eager jobs of its
    * build plan with graft's rule and strategy in any session.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { case (name, build) =>
      name -> { (spark: SparkSession, dir: String) =>
        GraftPlanner.install(spark)
        build(spark, dir)
      }
    }

  private val declared: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. scan / filter / project / sort / limit
    "q01_scan_project" -> (CoreQueries.q01_scan_project _),
    "q02_filter_where" -> (CoreQueries.q02_filter_where _),
    "q03_project_arith" -> (CoreQueries.q03_project_arith _),
    "q04_sort_multi" -> (CoreQueries.q04_sort_multi _),
    "q05_topk_global" -> (CoreQueries.q05_topk_global _),
    "q128_topk_per_key" -> (CoreQueries.q128_topk_per_key _),
    // B. joins
    "q10_join_inner" -> (JoinQueries.q10_join_inner _),
    "q11_join_multiway" -> (JoinQueries.q11_join_multiway _),
    "q12_join_left_outer" -> (JoinQueries.q12_join_left_outer _),
    "q13_join_semi" -> (JoinQueries.q13_join_semi _),
    "q14_join_anti" -> (JoinQueries.q14_join_anti _),
    "q15_join_theta" -> (JoinQueries.q15_join_theta _),
    "q16_join_asof" -> (JoinQueries.q16_join_asof _),
    "q19_join_asof_generic" -> (JoinQueries.q19_join_asof_generic _),
    "q129_interval_join" -> (EventQueries.q129_interval_join _),
    "q131_sessionize" -> (EventQueries.q131_sessionize _),
    "q132_value_histogram" -> (EventQueries.q132_value_histogram _),
    "q133_rolling_zscore" -> (EventQueries.q133_rolling_zscore _),
    "q134_ab_test" -> (EventQueries.q134_ab_test _),
    "q135_trend_slope" -> (EventQueries.q135_trend_slope _),
    "q136_robust_stats" -> (EventQueries.q136_robust_stats _),
    "q137_window_distinct" -> (EventQueries.q137_window_distinct _),
    "q138_dau_wau" -> (EventQueries.q138_dau_wau _),
    "q139_geo_cell_join" -> (ScalarQueries.q139_geo_cell_join _),
    "q140_topk_events" -> (EventQueries.q140_topk_events _),
    "q141_inverted_index" -> (PipelineQueries.q141_inverted_index _),
    "q172_bpe_token_stats" -> (PipelineQueries.q172_bpe_token_stats _),
    "q142_correlation" -> (EventQueries.q142_correlation _),
    "q143_hierarchy_flatten" -> (Hierarchy.q143_hierarchy_flatten _),
    "q144_resample_locf" -> (EventQueries.q144_resample_locf _),
    "q145_fuzzy_match" -> (JoinQueries.q145_fuzzy_match _),
    "q146_interval_overlap" -> (EventQueries.q146_interval_overlap _),
    "q147_pareto" -> (AggQueries.q147_pareto _),
    "q148_subtree_rollup" -> (Hierarchy.q148_subtree_rollup _),
    "q149_chi_square" -> (EventQueries.q149_chi_square _),
    "q173_event_pivot" -> (EventQueries.q173_event_pivot _),
    "q174_value_ecdf" -> (EventQueries.q174_value_ecdf _),
    "q175_doc_chunks" -> (CorpusQueries.q175_doc_chunks _),
    "q176_event_rollup" -> (EventQueries.q176_event_rollup _),
    "q150_skyline" -> (WindowSetQueries.q150_skyline _),
    "q151_triangle_count" -> (ScalarQueries.q151_triangle_count _),
    "q152_weighted_median" -> (AggQueries.q152_weighted_median _),
    "q153_day_streaks" -> (EventQueries.q153_day_streaks _),
    "q154_basket_lift" -> (EventQueries.q154_basket_lift _),
    "q155_kmeans_assign" -> (NorthStarQueries.q155_kmeans_assign _),
    "q156_skyline3d" -> (Skyline.q156_skyline3d _),
    "q157_pagerank" -> (ScalarQueries.q157_pagerank _),
    "q158_semdedup" -> (NorthStarQueries.q158_semdedup _),
    "q159_bfs_hops" -> (ScalarQueries.q159_bfs_hops _),
    "q185_shortest_path" -> (ScalarQueries.q185_shortest_path _),
    "q77_upsert_merge" -> (JoinQueries.q77_upsert_merge _),
    "q17_join_cross" -> (JoinQueries.q17_join_cross _),
    "q18_join_full_outer" -> (JoinQueries.q18_join_full_outer _),
    "q46_subquery" -> (JoinQueries.q46_subquery _),
    // C. aggregation
    "q20_agg_hash" -> (AggQueries.q20_agg_hash _),
    "q24_agg_grouping_sets" -> (AggQueries.q24_agg_grouping_sets _),
    "q45_pivot" -> (AggQueries.q45_pivot _),
    "q48_string_agg" -> (AggQueries.q48_string_agg _),
    "q190_unpivot" -> (AggQueries.q190_unpivot _),
    "q21_agg_distinct" -> (AggQueries.q21_agg_distinct _),
    "q22_agg_rollup" -> (AggQueries.q22_agg_rollup _),
    "q23_agg_cube" -> (AggQueries.q23_agg_cube _),
    "q25_agg_having" -> (AggQueries.q25_agg_having _),
    "q27_agg_percentile" -> (AggQueries.q27_agg_percentile _),
    "q28_agg_minmax_by" -> (AggQueries.q28_agg_minmax_by _),
    "q29_agg_bool" -> (AggQueries.q29_agg_bool _),
    "q26_agg_stats" -> (AggQueries.q26_agg_stats _),
    "q76_profile_stats" -> (AggQueries.q76_profile_stats _),
    // D. windows
    "q30_window_rank" -> (WindowSetQueries.q30_window_rank _),
    "q31_window_frame" -> (WindowSetQueries.q31_window_frame _),
    "q32_window_lag" -> (WindowSetQueries.q32_window_lag _),
    "q33_window_ntile" -> (WindowSetQueries.q33_window_ntile _),
    "q34_window_range" -> (WindowSetQueries.q34_window_range _),
    "q35_window_firstlast" -> (WindowSetQueries.q35_window_firstlast _),
    "q36_window_distribution" -> (WindowSetQueries.q36_window_distribution _),
    // E. set ops
    "q40_union" -> (WindowSetQueries.q40_union _),
    "q41_intersect" -> (WindowSetQueries.q41_intersect _),
    "q42_except" -> (WindowSetQueries.q42_except _),
    "q43_union_all" -> (WindowSetQueries.q43_union_all _),
    "q44_except_all" -> (WindowSetQueries.q44_except_all _),
    // F. scalar functions
    "q50_string_funcs" -> (ScalarQueries.q50_string_funcs _),
    "q51_date_funcs" -> (ScalarQueries.q51_date_funcs _),
    "q52_math_funcs" -> (ScalarQueries.q52_math_funcs _),
    "q53_case_coalesce" -> (ScalarQueries.q53_case_coalesce _),
    "q54_array_funcs" -> (ScalarQueries.q54_array_funcs _),
    "q55_json_map" -> (ScalarQueries.q55_json_map _),
    "q56_regex_funcs" -> (ScalarQueries.q56_regex_funcs _),
    "q57_date_arith" -> (ScalarQueries.q57_date_arith _),
    "q58_decimal_money" -> (ScalarQueries.q58_decimal_money _),
    "q59_geo_distance" -> (ScalarQueries.q59_geo_distance _),
    // G. streaming shapes (batch twins; true streaming in graft.streaming)
    "q60_window_tumbling" -> (StreamShapeQueries.q60_window_tumbling _),
    "q61_window_sliding" -> (StreamShapeQueries.q61_window_sliding _),
    "q62_session_window" -> (StreamShapeQueries.q62_session_window _),
    "q63_dedup_keyed" -> (StreamShapeQueries.q63_dedup_keyed _),
    // H. UDF / UDAF / UDTF
    "q70_udf_scalar" -> (UdxQueries.q70_udf_scalar _),
    "q71_udaf_weighted" -> (UdxQueries.q71_udaf_weighted _),
    "q72_udtf_explode" -> (UdxQueries.q72_udtf_explode _),
    // I. north-star LLM-pipeline operators
    "q80_dedup_exact" -> (NorthStarQueries.q80_dedup_exact _),
    "q81_sim_jaccard" -> (NorthStarQueries.q81_sim_jaccard _),
    "q82_knn_cosine" -> (NorthStarQueries.q82_knn_cosine _),
    "q83_text_topterms" -> (NorthStarQueries.q83_text_topterms _),
    "q84_text_langstats" -> (NorthStarQueries.q84_text_langstats _),
    "q98_knn_ivf_cell" -> (NorthStarQueries.q98_knn_ivf_cell _),
    // J. training-data pipeline tiers (dedup ladder, quality, fingerprint,
    //    full-text) — hash-checked like everything else
    "q85_dedup_minhash_lsh" -> (PipelineQueries.q85_dedup_minhash_lsh _),
    "q86_dedup_ngram" -> (PipelineQueries.q86_dedup_ngram _),
    "q87_dedup_embcos" -> (PipelineQueries.q87_dedup_embcos _),
    "q88_text_quality" -> (PipelineQueries.q88_text_quality _),
    "q89_doc_fingerprint" -> (PipelineQueries.q89_doc_fingerprint _),
    "q90_fulltext_search" -> (PipelineQueries.q90_fulltext_search _),
    "q91_text_langid" -> (PipelineQueries.q91_text_langid _),
    "q92_text_tfidf" -> (PipelineQueries.q92_text_tfidf _),
    "q93_text_cooccur" -> (PipelineQueries.q93_text_cooccur _),
    "q94_dedup_lsh_lang" -> (PipelineQueries.q94_dedup_lsh_lang _),
    "q95_fulltext_ranked" -> (PipelineQueries.q95_fulltext_ranked _),
    "q130_bm25_ranked" -> (PipelineQueries.q130_bm25_ranked _),
    "q96_dedup_simhash" -> (PipelineQueries.q96_dedup_simhash _),
    "q73_hash_split" -> (PipelineQueries.q73_hash_split _),
    "q75_dedup_incremental" -> (PipelineQueries.q75_dedup_incremental _),
    "q74_data_recipe" -> (PipelineQueries.q74_data_recipe _),
    "q97_curation_pipeline" -> (PipelineQueries.q97_curation_pipeline _),
    "q99_quality_repetition" -> (PipelineQueries.q99_quality_repetition _),
    // K. corpus-preparation tier (round 5): clusters, contamination,
    //    packing, normalization, sharding, mix report
    "q100_dedup_components" -> (CorpusQueries.q100_dedup_components _),
    "q101_contamination" -> (CorpusQueries.q101_contamination _),
    "q102_seq_pack" -> (CorpusQueries.q102_seq_pack _),
    "q103_text_normalize" -> (CorpusQueries.q103_text_normalize _),
    "q104_shard_assign" -> (CorpusQueries.q104_shard_assign _),
    "q105_domain_mix" -> (CorpusQueries.q105_domain_mix _),
    "q106_line_dedup" -> (CorpusQueries.q106_line_dedup _),
    "q107_quality_classifier" -> (CorpusQueries.q107_quality_classifier _),
    "q108_dedup_canonical" -> (CorpusQueries.q108_dedup_canonical _),
    "q109_dedup_keep_best" -> (CorpusQueries.q109_dedup_keep_best _),
    "q110_winnow_fingerprint" -> (CorpusQueries.q110_winnow_fingerprint _),
    "q111_lm_bigram_score" -> (CorpusQueries.q111_lm_bigram_score _),
    "q112_char_entropy" -> (CorpusQueries.q112_char_entropy _),
    "q113_source_divergence" -> (CorpusQueries.q113_source_divergence _),
    "q114_stratified_topk" -> (CorpusQueries.q114_stratified_topk _),
    "q115_dedup_prefix" -> (CorpusQueries.q115_dedup_prefix _),
    "q116_mix_temperature" -> (CorpusQueries.q116_mix_temperature _),
    "q117_span_mask" -> (CorpusQueries.q117_span_mask _),
    "q177_span_dedup" -> (CorpusQueries.q177_span_dedup _),
    "q181_dsir_weight" -> (CorpusQueries.q181_dsir_weight _),
    "q182_ngram_novelty" -> (CorpusQueries.q182_ngram_novelty _),
    "q186_distinct_ngrams" -> (CorpusQueries.q186_distinct_ngrams _),
    "q178_quota_sample" -> (CorpusQueries.q178_quota_sample _),
    "q179_dup_rate_by_source" -> (CorpusQueries.q179_dup_rate_by_source _),
    "q180_dup_span_share" -> (CorpusQueries.q180_dup_span_share _),
    // L. event/product analytics + PII scrubbing
    "q118_pii_redact" -> (EventQueries.q118_pii_redact _),
    "q119_event_funnel" -> (EventQueries.q119_event_funnel _),
    "q120_cohort_retention" -> (EventQueries.q120_cohort_retention _),
    "q121_event_transitions" -> (EventQueries.q121_event_transitions _),
    "q122_user_rfm" -> (EventQueries.q122_user_rfm _),
    "q123_scd2_intervals" -> (EventQueries.q123_scd2_intervals _),
    "q124_time_weighted_avg" -> (EventQueries.q124_time_weighted_avg _),
    "q125_dq_checks" -> (DqQueries.q125_dq_checks _),
    "q183_target_encode" -> (EventQueries.q183_target_encode _),
    "q184_benford" -> (DqQueries.q184_benford _),
    "q187_order_reconcile" -> (DqQueries.q187_order_reconcile _),
    "q188_decile_gains" -> (EventQueries.q188_decile_gains _),
    "q189_ks_drift" -> (EventQueries.q189_ks_drift _),
    "q191_auc_roc" -> (EventQueries.q191_auc_roc _),
    "q192_kaplan_meier" -> (EventQueries.q192_kaplan_meier _),
    "q193_span_containment" -> (CorpusQueries.q193_span_containment _),
    "q194_gini_spend" -> (EventQueries.q194_gini_spend _),
    "q195_user_entropy" -> (EventQueries.q195_user_entropy _),
    "q196_new_returning" -> (EventQueries.q196_new_returning _),
    "q197_embed_health" -> (NorthStarQueries.q197_embed_health _),
    "q198_quantile_normalize" -> (EventQueries.q198_quantile_normalize _),
    "q199_mom_growth" -> (AggQueries.q199_mom_growth _),
    "q200_ann_recall" -> (NorthStarQueries.q200_ann_recall _),
    "q227_ann_recall_kmeans" -> (NorthStarQueries.q227_ann_recall_kmeans _),
    "q203_dedup_report" -> (CorpusQueries.q203_dedup_report _),
    "q204_demand_variability" -> (AggQueries.q204_demand_variability _),
    "q205_forecast_backtest" -> (MiningQueries.q205_forecast_backtest _),
    "q206_slo_burn" -> (DqQueries.q206_slo_burn _),
    "q201_seasonal_decompose" -> (MiningQueries.q201_seasonal_decompose _),
    "q207_psi_drift" -> (EventQueries.q207_psi_drift _),
    "q208_order_aging" -> (DqQueries.q208_order_aging _),
    "q209_session_stats" -> (EventQueries.q209_session_stats _),
    "q210_lagged_xcorr" -> (MiningQueries.q210_lagged_xcorr _),
    "q211_vocab_growth" -> (CorpusQueries.q211_vocab_growth _),
    "q212_retrieval_eval" -> (PipelineQueries.q212_retrieval_eval _),
    "q213_calibration_bins" -> (CorpusQueries.q213_calibration_bins _),
    "q214_hhi_spend" -> (EventQueries.q214_hhi_spend _),
    "q215_dispersion" -> (MiningQueries.q215_dispersion _),
    "q216_readability" -> (CorpusQueries.q216_readability _),
    "q217_daily_anomaly" -> (MiningQueries.q217_daily_anomaly _),
    "q218_churn_state" -> (EventQueries.q218_churn_state _),
    "q219_ship_delay" -> (AggQueries.q219_ship_delay _),
    "q220_rebalance_plan" -> (CorpusQueries.q220_rebalance_plan _),
    "q221_value_bands" -> (EventQueries.q221_value_bands _),
    "q222_position_attribution" -> (EventQueries.q222_position_attribution _),
    "q223_srm_screen" -> (DqQueries.q223_srm_screen _),
    "q224_margin_waterfall" -> (AggQueries.q224_margin_waterfall _),
    "q225_audience_overlap" -> (EventQueries.q225_audience_overlap _),
    "q226_lang_confusion" -> (PipelineQueries.q226_lang_confusion _),
    "q202_kcore_peel" -> (ScalarQueries.q202_kcore_peel _),
    "q126_attribution" -> (EventQueries.q126_attribution _),
    "q127_window_funnel" -> (EventQueries.q127_window_funnel _),
    // M. pattern mining / applied analytics (round 5 cont. 5)
    "q160_item_cooccur_sim" -> (MiningQueries.q160_item_cooccur_sim _),
    "q161_path_trigrams" -> (MiningQueries.q161_path_trigrams _),
    "q162_ewma" -> (MiningQueries.q162_ewma _),
    "q163_entity_clusters" -> (MiningQueries.q163_entity_clusters _),
    "q164_knn_label_vote" -> (MiningQueries.q164_knn_label_vote _),
    "q165_grid_density" -> (MiningQueries.q165_grid_density _),
    "q166_time_to_convert" -> (MiningQueries.q166_time_to_convert _),
    "q167_mutual_info" -> (MiningQueries.q167_mutual_info _),
    "q168_seasonal_index" -> (MiningQueries.q168_seasonal_index _),
    "q169_changepoint" -> (MiningQueries.q169_changepoint _),
    "q170_cohort_ltv" -> (MiningQueries.q170_cohort_ltv _),
    "q171_lag_autocorr" -> (MiningQueries.q171_lag_autocorr _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CoreQueries.oracle ++ JoinQueries.oracle ++ AggQueries.oracle ++
      WindowSetQueries.oracle ++ ScalarQueries.oracle ++
      StreamShapeQueries.oracle ++ UdxQueries.oracle ++
      NorthStarQueries.oracle ++ PipelineQueries.oracle ++
      CorpusQueries.oracle ++ EventQueries.oracle ++ DqQueries.oracle ++
      Hierarchy.oracle ++ Skyline.oracle ++ MiningQueries.oracle
}
