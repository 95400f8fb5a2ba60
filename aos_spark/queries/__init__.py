"""The query registry: 203 queries, each with a DuckDB oracle over the same
parquet inputs, grouped by domain.

- `storm`: the storm-impact flagship and the SURVEY.md §2 S/F/J/A/W operators
- `tpch`: the TPC-H shapes
- `relational`: joins, set ops, reshapes, SCD/CDC, validation and layout
- `windows`: sessions, sequences and time-window analytics
- `stats`: robust statistics, tests and distribution summaries
- `sketches`: CMS, HLL, quantile and Bloom sketches and their error checks
- `text`, `sampling`, `dedup`, `similarity`, `multimodal`, `graph`: the
  LLM-data tier (tokens and text rules, sampling and packing, near-dup
  detection, ANN search, media features, graph steps)

Each module calls `registry.register(name, fn, oracle)` once per query,
right after its oracle. `QUERY_ORDER` alone fixes the iteration order of
QUERIES and ORACLES; `registry.build` rejects a name listed twice, a listed
name that no module registers, and a registered name that is not listed.

Cross-engine exactness rules the oracles share (so order-insensitive value
hashes match bit for bit):

- SUMs over doubles go through DECIMAL(18,s) so accumulation order cannot
  change the result; the final value is CAST back to DOUBLE.
- Per-row double arithmetic (products, ratios, cosines) is identical IEEE754
  in both engines, so it stays raw; outputs that chain multiple aggregates
  are rounded to 6 decimals in BOTH.
- Every computed column is aliased identically in the Spark plan and the SQL.
- DuckDB `regexp_replace` gets the 'g' flag (Spark replaces all by default),
  `ceil`/`len`/`row_number` results are cast to match Spark's output types.
"""

from __future__ import annotations

from aos_spark.queries import (  # noqa: F401  (each registers its queries)
    dedup,
    graph,
    multimodal,
    relational,
    sampling,
    similarity,
    sketches,
    stats,
    storm,
    text,
    tpch,
    windows,
)
from aos_spark.registry import build

# The driver's correctness gate samples the FIRST 50 entries, so the front
# of this list decides what it verifies. Refresh it from
# `scripts/rotation_status.py`'s suggested order (stalest driver-green
# evidence first). Among equally stale greens, queries rewritten since their
# last driver row go first (the first six); newer-evidence rewrites wait for
# their round.
QUERY_ORDER = [
    "sim_ivfpq_topk", "winnow_overlap_sources", "percentile_cont_interp",
    "stats_correlation", "dedup_resolution", "semantic_dedup",
    "shard_rebalance_churn", "q1_pricing_summary", "pack_context_chunks",
    "embedding_quantize", "gapfill_hourly_events", "fuzzy_match_levenshtein",
    "dedup_storage_savings", "skew_salted_distinct", "array_agg_sorted",
    "profile_columns", "cumulative_distinct_users",
    "q10_returned_item_customers", "q12_shipmode_priority",
    "chunk_sliding_window", "decontamination_13gram", "q2_min_cost_supplier",
    "q7_volume_shipping", "q8_market_share", "q9_profit_by_nation",
    "q11_important_parts", "q13_customer_distribution", "q14_promo_revenue",
    "q15_top_supplier", "q16_supplier_count", "q19_disjunctive_revenue",
    "q20_promotion_suppliers", "q21_sole_blocker_suppliers",
    "q22_idle_customers", "corpus_quality_filter", "vocab_min_df",
    "kmeans_lloyd_step", "funnel_conversion", "cohort_retention",
    "sketch_hll_grouped", "scd2_dimension_history", "incremental_agg_merge",
    "vocab_encode_tokens", "validation_suite", "zscore_outliers",
    "graph_triangle_count", "weighted_sample_stats", "kfold_assignment",
    "q6_discount_revenue", "json_props_stats",
    # -- end of the gate window (_GATE_FRONT) --
    "flagship_storm_impact", "q3_shipping_priority", "q5_regional_revenue",
    "sessionize_events", "s1_catalog_scan", "f4_recency_filter",
    "f5_isin_or_filter", "f11_antijoin_new_work", "j1_cover_equi_join",
    "j9_preserve_empty_regions", "a1_a2_probability_expected",
    "a6_report_totals", "a7_vulnerability_bands", "a8_topk_per_group",
    "a9_max_active_threshold", "a10_first_match_stats", "w1_track_segments",
    "w3_w4_cci", "w5_dedup_keep_first", "w6_argmax_per_group",
    "a5_member_severity", "scalar_functions", "smod_recode_map",
    "text_token_count", "text_quality_score", "text_language_id",
    "text_fingerprint", "text_pii_scrub", "text_repetition_stats",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "sim_bruteforce_topk", "sim_lsh_topk", "dedup_embedding_cosine",
    "dedup_simhash", "multimodal_image_features",
    "q17_small_quantity_revenue", "text_bpe_tokens",
    "text_rolling_fingerprint", "sim_ivf_topk", "j2_point_zone_count",
    "j3_j5_zone_assignment", "j2_facility_probability", "j10_lookup_join",
    "j13_prev_forecast_delta", "a13_cci_admin_rollup", "a14_value_counts",
    "w2_first_landfall", "s6_distinct_ordered", "s17_raster_zonal",
    "dedup_clusters", "sample_split_stats", "q4_priority_semijoin",
    "q18_large_volume_orders", "asof_join_events", "range_join_events",
    "corpus_language_stats", "sketch_cms_estimate", "tfidf_top_terms",
    "sketch_hll_distinct", "decontamination_pairs", "cube_order_stats",
    "pivot_status_revenue", "unpivot_metrics", "rolling_customer_spend",
    "rank_distribution", "histogram_quantity", "tumbling_event_windows",
    "set_ops_segments", "corpus_length_percentiles", "rollup_time_hierarchy",
    "bag_difference_except_all", "reconcile_tables", "sequence_gap_detection",
    "sketch_quantile_histogram", "range_frame_window_spend",
    "cdc_snapshot_diff", "overlapping_order_windows", "span_dedup_retention",
    "bloom_semijoin_prune", "lm_bigram_rarity", "embedding_random_projection",
    "domain_mixture_plan", "per_source_cap", "token_budget_selection",
    "quality_decile_shards", "embedding_pq_encode", "sim_pq_topk",
    "event_transition_matrix", "user_burst_hours", "term_postings_index",
    "order_autocorrelation", "mad_outlier_bounds", "session_path_topk",
    "key_skew_profile", "incremental_dedup_status", "lsh_recall_eval",
    "cross_source_dup_matrix", "graph_pagerank_step", "mixture_apply_stats",
    "monthly_growth_by_nation", "ann_recall_eval", "term_cooccurrence_lift",
    "language_confusion_matrix", "label_centroid_similarity",
    "bpe_merge_candidates", "trimmed_mean_prices", "revenue_pareto_by_nation",
    "revenue_trend_by_nation", "interval_union_coverage",
    "gini_revenue_by_nation", "simpson_diversity_by_source",
    "assoc_rules_brands", "stratified_allocation_sample", "ks_length_drift",
    "seasonal_dow_anomaly", "winsorized_mean_prices", "rrf_fusion_topk",
    "bm25_lite_scores", "feature_hash_vectorizer", "welch_ttest_priorities",
    "multimodal_audio_features", "cusum_change_point", "vocab_jaccard_matrix",
    "priority_mix_residuals", "multimodal_video_features", "rfm_segmentation",
    "graph_link_prediction", "embedding_gram_matrix", "ngram_novelty_rate",
    "markov_two_step", "source_minhash_similarity", "benford_first_digit",
    "ewma_monthly_revenue", "type_token_ratio", "above_nation_avg_customers",
    "sketch_hll_merge_weekly", "customer_skyline_frontier",
    "containment_near_dup", "lsh_band_collision_stats", "dau_moving_average",
    "ppjoin_exact_pairs", "zorder_skipping_census", "hard_negative_mining",
    "language_kappa", "winnowing_fingerprints", "matryoshka_recall_eval",
    "dedup_threshold_curve", "split_leakage_check", "cms_error_eval",
    "hll_error_eval", "quantile_error_eval",
]
_GATE_FRONT = QUERY_ORDER[:50]

QUERIES, ORACLES = build(QUERY_ORDER)
