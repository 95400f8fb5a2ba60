"""Query registry — the driver-facing inventory of implemented operators.

Each query module registers its queries with `registry.register(name, fn,
oracle)` next to the oracle; this module imports them all and fixes the
iteration order: `_GATE_FRONT` first, then the modules below in order.
"""

from __future__ import annotations

from aos_spark import (
    queries_core,
    queries_r4,
    queries_r5,
    queries_r5b,
    queries_r5c,
    queries_r5d,
    queries_r5e,
    queries_r6,
    queries_tpch,
)
from aos_spark.registry import build

# The driver's correctness gate samples the FIRST 50 entries, so this list
# decides what it verifies. Refresh it from `scripts/rotation_status.py`'s
# suggested order (stalest driver-green evidence first).
_GATE_FRONT = [
    "split_leakage_check", "cms_error_eval", "hll_error_eval",
    "quantile_error_eval", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "sim_bruteforce_topk", "sim_lsh_topk", "dedup_embedding_cosine",
    "j2_point_zone_count", "j3_j5_zone_assignment", "j10_lookup_join",
    "j13_prev_forecast_delta", "a13_cci_admin_rollup", "a14_value_counts",
    "w2_first_landfall", "s6_distinct_ordered", "dedup_simhash",
    "multimodal_image_features", "sessionize_events", "sim_ivf_topk",
    "text_bpe_tokens", "text_rolling_fingerprint", "s17_raster_zonal",
    "asof_join_events", "range_join_events", "dedup_clusters",
    "decontamination_pairs", "sample_split_stats", "q4_priority_semijoin",
    "q18_large_volume_orders", "corpus_language_stats",
    "sketch_cms_estimate", "text_pii_scrub", "text_repetition_stats",
    "sketch_hll_distinct", "tfidf_top_terms", "q3_shipping_priority",
    "q5_regional_revenue", "q17_small_quantity_revenue",
    "j2_facility_probability", "cube_order_stats", "pivot_status_revenue",
    "unpivot_metrics", "rolling_customer_spend", "rank_distribution",
    "histogram_quantity", "tumbling_event_windows", "set_ops_segments",
    "corpus_length_percentiles",
]

QUERIES, ORACLES = build(
    [
        queries_core,
        queries_tpch,
        queries_r4,
        queries_r5,
        queries_r5b,
        queries_r5c,
        queries_r5d,
        queries_r5e,
        queries_r6,
    ],
    _GATE_FRONT,
)
