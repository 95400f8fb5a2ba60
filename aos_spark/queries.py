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
# suggested order (stalest driver-green evidence first). Among equally
# stale greens, queries rewritten since their last driver row go first
# (the first six below); newer-evidence rewrites wait for their round.
_GATE_FRONT = [
    "sim_ivfpq_topk", "winnow_overlap_sources", "percentile_cont_interp",
    "stats_correlation", "dedup_resolution", "semantic_dedup",
    "shard_rebalance_churn", "q1_pricing_summary", "pack_context_chunks",
    "embedding_quantize", "gapfill_hourly_events",
    "fuzzy_match_levenshtein", "dedup_storage_savings",
    "skew_salted_distinct", "array_agg_sorted", "profile_columns",
    "cumulative_distinct_users", "q10_returned_item_customers",
    "q12_shipmode_priority", "chunk_sliding_window",
    "decontamination_13gram", "q2_min_cost_supplier", "q7_volume_shipping",
    "q8_market_share", "q9_profit_by_nation", "q11_important_parts",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_count", "q19_disjunctive_revenue",
    "q20_promotion_suppliers", "q21_sole_blocker_suppliers",
    "q22_idle_customers", "corpus_quality_filter", "vocab_min_df",
    "kmeans_lloyd_step", "funnel_conversion", "cohort_retention",
    "sketch_hll_grouped", "scd2_dimension_history", "incremental_agg_merge",
    "vocab_encode_tokens", "validation_suite", "zscore_outliers",
    "graph_triangle_count", "weighted_sample_stats", "kfold_assignment",
    "q6_discount_revenue", "json_props_stats",
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
