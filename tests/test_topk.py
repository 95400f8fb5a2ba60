"""ops/topk.topk_per_group: the one per-group rank rule the ANN tier
(brute force, LSH, IVF, PQ, RRF) ranks through."""

from __future__ import annotations

import pytest

from aos_spark.ops.topk import topk_per_group

ROWS = [
    ("a", 1.0, 3), ("a", 1.0, 1), ("a", 1.0, 2), ("a", 0.5, 9),
    ("b", 2.0, 1), ("b", 3.0, 2), ("b", 3.0, 5),
]


@pytest.mark.parametrize(
    "kwargs,rank_col,want",
    [
        # a: three rows tie at d=1.0 across the k-th place; id asc keeps 1, 2
        ({}, "rank_in_group", [("a", 1, 1), ("a", 2, 2), ("b", 1, 2), ("b", 2, 5)]),
        # a: 0.5 first, then the d=1.0 tie broken to the lowest id only
        (
            {"ascending": True, "rank_col": "rank"},
            "rank",
            [("a", 1, 9), ("a", 2, 1), ("b", 1, 1), ("b", 2, 2)],
        ),
    ],
    ids=["descending", "ascending_custom_rank_col"],
)
def test_topk_per_group_keeps_exactly_k_through_ties(spark, kwargs, rank_col, want):
    df = spark.createDataFrame(ROWS, "g string, d double, id int")
    out = topk_per_group(df, ["g"], "d", "id", k=2, **kwargs)
    assert out.columns == ["g", "d", "id", rank_col]
    assert sorted((r["g"], r[rank_col], r["id"]) for r in out.collect()) == want
