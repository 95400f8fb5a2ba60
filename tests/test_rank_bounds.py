"""Focused tests for ops/stats.group_rank_value_bounds (r16): the
two-pass range-partitioned exact-rank selection that replaced the
one-task-per-group rank windows in the winsorized/percentile family.

The reference implementation is the historical window shape: rank-k
VALUES are tiebreak-insensitive, so any tie order gives the same value —
the helper must reproduce it exactly, including the with_sums split
stats under heavy ties and in both bucketing modes (domain-width and
min/max-normalized)."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from aos_spark.cache import release_tracked
from aos_spark.ops.stats import group_rank_value_bounds


@pytest.fixture(scope="module")
def frame(spark):
    # two groups; group 'a' has heavy ties (all 7.50s) straddling ranks,
    # group 'b' is skewed with distinct values and a constant tail
    rows = []
    vals_a = [1.25, 7.50, 7.50, 7.50, 7.50, 9.00, 12.75, 12.75, 40.00]
    vals_b = [100.00, 2.00, 3.00, 3.00, 55.25, 55.25, 55.25, 0.50]
    for v in vals_a:
        rows.append(("a", Decimal(str(v))))
    for v in vals_b:
        rows.append(("b", Decimal(str(v))))
    return spark.createDataFrame(rows, "g string, v decimal(14,2)")


def _reference(rows: list, k: int):
    vs = sorted(rows)
    v = vs[k - 1]
    n_lt = sum(1 for x in vs if x < v)
    s_lt = sum((x for x in vs if x < v), Decimal(0))
    n_le = sum(1 for x in vs if x <= v)
    s_le = sum((x for x in vs if x <= v), Decimal(0))
    return v, n_lt, s_lt, n_le, s_le


@pytest.mark.parametrize("mode", ["width", "minmax"])
@pytest.mark.parametrize("k_lo,k_hi", [(1, 9), (2, 8), (3, 5), (4, 4)])
def test_rank_values_and_split_stats_match_reference(
    spark, frame, mode, k_lo, k_hi
):
    kw = {"bucket_width": 4.0} if mode == "width" else {"n_buckets": 4}
    out = group_rank_value_bounds(
        frame,
        ["g"],
        "v",
        {
            "lo": lambda n: F.least(F.lit(k_lo), n),
            "hi": lambda n: F.least(F.lit(k_hi), n),
        },
        with_sums=True,
        **kw,
    )
    got = {r["g"]: r.asDict() for r in out.collect()}
    release_tracked()
    spark.catalog.clearCache()
    data = {
        "a": [Decimal(str(x)) for x in
              [1.25, 7.50, 7.50, 7.50, 7.50, 9.00, 12.75, 12.75, 40.00]],
        "b": [Decimal(str(x)) for x in
              [100.00, 2.00, 3.00, 3.00, 55.25, 55.25, 55.25, 0.50]],
    }
    for g, rows in data.items():
        r = got[g]
        assert r["__n"] == len(rows)
        assert r["__stot"] == sum(rows, Decimal(0))
        for tag, k in (("lo", k_lo), ("hi", k_hi)):
            k_eff = min(k, len(rows))
            v, n_lt, s_lt, n_le, s_le = _reference(rows, k_eff)
            assert r[tag] == v, (g, tag, k_eff)
            assert r[f"{tag}__n_lt"] == n_lt
            assert r[f"{tag}__s_lt"] == s_lt
            assert r[f"{tag}__n_le"] == n_le
            assert r[f"{tag}__s_le"] == s_le


def test_constant_group_degenerates_to_one_bucket(spark):
    df = spark.createDataFrame(
        [("c", Decimal("5.00"))] * 6, "g string, v decimal(14,2)"
    )
    out = group_rank_value_bounds(
        df, ["g"], "v", {"mid": lambda n: (n / 2 + 1).cast("long")},
        bucket_width=8.0, with_sums=True,
    ).collect()[0]
    release_tracked()
    spark.catalog.clearCache()
    assert out["mid"] == Decimal("5.00")
    assert out["mid__n_lt"] == 0 and out["mid__n_le"] == 6
    assert out["mid__s_le"] == Decimal("30.00")


def test_minmax_mode_single_row_group(spark):
    df = spark.createDataFrame(
        [("z", Decimal("3.14"))], "g string, v decimal(14,2)"
    )
    out = group_rank_value_bounds(
        df, ["g"], "v", {"only": lambda n: n}, n_buckets=16
    ).collect()[0]
    release_tracked()
    spark.catalog.clearCache()
    assert out["only"] == Decimal("3.14")
    assert out["__n"] == 1


@pytest.mark.parametrize("rank", [lambda n: n + 1, lambda n: n - n])
def test_rank_outside_one_to_n_raises(spark, frame, rank):
    out = group_rank_value_bounds(frame, ["g"], "v", {"bad": rank}, bucket_width=4.0)
    with pytest.raises(Exception, match=r"rank \d+ for 'bad' outside \[1, \d+\]"):
        out.collect()
    release_tracked()
    spark.catalog.clearCache()


def test_null_value_raises(spark):
    df = spark.createDataFrame(
        [("a", Decimal("1.00")), ("a", None), ("a", Decimal("2.00"))],
        "g string, v decimal(14,2)",
    )
    out = group_rank_value_bounds(df, ["g"], "v", {"lo": lambda n: F.lit(1)}, n_buckets=4)
    with pytest.raises(Exception, match="NULL 'v' value"):
        out.collect()
    release_tracked()
    spark.catalog.clearCache()
