"""Round-5 second-wave operators: Markov transitions, burst detection,
postings index, lagged autocorrelation, MAD outliers."""

from __future__ import annotations

import datetime as dt
import statistics

from pyspark.sql import functions as F

from aos_spark.llm.text import postings_index
from aos_spark.ops.sequences import burst_hours, transition_matrix
from aos_spark.ops.stats import lagged_autocorrelation, mad_outliers


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


# --------------------------------------------------------- transition matrix
def test_transition_counts_and_probs(spark):
    df = spark.createDataFrame(
        [
            # user 1: a -> b -> a -> b
            (1, _ts(0), 1, "a"),
            (2, _ts(1), 1, "b"),
            (3, _ts(2), 1, "a"),
            (4, _ts(3), 1, "b"),
            # user 2: a -> c
            (5, _ts(0), 2, "a"),
            (6, _ts(1), 2, "c"),
        ],
        ["event_id", "ts", "user_id", "state"],
    )
    out = {
        (r["prev_state"], r["next_state"]): r
        for r in transition_matrix(df, "user_id", "state", ["ts", "event_id"]).collect()
    }
    assert out[("a", "b")]["n_transitions"] == 2
    assert out[("a", "c")]["n_transitions"] == 1
    assert out[("b", "a")]["n_transitions"] == 1
    # from 'a': 3 transitions total -> probs 2/3 and 1/3
    assert abs(out[("a", "b")]["prob"] - 2 / 3) < 1e-12
    assert abs(out[("a", "c")]["prob"] - 1 / 3) < 1e-12
    assert out[("b", "a")]["prob"] == 1.0


def test_transition_probs_sum_to_one_per_source(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(400):
        rows.append(
            (i, _ts(i // 60, i % 60), rng.randrange(5), rng.choice("abcd"))
        )
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "state"])
    sums = (
        transition_matrix(df, "user_id", "state", ["ts", "event_id"])
        .groupBy("prev_state")
        .agg(F.sum("prob").alias("s"))
        .collect()
    )
    assert sums and all(abs(r["s"] - 1.0) < 1e-9 for r in sums)


def test_transition_never_crosses_users(spark):
    # user 1 ends in 'x'; user 2 starts with 'y' — no x->y transition
    df = spark.createDataFrame(
        [(1, _ts(0), 1, "a"), (2, _ts(1), 1, "x"), (3, _ts(2), 2, "y"), (4, _ts(3), 2, "z")],
        ["event_id", "ts", "user_id", "state"],
    )
    pairs = {
        (r["prev_state"], r["next_state"])
        for r in transition_matrix(df, "user_id", "state", ["ts", "event_id"]).collect()
    }
    assert pairs == {("a", "x"), ("y", "z")}


# --------------------------------------------------------------- burst hours
def test_burst_requires_double_trailing_average(spark):
    rows = []
    # user 1: hours 0..2 have 2 events each, hour 3 has 4 (avg 2 -> burst),
    # hour 4 has 3 (trailing avg (2+2+4)/3=8/3 -> 3*3=9 >= 2*8=16? no)
    for h, n in [(0, 2), (1, 2), (2, 2), (3, 4), (4, 3)]:
        rows += [(len(rows) + i, dt.datetime(2024, 1, 1, h, i), 1, "e") for i in range(n)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    r = burst_hours(df, "user_id", "ts").collect()[0]
    assert r["n_active_hours"] == 5
    assert r["n_burst_hours"] == 1  # only hour 3
    assert r["peak_hourly"] == 4
    assert r["total_events"] == 13


def test_burst_first_hour_never_bursts_and_gap_resets(spark):
    # one event at hour 0, then a gap > lookback, then a spike at hour 10:
    # hour 10's trailing 3-hour frame is empty -> not a burst
    rows = [(0, dt.datetime(2024, 1, 1, 0, 0), 1, "e")]
    rows += [(i + 1, dt.datetime(2024, 1, 1, 10, i), 1, "e") for i in range(5)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    r = burst_hours(df, "user_id", "ts").collect()[0]
    assert r["n_burst_hours"] == 0


def test_burst_exact_boundary_is_inclusive(spark):
    # trailing hour has 2 events; current hour has exactly 4 = 2x -> burst
    rows = [(i, dt.datetime(2024, 1, 1, 0, i), 1, "e") for i in range(2)]
    rows += [(10 + i, dt.datetime(2024, 1, 1, 1, i), 1, "e") for i in range(4)]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    r = burst_hours(df, "user_id", "ts").collect()[0]
    assert r["n_burst_hours"] == 1


# ------------------------------------------------------------ postings index
def test_postings_index_counts_and_cap(spark):
    df = spark.createDataFrame(
        [(i, "common word" if i % 2 else "common") for i in range(10)],
        ["doc_id", "text"],
    )
    out = {r["term"]: r for r in postings_index(df, min_df=2, max_postings=3).collect()}
    assert out["common"]["df"] == 10 and out["common"]["tf_total"] == 10
    # cap keeps the 3 LOWEST doc ids, sorted
    assert out["common"]["postings"] == "0,1,2"
    assert out["word"]["df"] == 5
    assert out["word"]["postings"] == "1,3,5"


def test_postings_index_min_df_filters(spark):
    df = spark.createDataFrame(
        [(1, "rare common"), (2, "common")], ["doc_id", "text"]
    )
    terms = {r["term"] for r in postings_index(df, min_df=2).collect()}
    assert terms == {"common"}


def test_postings_tf_counts_multiplicity(spark):
    df = spark.createDataFrame([(1, "x x x"), (2, "x")], ["doc_id", "text"])
    r = postings_index(df, min_df=1).collect()[0]
    assert r["df"] == 2 and r["tf_total"] == 4


# --------------------------------------------------------- autocorrelation
def test_lag1_autocorrelation_matches_statistics(spark):
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], ["g", "t", "v"]
    )
    row = lagged_autocorrelation(df, ["g"], "t", "v", lag=1).collect()[0]
    xs, ys = vals[1:], vals[:-1]
    expected = statistics.correlation(xs, ys)
    assert row["n"] == len(vals) - 1
    assert abs(row["corr_xy"] - expected) < 1e-6


def test_autocorrelation_perfect_linear_series(spark):
    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(20)], ["g", "t", "v"]
    )
    row = lagged_autocorrelation(df, ["g"], "t", "v", lag=1).collect()[0]
    assert abs(row["corr_xy"] - 1.0) < 1e-9


# ------------------------------------------------------------- MAD outliers
def test_mad_flags_the_planted_outlier(spark):
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 1000.0]
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], ["grp", "id", "v"]
    )
    row = mad_outliers(df, ["grp"], "v", ["id"], k=3.0).collect()[0]
    # median of [10..14, 1000] = 12.5; deviations [2.5,1.5,.5,.5,1.5,987.5]
    # -> MAD = 1.5; only 1000 exceeds 12.5 +/- 4.5
    assert row["median"] == 12.5
    assert row["mad"] == 1.5
    assert row["n_outliers"] == 1
    assert abs(row["outlier_frac"] - 1 / 6) < 1e-6  # rounded to 6 decimals


def test_mad_no_outliers_in_tight_cluster(spark):
    df = spark.createDataFrame(
        [("g", i, 100.0 + (i % 3)) for i in range(9)], ["grp", "id", "v"]
    )
    row = mad_outliers(df, ["grp"], "v", ["id"], k=3.0).collect()[0]
    assert row["n_outliers"] == 0


def test_mad_groups_are_independent(spark):
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(5)]
        + [("b", i, float(1000 + i)) for i in range(5)],
        ["grp", "id", "v"],
    )
    out = {r["grp"]: r for r in mad_outliers(df, ["grp"], "v", ["id"]).collect()}
    assert out["a"]["median"] == 2.0
    assert out["b"]["median"] == 1002.0
    assert out["a"]["n_outliers"] == out["b"]["n_outliers"] == 0


def test_mad_ranged_shape_equals_window_shape(spark):
    """The range-partitioned shape (bucket_width set) gives the same rows
    as the window shape, bit for bit: tied values, an odd-sized group
    (median = one value) and an even-sized group (median interpolated),
    under a fine and a coarse bucket width (many values per bucket)."""
    odd = [4.0, 4.0, 4.0, 7.5, 2.0, 4.0, 90.0]
    even = [1.25, 3.0, 3.0, 4.5, 8.0, 8.0, -40.0, 9.0]
    df = spark.createDataFrame(
        [("odd", i, v) for i, v in enumerate(odd)]
        + [("even", i, v) for i, v in enumerate(even)],
        ["grp", "id", "v"],
    )

    def rows(**kw):
        return sorted(tuple(r) for r in mad_outliers(df, ["grp"], "v", ["id"], **kw).collect())

    window = rows()
    assert rows(bucket_width=0.5) == window
    assert rows(bucket_width=100.0) == window
    by_grp = {r[0]: r for r in window}
    assert by_grp["odd"][1:5] == (7, 4.0, 0.0, 3)  # n_rows, median, MAD, outliers
    assert by_grp["even"][1:5] == (8, 3.75, 3.375, 1)


# ------------------------------------------------------------ session paths
def test_session_paths_counts_and_rank(spark):
    from aos_spark.ops.sequences import session_paths

    rows = []
    # 3 users, each one session "a>b"; 1 user with session "a>c"
    for u in range(3):
        rows += [(u * 10, dt.datetime(2024, 1, 1, 0, 0), u, "a"),
                 (u * 10 + 1, dt.datetime(2024, 1, 1, 0, 1), u, "b")]
    rows += [(100, dt.datetime(2024, 1, 1, 0, 0), 9, "a"),
             (101, dt.datetime(2024, 1, 1, 0, 1), 9, "c")]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {r["path"]: r for r in session_paths(
        df, "user_id", "ts", "event_type", "event_id").collect()}
    assert out["a>b"]["n_sessions"] == 3 and out["a>b"]["rank_in_group"] == 1
    assert out["a>c"]["n_sessions"] == 1 and out["a>c"]["rank_in_group"] == 2


def test_session_paths_gap_splits_and_max_len_caps(spark):
    from aos_spark.ops.sequences import session_paths

    rows = [(0, dt.datetime(2024, 1, 1, 0, 0), 1, "a"),
            (1, dt.datetime(2024, 1, 1, 0, 1), 1, "b"),
            # > 6h gap -> new session
            (2, dt.datetime(2024, 1, 1, 12, 0), 1, "c")]
    # a 7-event session, path capped at first 5
    rows += [(10 + i, dt.datetime(2024, 1, 2, 0, i), 2, s)
             for i, s in enumerate("abcdefg")]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    paths = {r["path"] for r in session_paths(
        df, "user_id", "ts", "event_type", "event_id", max_len=5).collect()}
    assert paths == {"a>b", "c", "a>b>c>d>e"}


# --------------------------------------------------------------- key skew
def test_key_skew_profile_exact_counts(spark):
    from aos_spark.ops.skew import key_distribution_profile

    # k: a,a,a,b  -> n_keys=2, max=3, selfjoin=9+1=10, eff=16/10=1.6
    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",)], ["k"]
    )
    r = key_distribution_profile(df, ["k"]).collect()[0]
    assert r["key_col"] == "k"
    assert r["n_keys"] == 2 and r["n_rows"] == 4 and r["max_count"] == 3
    assert r["selfjoin_rows"] == 10
    assert abs(r["eff_keys"] - 1.6) < 1e-9
    assert abs(r["top_share"] - 0.75) < 1e-9
    assert abs(r["skew_factor"] - 1.5) < 1e-9  # 3*2/4


def test_key_skew_uniform_vs_hot(spark):
    from aos_spark.ops.skew import key_distribution_profile

    uniform = spark.createDataFrame([(i % 10,) for i in range(100)], ["k"])
    hot = spark.createDataFrame([(0 if i < 91 else i,) for i in range(100)], ["k"])
    ru = key_distribution_profile(uniform, ["k"]).collect()[0]
    rh = key_distribution_profile(hot, ["k"]).collect()[0]
    assert abs(ru["eff_keys"] - 10.0) < 1e-9  # perfectly uniform
    assert rh["eff_keys"] < 1.3  # one key dominates
    assert rh["skew_factor"] > ru["skew_factor"]


# ------------------------------------------------------- empty-input safety
def test_r5b_ops_empty_inputs(spark):
    from aos_spark.ops.sequences import session_paths
    from aos_spark.ops.skew import key_distribution_profile

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    assert transition_matrix(ev, "user_id", "event_type", ["ts", "event_id"]).count() == 0
    assert burst_hours(ev, "user_id", "ts").count() == 0
    assert session_paths(ev, "user_id", "ts", "event_type", "event_id").count() == 0

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert postings_index(docs).count() == 0

    num = spark.createDataFrame([], "g string, id long, v double")
    assert lagged_autocorrelation(num, ["g"], "id", "v").count() == 0
    assert mad_outliers(num, ["g"], "v", ["id"]).count() == 0

    # skew profile on an empty frame: one row per column with zero counts
    rows = key_distribution_profile(
        spark.createDataFrame([], "k long"), ["k"]
    ).collect()
    assert len(rows) == 1 and rows[0]["n_keys"] == 0


def test_single_event_per_user_yields_no_transitions(spark):
    df = spark.createDataFrame(
        [(1, _ts(0), 1, "a"), (2, _ts(0), 2, "b")],
        ["event_id", "ts", "user_id", "state"],
    )
    assert transition_matrix(df, "user_id", "state", ["ts", "event_id"]).count() == 0


def test_grouped_linregress_recovers_known_line(spark):
    from aos_spark.ops.stats import grouped_linregress

    # y = 3x + 7 exactly; r must be 1
    df = spark.createDataFrame(
        [("g", float(i), 3.0 * i + 7.0) for i in range(50)], ["grp", "x", "y"]
    )
    row = grouped_linregress(df, ["grp"], "x", "y").collect()[0]
    assert abs(row["slope"] - 3.0) < 1e-6
    assert abs(row["intercept"] - 7.0) < 1e-4
    assert abs(row["r"] - 1.0) < 1e-6


def test_grouped_linregress_flat_series(spark):
    from aos_spark.ops.stats import grouped_linregress

    df = spark.createDataFrame(
        [("g", float(i), 5.0 + (1.0 if i % 2 else -1.0)) for i in range(40)],
        ["grp", "x", "y"],
    )
    row = grouped_linregress(df, ["grp"], "x", "y").collect()[0]
    assert abs(row["slope"]) < 0.01  # alternating noise, no trend
