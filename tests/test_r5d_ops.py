"""Round-5 fifth-wave operators: bigram novelty, two-step Markov
transitions, source-level MinHash, Benford digits, decimal EWMA,
type-token ratio, decorrelated above-average counting."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aos_spark.queries.dedup import q_source_minhash_similarity
from aos_spark.queries.relational import q_above_nation_avg_customers
from aos_spark.queries.stats import q_benford_first_digit, q_ewma_monthly_revenue
from aos_spark.queries.text import q_ngram_novelty_rate, q_type_token_ratio
from aos_spark.queries.windows import q_markov_two_step

SF = "/root/testdata/sf0.001"


# -------------------------------------------------------- ngram_novelty_rate
def test_novelty_rates_are_valid_fractions(spark):
    rows = q_ngram_novelty_rate(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["novelty_rate"] <= 1.0
        assert 0 < r["n_novel"] <= r["n_grams"]


def test_novelty_first_doc_grams_all_novel(spark, sf_dir):
    """Every bigram of the corpus-minimum doc_id is by construction first
    seen there, so that doc contributes only novel grams; its source's
    novel count must be >= that doc's distinct-bigram count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    first = docs.orderBy("doc_id").first()
    toks = [
        t
        for t in __import__("re").split(r"[^a-z0-9]+", first["text"].lower())
        if t
    ]
    n_bigrams = len(
        {" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)}
    ) if len(toks) >= 2 else 1
    out = {
        r["source"]: r for r in q_ngram_novelty_rate(spark, SF).collect()
    }
    assert out[first["source"]]["n_novel"] >= n_bigrams


# ----------------------------------------------------------- markov_two_step
def test_markov_two_step_probs_sum_to_one_per_from_type(spark):
    rows = q_markov_two_step(spark, SF).collect()
    assert rows
    by_from: dict = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    for from_type, grp in by_from.items():
        total = sum(r["n_paths"] for r in grp)
        assert total == grp[0]["n_from"] if "n_from" in grp[0] else True
        assert math.isclose(
            sum(r["prob"] for r in grp), 1.0, abs_tol=1e-4
        ), from_type


def test_markov_two_step_counts_match_manual_lead2(spark, sf_dir):
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .orderBy("user_id", "ts", "event_id")
        .collect()
    )
    manual: dict = {}
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r["event_type"])
    for seq in by_user.values():
        for a, c in zip(seq, seq[2:]):
            manual[(a, c)] = manual.get((a, c), 0) + 1
    got = {
        (r["from_type"], r["to_type"]): r["n_paths"]
        for r in q_markov_two_step(spark, SF).collect()
    }
    assert got == manual


# -------------------------------------------- source_minhash_similarity
def test_source_minhash_pairs_cover_all_source_pairs(spark, sf_dir):
    n_sources = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source")
        .distinct()
        .count()
    )
    rows = q_source_minhash_similarity(spark, SF).collect()
    assert len(rows) == n_sources * (n_sources - 1) // 2
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["n_match"] <= 16
        assert math.isclose(r["est_jaccard"], r["n_match"] / 16, abs_tol=1e-6)


def test_source_minhash_identical_corpora_match_all_slots(spark, tmp_path):
    """Two sources with the same shingle set share every signature slot."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "src_x", 30),
            (2, "alpha beta gamma delta epsilon", "en", "src_y", 30),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    p = str(tmp_path / "mini")
    df.write.parquet(f"{p}/documents.parquet")
    rows = q_source_minhash_similarity(spark, p).collect()
    assert len(rows) == 1
    assert rows[0]["n_match"] == 16
    assert rows[0]["est_jaccard"] == 1.0


# ------------------------------------------------------- benford_first_digit
def test_benford_digits_partition_the_orders(spark, sf_dir):
    rows = q_benford_first_digit(spark, SF).collect()
    digits = {r["digit"] for r in rows}
    assert digits <= set("123456789")
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    assert math.isclose(sum(r["share"] for r in rows), 1.0, abs_tol=1e-4)


# ------------------------------------------------------ ewma_monthly_revenue
def test_ewma_lies_between_min_and_max_of_window(spark, sf_dir):
    """A convex combination of the last five monthly revenues stays inside
    their range; recompute the window by hand for one nation."""
    out = {r["nation"]: r for r in q_ewma_monthly_revenue(spark, SF).collect()}
    assert out
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.sum("o_totalprice").alias("rev"))
        .collect()
    )
    by_nation: dict = {}
    for r in monthly:
        by_nation.setdefault(r["n_name"], []).append((r["m"], r["rev"]))
    for nation, r_out in out.items():
        months = sorted(by_nation[nation])[-5:]
        assert len(months) == 5
        vals = [v for _, v in months]
        assert min(vals) - 1e-6 <= r_out["ewma_revenue"] <= max(vals) + 1e-6
        # weights are 16..1 most-recent-first
        expect = (
            16 * vals[4] + 8 * vals[3] + 4 * vals[2] + 2 * vals[1] + vals[0]
        ) / 31
        assert math.isclose(r_out["ewma_revenue"], expect, rel_tol=1e-9)
        assert r_out["latest_month"] == months[-1][0]


# ---------------------------------------------------------- type_token_ratio
def test_ttr_bounded_and_counts_consistent(spark):
    rows = q_type_token_ratio(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_distinct_tokens"] <= r["n_tokens"]
        assert 0.0 < r["type_token_ratio"] <= 1.0


# ------------------------------------------- above_nation_avg_customers
def test_above_nation_avg_matches_manual_count(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    n = {
        r["n_nationkey"]: r["n_name"]
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    }
    per_cust: dict = {}
    for r in o:
        per_cust[r["o_custkey"]] = per_cust.get(r["o_custkey"], 0) + 1
    by_nation: dict = {}
    for r in c:
        by_nation.setdefault(n[r["c_nationkey"]], []).append(
            per_cust.get(r["c_custkey"], 0)
        )
    got = {
        r["nation"]: r for r in q_above_nation_avg_customers(spark, SF).collect()
    }
    assert set(got) == {k for k, v in by_nation.items()}
    for nation, counts in by_nation.items():
        n_cust, tot = len(counts), sum(counts)
        expect = sum(1 for x in counts if x * n_cust > 2 * tot)
        r = got[nation]
        assert r["n_customers"] == n_cust
        assert r["total_orders"] == tot
        assert r["n_above"] == expect
