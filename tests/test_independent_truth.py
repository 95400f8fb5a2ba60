"""Independent-truth checks: numpy/pandas replicas vs the Spark queries.

The DuckDB oracle gate proves Spark and the hand-written SQL agree — but
both sides were written together, so a SEMANTIC bug present in both
(a wrong formula, an off-by-one trim bound, a flipped convention) passes
the gate silently. This layer closes that blind spot for the statistics
family: each test recomputes the query's documented definition from
FIRST PRINCIPLES in numpy/pandas — different algorithms where the
definition allows one (Gini via the mean-absolute-difference identity
instead of the rank formula; correlation via numpy's centered two-pass
instead of raw moment sums; KS via vectorized CDF difference) — and
compares against the collected Spark output at sf0.001.

Tolerances: Spark outputs are rounded to 6 dp and computed through
exact-decimal paths; the replicas run float64 with different op orders,
so comparisons use isclose(rel 1e-6, abs 2e-6) — far above both paths'
error, far below any semantic difference these formulas can produce.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from aos_spark.queries import QUERIES


def _close(a, b, rel=1e-6, abs_=2e-6):
    assert math.isclose(a, b, rel_tol=rel, abs_tol=abs_), (a, b)


@pytest.fixture(scope="module")
def pdt(sf_dir):
    """sf0.001 tables as pandas frames (tiny: lineitem ~6k rows)."""
    tables = {}
    for t in ("lineitem", "orders", "customer", "nation", "documents",
              "events"):
        tables[t] = pd.read_parquet(f"{sf_dir}/{t}.parquet")
    return tables


def _rows(spark, sf_dir, name):
    return {  # keyed by first column
        r[0]: r.asDict() for r in QUERIES[name](spark, sf_dir).collect()
    }


def test_stats_correlation_matches_numpy(spark, sf_dir, pdt):
    """pandas corr/cov/std (centered two-pass, ddof=1) vs the raw decimal
    moment path — completely different algorithms for the same
    definition."""
    got = _rows(spark, sf_dir, "stats_correlation")
    for flag, g in pdt["lineitem"].groupby("l_returnflag"):
        x, y = g["l_quantity"].astype(float), g["l_extendedprice"].astype(float)
        r = got[flag]
        assert r["n"] == len(g)
        _close(r["covar_xy"], x.cov(y), rel=1e-6)
        _close(r["stddev_x"], x.std(ddof=1), rel=1e-6)
        _close(r["stddev_y"], y.std(ddof=1), rel=1e-6)
        _close(r["corr_xy"], x.corr(y), rel=1e-6)


def test_percentile_cont_matches_numpy_linear(spark, sf_dir, pdt):
    """np.percentile(method='linear') IS the PERCENTILE_CONT definition
    the query documents."""
    import numpy as np

    got = _rows(spark, sf_dir, "percentile_cont_interp")
    for flag, g in pdt["lineitem"].groupby("l_returnflag"):
        v = np.sort(g["l_quantity"].astype(float).to_numpy())
        r = got[flag]
        assert r["n_items"] == len(v)
        _close(r["p50"], float(np.percentile(v, 50)), rel=1e-9)
        _close(r["p90"], float(np.percentile(v, 90)), rel=1e-9)


def test_gini_matches_mean_absolute_difference(spark, sf_dir, pdt):
    """Gini via the MAD identity G = Σᵢⱼ|xᵢ−xⱼ| / (2n²µ) — an O(n²)
    formula sharing NOTHING with the rank-moment implementation."""
    import numpy as np

    got = _rows(spark, sf_dir, "gini_revenue_by_nation")
    rev = (
        pdt["orders"].groupby("o_custkey")["o_totalprice"].sum().round(2)
    ).rename("rev").reset_index()
    cust = pdt["customer"].merge(
        pdt["nation"], left_on="c_nationkey", right_on="n_nationkey"
    )[["c_custkey", "n_name"]]
    rev = rev.merge(cust, left_on="o_custkey", right_on="c_custkey")
    for nation, g in rev.groupby("n_name"):
        x = g["rev"].astype(float).to_numpy()
        n, mu = len(x), x.mean()
        gini = float(np.abs(x[:, None] - x[None, :]).sum()) / (2 * n * n * mu)
        r = got[nation]
        assert r["n_customers"] == n
        _close(r["total_rev"], float(x.sum()), rel=1e-9)
        _close(r["gini"], gini, rel=1e-5)


def test_simpson_diversity_matches_definition(spark, sf_dir, pdt):
    got = _rows(spark, sf_dir, "simpson_diversity_by_source")
    for source, g in pdt["documents"].groupby("source"):
        p = g["lang"].value_counts(normalize=True).to_numpy()
        r = got[source]
        assert r["n_docs"] == len(g)
        assert r["n_langs"] == g["lang"].nunique()
        _close(r["simpson_diversity"], 1.0 - float((p * p).sum()), rel=1e-6)


def test_zscore_outliers_matches_numpy(spark, sf_dir, pdt):
    """Population σ from numpy's centered pass vs the query's raw-moment
    σ; outlier rule |x−µ| > 3σ recounted directly."""
    import numpy as np

    got = _rows(spark, sf_dir, "zscore_outliers")
    ev = pdt["events"][pdt["events"]["value"].notna()]
    for et, g in ev.groupby("event_type"):
        v = g["value"].astype(float).to_numpy()
        mu, sigma = v.mean(), v.std(ddof=0)
        r = got[et]
        assert r["n"] == len(v)
        _close(r["mean_value"], mu, rel=1e-6)
        _close(r["stddev_value"], sigma, rel=1e-6)
        assert r["n_outliers"] == int((np.abs(v - mu) > 3.0 * sigma).sum())


def test_trimmed_mean_matches_replica(spark, sf_dir, pdt):
    """Documented convention: drop floor(0.05·n) from each end of the
    (value, orderkey) order, average the rest."""
    got = _rows(spark, sf_dir, "trimmed_mean_prices")
    o = pdt["orders"]
    for pri, g in o.groupby("o_orderpriority"):
        s = g.sort_values(["o_totalprice", "o_orderkey"])
        cut = int(len(s) * 0.05)
        kept = s["o_totalprice"].astype(float).to_numpy()[cut: len(s) - cut]
        r = got[pri]
        assert r["n_rows"] == len(s) and r["n_kept"] == len(kept)
        _close(r["trimmed_mean"], round(float(kept.sum()), 2) / len(kept),
               rel=1e-9)


def test_winsorized_mean_matches_replica(spark, sf_dir, pdt):
    """Documented convention: clamp at the values ranked
    max(ceil(n·5/100), 1) from each end, then average."""
    import numpy as np

    got = _rows(spark, sf_dir, "winsorized_mean_prices")
    li = pdt["lineitem"]
    for flag, g in li.groupby("l_returnflag"):
        s = g.sort_values(["l_extendedprice", "l_orderkey", "l_linenumber"])
        v = s["l_extendedprice"].astype(float).round(2).to_numpy()
        n = len(v)
        lo_rk = max(math.ceil(n * 5 / 100), 1)
        p_lo, p_hi = v[lo_rk - 1], v[n - lo_rk]
        w = np.clip(v, p_lo, p_hi)
        r = got[flag]
        assert r["n"] == n
        _close(r["lo_bound"], p_lo, rel=1e-9)
        _close(r["hi_bound"], p_hi, rel=1e-9)
        _close(r["winsorized_mean"], round(float(w.sum()), 2) / n, rel=1e-8)


def test_mad_outliers_matches_numpy(spark, sf_dir, pdt):
    """Median and MAD via np.median (interpolated, the documented
    convention); the outlier rule dev > 1.5·MAD recounted directly."""
    import numpy as np

    got = _rows(spark, sf_dir, "mad_outlier_bounds")
    for pri, g in pdt["orders"].groupby("o_orderpriority"):
        v = g["o_totalprice"].astype(float).to_numpy()
        med = float(np.median(v))
        dev = np.abs(v - med)
        mad = float(np.median(dev))
        r = got[pri]
        assert r["n_rows"] == len(v)
        _close(r["median"], med, rel=1e-9)
        _close(r["mad"], mad, rel=1e-9)
        assert r["n_outliers"] == int((dev > 1.5 * mad).sum())


def test_ks_length_drift_matches_direct_cdf(spark, sf_dir, pdt):
    """Two-sample KS via vectorized empirical CDFs over the union of
    observed values — the textbook definition, no histogram reuse."""
    import numpy as np

    row = QUERIES["ks_length_drift"](spark, sf_dir).collect()[0].asDict()
    d = pdt["documents"]
    a = np.sort(d.loc[d["lang"] == "en", "n_chars"].to_numpy())
    b = np.sort(d.loc[d["lang"] == "zh", "n_chars"].to_numpy())
    grid = np.union1d(a, b)
    fa = np.searchsorted(a, grid, side="right") / len(a)
    fb = np.searchsorted(b, grid, side="right") / len(b)
    dgap = np.abs(fa - fb)
    ks = float(dgap.max())
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    _close(row["ks_stat"], ks, rel=1e-9)
    # argmax value, smallest on ties — the documented tie rule
    assert row["ks_at"] == int(grid[int(np.argmax(dgap))])


def test_q1_pricing_matches_pandas(spark, sf_dir, pdt):
    """TPC-H Q1 recomputed with pandas groupby — sums, averages, counts."""
    got = {}
    for r in QUERIES["q1_pricing_summary"](spark, sf_dir).collect():
        got[(r["l_returnflag"], r["l_linestatus"])] = r.asDict()
    li = pdt["lineitem"]
    li = li[li["l_shipdate"] <= pd.Timestamp("1998-09-02")]
    for key, g in li.groupby(["l_returnflag", "l_linestatus"]):
        r = got[key]
        q = g["l_quantity"].astype(float)
        p = g["l_extendedprice"].astype(float)
        disc = g["l_discount"].astype(float)
        tax = g["l_tax"].astype(float)
        assert r["count_order"] == len(g)
        _close(r["sum_qty"], float(q.sum()), rel=1e-9)
        _close(r["sum_base_price"], round(float(p.sum()), 2), rel=1e-9)
        _close(r["sum_disc_price"], float((p * (1 - disc)).sum()), rel=1e-6)
        _close(r["sum_charge"], float((p * (1 - disc) * (1 + tax)).sum()),
               rel=1e-6)
        _close(r["avg_qty"], float(q.mean()), rel=1e-5)
        _close(r["avg_price"], float(p.mean()), rel=1e-5)


# ---------------------------------------------------------------------------
# Wave 2: dedup and similarity families


def _py_shingles(text: str, n: int = 3) -> frozenset:
    """The documented shingle definition, reimplemented from scratch:
    lowercase, split on non-alnum runs, distinct word n-grams; short docs
    collapse to one whole-token-list shingle."""
    import re

    toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
    if len(toks) >= n:
        return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))
    return frozenset([" ".join(toks)])


def _round_half_up_micro(num: int, den: int) -> int:
    """round-half-up(num/den · 10^6) in pure Python ints — the engine-exact
    rounding convention the jaccard output documents."""
    return (2 * num * 1_000_000 + den) // (2 * den)


@pytest.fixture(scope="module")
def py_jaccard_pairs(pdt):
    """Brute-force all-pairs 3-gram Jaccard over the sf0.001 corpus."""
    docs = pdt["documents"][["doc_id", "text"]].values.tolist()
    if len(docs) > 1500:  # O(N²) replica — skip under AOS_TEST_SF_DIR overrides
        pytest.skip(f"brute-force pair replica is quadratic; corpus {len(docs)}")
    sh = {i: _py_shingles(t) for i, t in docs}
    ids = sorted(sh)
    pairs = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            union = len(sh[a] | sh[b])
            micro = _round_half_up_micro(inter, union)
            if micro >= 350_000:  # rounded jaccard >= 0.35, the query's filter
                pairs[(a, b)] = micro / 1e6
    return pairs


def test_ngram_jaccard_pairs_match_bruteforce(spark, sf_dir, py_jaccard_pairs):
    """The capped candidate-generated pair set must equal the O(N²)
    brute-force set (the df cap is inactive at this corpus size), with
    identical rounded jaccard values."""
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    assert got == py_jaccard_pairs


def test_dup_clusters_match_union_find(spark, sf_dir, py_jaccard_pairs):
    """Connected components via a from-scratch union-find over the
    brute-force pairs; cluster id = smallest member id."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in py_jaccard_pairs:
        parent[find(a)] = find(b)
    comp: dict = {}
    for node in list(parent):
        comp.setdefault(find(node), []).append(node)
    expect = {}
    for members in comp.values():
        lo = min(members)
        for m in members:
            expect[m] = lo
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in QUERIES["dedup_clusters"](spark, sf_dir).collect()
    }
    assert got == expect


def test_sim_bruteforce_topk_matches_numpy(spark, sf_dir, pdt):
    """Exact cosine top-10 recomputed with numpy: every returned
    neighbor's cosine must match numpy's for that pair, and no better
    neighbor may be missing (rank-flip tolerance only inside float
    tie bands)."""
    import numpy as np

    emb = pdt["embeddings"] if "embeddings" in pdt else pd.read_parquet(
        f"{sf_dir}/embeddings.parquet"
    )
    ids = emb["vec_id"].to_numpy()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    m_n = m / np.linalg.norm(m, axis=1, keepdims=True)
    by_query: dict = {}
    for r in QUERIES["sim_bruteforce_topk"](spark, sf_dir).collect():
        by_query.setdefault(r["query_id"], []).append(r)
    assert sorted(by_query) == [i for i in sorted(ids) if i < 5]
    idx_of = {v: i for i, v in enumerate(ids)}
    for qid, rows in by_query.items():
        cos = m_n @ m_n[idx_of[qid]]
        cos[idx_of[qid]] = -np.inf  # self-match excluded
        assert len(rows) == 10
        for r in rows:
            _close(r["cosine"], float(cos[idx_of[r["neighbor_id"]]]),
                   rel=1e-6, abs_=1e-6)
        kth = np.sort(cos)[-10]
        assert min(r["cosine"] for r in rows) >= kth - 1e-6


# ---------------------------------------------------------------------------
# Wave 3: window recurrences and graph algorithms


def test_rolling_spend_matches_pandas(spark, sf_dir, pdt):
    """ROWS BETWEEN 3 PRECEDING AND CURRENT ROW vs pandas rolling(4,
    min_periods=1) over the same (date, orderkey) order."""
    got = {
        r["o_orderkey"]: r.asDict()
        for r in QUERIES["rolling_customer_spend"](spark, sf_dir).collect()
    }
    o = pdt["orders"].sort_values(["o_custkey", "o_orderdate", "o_orderkey"])
    for _, g in o.groupby("o_custkey"):
        spend = g["o_totalprice"].astype(float).round(2)
        roll = spend.rolling(4, min_periods=1).sum().to_numpy()
        cnt = spend.rolling(4, min_periods=1).count().to_numpy()
        for seq, (okey, rs, n) in enumerate(
            zip(g["o_orderkey"], roll, cnt), start=1
        ):
            r = got[okey]
            assert r["order_seq"] == seq
            assert r["window_n"] == int(n)
            _close(r["rolling_spend_4"], float(rs), rel=1e-9)


def test_cumulative_distinct_users_matches_pandas(spark, sf_dir, pdt):
    """Running count of first-seen users per type/day vs a direct pandas
    cumulative nunique."""
    got = {
        (r["event_type"], str(r["day"])): r.asDict()
        for r in QUERIES["cumulative_distinct_users"](spark, sf_dir).collect()
    }
    ev = pdt["events"].assign(day=pd.to_datetime(pdt["events"]["ts"]).dt.date)
    for et, g in ev.groupby("event_type"):
        first = g.groupby("user_id")["day"].min()
        per_day = first.value_counts().sort_index()
        cum = per_day.cumsum()
        assert len(per_day) == sum(1 for k in got if k[0] == et)
        for day, new in per_day.items():
            r = got[(et, str(day))]
            assert r["new_users"] == int(new)
            assert r["cum_users"] == int(cum[day])


def test_ewma_monthly_revenue_matches_pandas(spark, sf_dir, pdt):
    """Truncated binary-weight EWMA over the last five observed months,
    recomputed from a pandas monthly rollup."""
    got = _rows(spark, sf_dir, "ewma_monthly_revenue")
    o = pdt["orders"].merge(
        pdt["customer"], left_on="o_custkey", right_on="c_custkey"
    ).merge(pdt["nation"], left_on="c_nationkey", right_on="n_nationkey")
    o = o.assign(month=pd.to_datetime(o["o_orderdate"]).dt.to_period("M"))
    monthly = (
        o.groupby(["n_name", "month"])["o_totalprice"]
        .apply(lambda s: float(s.astype(float).round(2).sum()))
        .reset_index(name="rev")
    )
    for nation, g in monthly.groupby("n_name"):
        g = g.sort_values("month")
        if len(g) < 5:
            assert nation not in got
            continue
        last5 = g["rev"].to_numpy()[-5:]
        ewma = (
            last5[4] * 16 + last5[3] * 8 + last5[2] * 4 + last5[1] * 2 + last5[0]
        ) / 31
        r = got[nation]
        assert str(r["latest_month"])[:7] == str(g["month"].iloc[-1])
        _close(r["latest_revenue"], last5[4], rel=1e-9)
        _close(r["ewma_revenue"], ewma, rel=1e-7)


def test_triangle_count_matches_adjacency_sets(spark, sf_dir):
    """The wedge-join triangle counter vs a from-scratch adjacency-set
    count over the SAME edge list (the edge generator is verified
    elsewhere; this isolates the counting algorithm)."""
    from aos_spark.llm import dedup as D
    from aos_spark.io.readers import read_sf_table

    e = read_sf_table(spark, sf_dir, "embeddings")
    pairs = [
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dups(e, threshold=0.2, n_planes=4).collect()
    ]
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # count each triangle once: for every edge (a, b), common neighbors
    # ABOVE b in sort order close a triangle exactly once
    tri = 0
    for a, b in pairs:
        lo, hi = (a, b) if a < b else (b, a)
        tri += sum(1 for c in adj[lo] & adj[hi] if c > hi)
    got = QUERIES["graph_triangle_count"](spark, sf_dir).collect()[0]
    assert got["n_triangles"] == tri


def test_pagerank_step_matches_python(spark, sf_dir, pdt):
    """One power iteration recomputed with dicts and exact integer
    micro-units over the same bidirectional buyer-supplier graph."""
    o = pdt["orders"][["o_orderkey", "o_custkey"]]
    li = pdt["lineitem"][["l_orderkey", "l_suppkey"]]
    j = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    cs = {
        ("c" + str(c), "s" + str(s))
        for c, s in zip(j["o_custkey"], j["l_suppkey"])
    }
    edges = list(cs) + [(b, a) for a, b in cs]
    outdeg: dict = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    import math as _m

    contrib = {s: int(_m.floor(1e12 / d + 0.5)) for s, d in outdeg.items()}
    in_edges: dict = {}
    acc: dict = {}
    for s, d in edges:
        in_edges[d] = in_edges.get(d, 0) + 1
        acc[d] = acc.get(d, 0) + contrib[s]
    got = _rows(spark, sf_dir, "graph_pagerank_step")
    assert set(got) == set(outdeg)
    for node, r in got.items():
        assert r["out_degree"] == outdeg[node]
        assert r["in_edges"] == in_edges.get(node, 0)
        rank = (1.0 - 0.85) + 0.85 * (acc.get(node, 0) / 1e12)
        _close(r["rank"], rank, rel=1e-6)


# ---------------------------------------------------------------------------
# Wave 4: the storm-domain tier (probability, CCI, the flagship)


def _py_cci_per_zone(pdt):
    """W3+W4 from first principles: per (zone, threshold) max exposure,
    bands by differencing against the next-higher threshold (highest band
    = the value itself), CCI = Σ band · threshold² · 1e-6."""
    li = pdt["lineitem"]
    long_df = (
        li.groupby(["l_orderkey", "l_linenumber"])["l_quantity"]
        .max()
        .reset_index()
    )
    cci = {}
    for zone, g in long_df.groupby("l_orderkey"):
        g = g.sort_values("l_linenumber")
        x = g["l_quantity"].astype(float).to_numpy()
        th = g["l_linenumber"].astype(float).to_numpy()
        total = 0.0
        for i in range(len(x)):
            band = x[i] - (x[i + 1] if i + 1 < len(x) else 0.0)
            total += band * th[i] * th[i] * 1e-6
        cci[zone] = total
    return cci


def test_cci_bands_match_replica(spark, sf_dir, pdt):
    got = _rows(spark, sf_dir, "w3_w4_cci")
    expect = _py_cci_per_zone(pdt)
    assert set(got) == set(expect)
    for zone, r in got.items():
        _close(r["cci_exposure"], expect[zone], rel=1e-6, abs_=1e-5)


def test_cci_admin_rollup_matches_replica(spark, sf_dir, pdt):
    got = _rows(spark, sf_dir, "a13_cci_admin_rollup")
    per_zone = _py_cci_per_zone(pdt)
    admin: dict = {}
    for zone, v in per_zone.items():
        admin[zone % 10] = admin.get(zone % 10, 0.0) + round(v, 6)
    assert set(got) == set(admin)
    for a, r in got.items():
        _close(r["admin_cci"], admin[a], rel=1e-6, abs_=1e-5)


def test_probability_expected_matches_replica(spark, sf_dir, pdt):
    """A1+A2: probability = |distinct member types| / ensemble(8);
    expected impact = total value · probability."""
    got = _rows(spark, sf_dir, "a1_a2_probability_expected")
    ev = pdt["events"]
    types = ev.groupby("user_id")["event_type"].nunique()
    totals = ev.groupby("user_id")["value"].apply(
        lambda s: float(s.dropna().astype(float).round(2).sum())
    )
    assert set(got) == set(totals.index)
    for uid, r in got.items():
        p = types.get(uid, 0) / 8.0
        _close(r["probability"], p, rel=1e-12)
        _close(r["E_total_value"], totals[uid] * p, rel=1e-6, abs_=1e-5)


def test_flagship_matches_replica(spark, sf_dir, pdt):
    """The flagship end-to-end: 40-day recency filter → per-user ensemble
    probability × exposure → admin rollup → top-5."""
    import datetime

    rows = QUERIES["flagship_storm_impact"](spark, sf_dir).collect()
    ev = pdt["events"]
    cutoff = datetime.date(2024, 2, 15)
    days = (cutoff - pd.to_datetime(ev["ts"]).dt.date).map(lambda d: d.days)
    ev = ev[days < 40]
    types = ev.groupby("user_id")["event_type"].nunique()
    totals = ev.groupby("user_id")["value"].apply(
        lambda s: float(s.dropna().astype(float).round(2).sum())
    )
    admin: dict = {}
    for uid, total in totals.items():
        e = round(total * (types[uid] / 8.0), 6)
        admin[uid % 10] = admin.get(uid % 10, 0.0) + e
    top = sorted(admin.items(), key=lambda kv: (-round(kv[1], 4), kv[0]))[:5]
    assert len(rows) == 5
    for r, (aid, e) in zip(sorted(rows, key=lambda r: r["rank_in_group"]), top):
        assert r["admin_id"] == aid
        _close(r["E_exposure"], round(e, 4), rel=1e-6, abs_=1e-3)


# ---------------------------------------------------------------------------
# Wave 5: interval algebra, funnels, cohorts, association rules


def test_interval_union_coverage_matches_sweep_line(spark, sf_dir, pdt):
    """Merge-overlapping-intervals recomputed with a classic sweep line
    over sorted (start, end) pairs."""
    got = _rows(spark, sf_dir, "interval_union_coverage")
    # .timestamp() is unit-independent — astype(int64) is NOT (parquet
    # loads as datetime64[us] here, which made //1e9 a 1000x error)
    ev = pdt["events"].assign(
        s=pd.to_datetime(pdt["events"]["ts"]).map(
            lambda t: int(t.replace(tzinfo=None).timestamp())
            if t.tzinfo is None
            else int(t.timestamp())
        )
    )
    for uid, g in ev.groupby("user_id"):
        ivs = sorted((int(s), int(s) + 3600) for s in g["s"])
        islands = []  # [start, end, n]
        for s, e in ivs:
            if islands and s <= islands[-1][1]:  # touching unions too
                islands[-1][1] = max(islands[-1][1], e)
                islands[-1][2] += 1
            else:
                islands.append([s, e, 1])
        r = got[uid]
        assert r["n_islands"] == len(islands)
        assert r["covered_seconds"] == sum(e - s for s, e, _ in islands)
        assert r["max_island_events"] == max(n for _, _, n in islands)


def test_funnel_conversion_matches_sequential_scan(spark, sf_dir, pdt):
    """Ordered view→click→purchase funnel replayed as a per-user
    sequential flag scan."""
    row = QUERIES["funnel_conversion"](spark, sf_dir).collect()[0]
    ev = pdt["events"].sort_values(["user_id", "ts", "event_id"])
    u1 = u2 = u3 = 0
    for _, g in ev.groupby("user_id"):
        v = c = p = False
        for et in g["event_type"]:
            if et == "view":
                v = True
            elif et == "click" and v:
                c = True
            elif et == "purchase" and c:
                p = True
        u1 += v
        u2 += c
        u3 += p
    assert (row["users_view"], row["users_click_after_view"],
            row["users_purchase_after_click"]) == (u1, u2, u3)


def test_cohort_retention_matches_pandas(spark, sf_dir, pdt):
    got = {
        (str(r["cohort_day"]), r["days_since"]): r["n_users"]
        for r in QUERIES["cohort_retention"](spark, sf_dir).collect()
    }
    ev = pdt["events"].assign(day=pd.to_datetime(pdt["events"]["ts"]).dt.date)
    ev = ev[["user_id", "day"]].drop_duplicates()
    first = ev.groupby("user_id")["day"].min().rename("cohort")
    j = ev.merge(first, on="user_id")
    expect: dict = {}
    for _, r in j.iterrows():
        key = (str(r["cohort"]), (r["day"] - r["cohort"]).days)
        expect[key] = expect.get(key, 0) + 1
    assert got == expect


def test_assoc_rules_match_dict_counting(spark, sf_dir, pdt):
    """Support/confidence/lift recomputed by plain dict counting over
    distinct (basket, brand) pairs, with the documented integer
    support cut and half-up micro rounding."""
    import itertools

    got = {
        (r["antecedent"], r["consequent"]): r.asDict()
        for r in QUERIES["assoc_rules_brands"](spark, sf_dir).collect()
    }
    li = pdt["lineitem"][["l_orderkey", "l_partkey"]]
    part = pd.read_parquet(f"{sf_dir}/part.parquet")[["p_partkey", "p_brand"]]
    ob = (
        li.merge(part, left_on="l_partkey", right_on="p_partkey")[
            ["l_orderkey", "p_brand"]
        ].drop_duplicates()
    )
    n_baskets = ob["l_orderkey"].nunique()
    item_n = ob["p_brand"].value_counts().to_dict()
    pair_n: dict = {}
    for _, basket in ob.groupby("l_orderkey")["p_brand"]:
        for a, b in itertools.combinations(sorted(basket), 2):
            pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    expect = {}
    for (a, b), pn in pair_n.items():
        if pn * 100 < n_baskets:  # min support 1%
            continue
        for ant, con in ((a, b), (b, a)):
            expect[(ant, con)] = {
                "pair_n": pn,
                "ant_n": item_n[ant],
                "con_n": item_n[con],
                "support": _round_half_up_micro(pn, n_baskets) / 1e6,
                "confidence": _round_half_up_micro(pn, item_n[ant]) / 1e6,
                "lift": _round_half_up_micro(
                    pn * n_baskets, item_n[ant] * item_n[con]
                ) / 1e6,
            }
    assert set(got) == set(expect)
    for key, e in expect.items():
        r = got[key]
        for f, v in e.items():
            assert r[f] == v or math.isclose(r[f], v, rel_tol=0, abs_tol=0), (
                key, f, r[f], v
            )


# ---------------------------------------------------------------------------
# Wave 6: slowly-changing dimensions, CDC, incremental maintenance


def test_scd2_history_matches_dict_replica(spark, sf_dir, pdt):
    """SCD2 apply recomputed with plain dicts: unchanged rows stay open,
    changed rows close + reopen at the effective date, missing rows close."""
    import datetime

    got = {}
    for r in QUERIES["scd2_dimension_history"](spark, sf_dir).collect():
        got.setdefault(r["c_custkey"], []).append(
            (r["c_mktsegment"], str(r["valid_from"]), str(r["valid_to"]))
        )
    c = pdt["customer"][["c_custkey", "c_mktsegment"]]
    snap = {
        k: ("MOVED" if k % 7 == 0 else seg)
        for k, seg in zip(c["c_custkey"], c["c_mktsegment"])
        if k % 13 != 0
    }
    eff = "2000-01-01"
    expect: dict = {}
    for k, seg in zip(c["c_custkey"], c["c_mktsegment"]):
        rows = expect.setdefault(k, [])
        if k not in snap:  # deleted → close
            rows.append((seg, "1995-01-01", eff))
        elif snap[k] == seg:  # unchanged → stays open
            rows.append((seg, "1995-01-01", "None"))
        else:  # changed → close + reopen
            rows.append((seg, "1995-01-01", eff))
            rows.append((snap[k], eff, "None"))
    assert set(got) == set(expect)
    for k in expect:
        assert sorted(got[k]) == sorted(expect[k]), k


def test_cdc_snapshot_diff_matches_dict_replica(spark, sf_dir, pdt):
    """Insert/update/delete feed recounted from two dict snapshots."""
    got = _rows(spark, sf_dir, "cdc_snapshot_diff")
    o = pdt["orders"][["o_orderkey", "o_custkey", "o_totalprice"]]
    old = {
        k: (c, float(p))
        for k, c, p in zip(o["o_orderkey"], o["o_custkey"], o["o_totalprice"])
    }
    new = {
        k: (c, float(p) + 1.0 if c % 101 == 0 else float(p))
        for k, (c, p) in old.items()
        if k % 997 != 0
    }
    counts = {"update": [0, 0], "delete": [0, 0], "insert": [0, 0]}
    for k, v in old.items():
        if k not in new:
            counts["delete"][0] += 1
            counts["delete"][1] += k
        elif new[k] != v:
            counts["update"][0] += 1
            counts["update"][1] += k
    for k in new:
        if k not in old:
            counts["insert"][0] += 1
            counts["insert"][1] += k
    expect = {op: c for op, c in counts.items() if c[0]}
    assert set(got) == set(expect)
    for op, (n, ck) in expect.items():
        assert got[op]["n_rows"] == n and got[op]["key_checksum"] == ck


def test_incremental_agg_equals_single_pass(spark, sf_dir, pdt):
    """Two-batch state merge + finalize vs a plain single-pass pandas
    aggregate — the incremental-maintenance identity from first
    principles (count / sum / mean per return flag)."""
    out = {r[0]: r.asDict() for r in
           QUERIES["incremental_agg_merge"](spark, sf_dir).collect()}
    li = pdt["lineitem"]
    for flag, g in li.groupby("l_returnflag"):
        v = g["l_extendedprice"].astype(float).round(2)
        r = out[flag]
        assert r["n"] == len(v)
        _close(r["total"], round(float(v.sum()), 4), rel=1e-9)
        _close(r["avg"], float(v.sum()) / len(v), rel=1e-6)
        _close(r["min_value"], float(v.min()), rel=1e-9)
        _close(r["max_value"], float(v.max()), rel=1e-9)


# ---------------------------------------------------------------------------
# Wave 7: sequence semantics (lag direction and gap islands)


def _user_ordered_types(pdt):
    ev = pdt["events"].sort_values(["user_id", "ts", "event_id"])
    return {uid: list(g["event_type"]) for uid, g in ev.groupby("user_id")}


def test_transition_matrix_matches_sequential_count(spark, sf_dir, pdt):
    """First-order transitions recounted by walking each user's ordered
    event list — catches any lag-direction or cross-user-pair bug."""
    counts: dict = {}
    for seq in _user_ordered_types(pdt).values():
        for a, b in zip(seq, seq[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    from_totals: dict = {}
    for (a, _), n in counts.items():
        from_totals[a] = from_totals.get(a, 0) + n
    got = {
        (r["prev_state"], r["next_state"]): r.asDict()
        for r in QUERIES["event_transition_matrix"](spark, sf_dir).collect()
    }
    assert set(got) == set(counts)
    for key, r in got.items():
        assert r["n_transitions"] == counts[key]
        _close(r["prob"], counts[key] / from_totals[key[0]], rel=1e-9)


def test_markov_two_step_matches_sequential_count(spark, sf_dir, pdt):
    """Two-step (lead-2) paths recounted the same way."""
    counts: dict = {}
    for seq in _user_ordered_types(pdt).values():
        for a, c in zip(seq, seq[2:]):
            counts[(a, c)] = counts.get((a, c), 0) + 1
    from_totals: dict = {}
    for (a, _), n in counts.items():
        from_totals[a] = from_totals.get(a, 0) + n
    got = {
        (r["from_type"], r["to_type"]): r.asDict()
        for r in QUERIES["markov_two_step"](spark, sf_dir).collect()
    }
    assert set(got) == set(counts)
    for key, r in got.items():
        assert r["n_paths"] == counts[key]
        assert r["prob"] == _round_half_up_micro(
            counts[key], from_totals[key[0]]
        ) / 1e6


def test_sequence_gaps_match_sorted_scan(spark, sf_dir, pdt):
    """Gap islands recomputed from one sorted pass over the distinct ids
    (vs the engine's two-level bucketed reduction)."""
    ev = pdt["events"]
    ids = sorted(set(ev.loc[ev["event_type"] != "error", "event_id"]))
    expect = [
        (prev + 1, cur - 1, cur - prev - 1)
        for prev, cur in zip(ids, ids[1:])
        if cur - prev > 1
    ]
    got = sorted(
        (r["gap_start"], r["gap_end"], r["gap_len"])
        for r in QUERIES["sequence_gap_detection"](spark, sf_dir).collect()
    )
    assert got == expect


# ---------------------------------------------------------------------------
# Wave 8: the text-quality tier (regex conventions reimplemented with re)


def _py_quality(text: str):
    """quality_features + quality_score reimplemented with Python re:
    returns (n_tokens, quality) under the documented conventions."""
    import re

    t = text or ""
    n_chars = len(t)
    n_alpha = len(re.sub(r"[^A-Za-z]", "", t))
    n_punct = len(re.sub(r"[^.,;:!?'\"()\[\]]", "", t))
    stripped = t.strip()
    n_tokens = 0 if not stripped else len(re.split(r"\s+", stripped))
    stop_hits = max(
        len(re.findall(r"\b(the|and|of|to|is)\b", t.lower())), 0
    )
    alpha_ratio = _round_half_up_micro(n_alpha, max(n_chars, 1)) / 1e6
    punct_ratio = _round_half_up_micro(n_punct, max(n_chars, 1)) / 1e6
    stop_ratio = _round_half_up_micro(stop_hits, max(n_tokens, 1)) / 1e6
    score = (
        0.4 * min(stop_ratio * 4, 1.0)
        + 0.4 * alpha_ratio
        + 0.2 * min(n_tokens / 100.0, 1.0)
    )
    if punct_ratio > 0.3:
        score *= 0.5
    quality = math.floor(score * 1e6 + 0.5) / 1e6  # scaled_round6
    return n_tokens, quality


def test_corpus_quality_filter_matches_rule_replay(spark, sf_dir, pdt):
    """First-failing-rule verdicts replayed with Python re over the
    documented thresholds."""
    import re

    got = _rows(spark, sf_dir, "corpus_quality_filter")
    for doc_id, text in zip(pdt["documents"]["doc_id"],
                            pdt["documents"]["text"]):
        t = (text or "").strip()
        n_chars = len(t)
        n_alpha = len(re.sub(r"[^A-Za-z]", "", t))
        n_punct = len(re.sub(r"[^.,;:!?'\"()\[\]]", "", t))
        toks = re.split(r"\s+", t.lower()) if t else []
        n_tokens = len(toks) if t else 0
        ttr = len(set(toks)) / max(len(toks), 1)
        if not t:
            reason = "empty"
        elif n_tokens < 10:
            reason = "too_short"
        elif n_tokens > 5000:
            reason = "too_long"
        elif n_alpha / max(n_chars, 1) < 0.5:
            reason = "low_alpha"
        elif n_punct / max(n_chars, 1) > 0.3:
            reason = "high_punct"
        elif ttr < 0.3:
            reason = "repetitive"
        else:
            reason = None
        r = got[doc_id]
        assert (r["keep"], r["reject_reason"]) == (reason is None, reason), doc_id


def test_benford_matches_digit_count(spark, sf_dir, pdt):
    got = _rows(spark, sf_dir, "benford_first_digit")
    digits = (
        pdt["orders"]["o_totalprice"]
        .astype(float)
        .map(lambda p: str(int(math.floor(p)))[0])
    )
    counts = digits.value_counts().to_dict()
    total = sum(counts.values())
    assert set(got) == set(counts)
    for d, n in counts.items():
        r = got[d]
        assert r["n_orders"] == n
        assert r["share"] == _round_half_up_micro(n, total) / 1e6


def test_type_token_ratio_matches_re_tokens(spark, sf_dir, pdt):
    import re

    got = _rows(spark, sf_dir, "type_token_ratio")
    agg: dict = {}
    for src, text in zip(pdt["documents"]["source"],
                         pdt["documents"]["text"]):
        toks = [x for x in re.split(r"[^a-z0-9]+", (text or "").lower()) if x]
        n, d = agg.get(src, (0, 0))
        agg[src] = (n + len(toks), d + len(set(toks)))
    assert set(got) == set(agg)
    for src, (n_tok, n_dist) in agg.items():
        r = got[src]
        assert (r["n_tokens"], r["n_distinct_tokens"]) == (n_tok, n_dist)
        _close(r["type_token_ratio"], n_dist / n_tok, rel=1e-6)


def test_corpus_language_stats_matches_re_replica(spark, sf_dir, pdt):
    """The per-language corpus report recomputed with the Python-re
    quality replica and a re-based BPE-ish token count — locks the
    whole quality_features chain (incl. the round-10 translate() and
    marker-guard changes) against an independent implementation."""
    import re

    bpe = re.compile(r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r\f]+")
    got = _rows(spark, sf_dir, "corpus_language_stats")
    agg: dict = {}
    for lang, text in zip(pdt["documents"]["lang"], pdt["documents"]["text"]):
        n_tokens, quality = _py_quality(text)
        n_bpe = len(bpe.findall(text or ""))
        n, tt, tb, qsum, hi = agg.get(lang, (0, 0, 0, 0, 0))
        agg[lang] = (
            n + 1,
            tt + n_tokens,
            tb + n_bpe,
            qsum + int(quality * 1e6 + 0.5),  # decimal(18,6) micro-units
            hi + (quality >= 0.5),
        )
    assert set(got) == set(agg)
    for lang, (n, tt, tb, qsum, hi) in agg.items():
        r = got[lang]
        assert r["n_docs"] == n
        assert r["total_tokens"] == tt
        assert r["total_bpe_tokens"] == tb
        assert r["n_high_quality"] == hi
        # qsum is ALREADY micro-scaled → plain half-up integer division
        _close(r["mean_quality"], ((2 * qsum + n) // (2 * n)) / 1e6,
               rel=0, abs_=2e-6)
