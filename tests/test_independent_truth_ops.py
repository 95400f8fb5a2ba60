"""Independent-truth checks, wave 4: the relational/curation operator
families that still had only oracle+pytest evidence after waves 1–3 —
as-of/range joins, the Bloom semijoin, z-order layout, skew profiling,
salted distinct, context packing, k-fold/splits, the curation-policy
sampling trio, largest-remainder stratified allocation, the train/test
leakage audit, and hard-negative mining.

Replication contract (as in test_independent_truth.py): shared
PARAMETERS are imported (salts, cap/budget constants, the BPE regex, the
z-order bit width — they are part of each query's definition), but every
ALGORITHM is recomputed from first principles with a DIFFERENT technique
where the definition allows one: ``pd.merge_asof`` (a third-party as-of
implementation nobody in this repo wrote) vs the union-and-carry window
plan; per-nation boolean masks vs the bucketized range join; a
binary-string Morton interleave vs the shift/mask sum tree; Python
Counter/dict/set passes vs shuffled aggregates; an inverted-index pair
generator vs the banded SQL self-join.

Integer outputs compare EXACTLY; engine-rounded doubles (ROUND(x, 6))
are replicated with the same repr-based HALF_UP quantization and then
compared within 1e-9 so a real rounding divergence (≥ 5e-7) can never
hide; ranking replicas assert their tie margins so set equality is
implied, never float luck.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest

from aos_spark.queries import QUERIES
from test_independent_truth import _py_quality
from test_independent_truth_ml import _shingle_set


def _close(a, b, rel=1e-6, abs_=2e-6):
    assert math.isclose(a, b, rel_tol=rel, abs_tol=abs_), (a, b)


def _round_half_up(v: float, scale: int) -> float:
    """Replica of F.round(double, scale): shortest-repr decimal, HALF_UP."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP))


def _dsum(values, scale: int) -> float:
    """Replica of dsum(): Σ cast(v as decimal(18,scale)) → double."""
    q = Decimal(1).scaleb(-scale)
    return float(
        sum(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP) for v in values)
    )


def md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


@pytest.fixture(scope="module")
def docs(sf_dir):
    return pd.read_parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def events(sf_dir):
    return pd.read_parquet(f"{sf_dir}/events.parquet")


@pytest.fixture(scope="module")
def lineitem(sf_dir):
    return pd.read_parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def scored_docs(docs):
    """Python replica of queries/sampling._scored_docs: (doc_id, lang, source,
    n_tokens, quality) rows via the wave-1 quality replica."""
    rows = []
    for r in docs.itertuples():
        n_tokens, quality = _py_quality(r.text)
        rows.append((r.doc_id, r.lang, r.source, n_tokens, quality))
    return rows


# --------------------------------------------------------- as-of / range


def test_asof_join_events_matches_merge_asof(spark, sf_dir, events):
    """pd.merge_asof — a third-party as-of implementation — vs the
    union-and-carry window plan, row-exact for every event."""
    right = (
        events[events["event_type"] == "purchase"]
        .groupby(["user_id", "ts"], as_index=False)["value"]
        .max()
        .rename(columns={"value": "signal", "ts": "asof_ts"})
    )
    left = events[["event_id", "user_id", "ts"]].sort_values("ts", kind="stable")
    merged = pd.merge_asof(
        left,
        right.sort_values("asof_ts"),
        left_on="ts",
        right_on="asof_ts",
        by="user_id",
        direction="backward",
    )
    fmt = "%Y-%m-%d %H:%M:%S"
    expect = {
        r.event_id: (
            r.user_id,
            r.ts.strftime(fmt),
            None if pd.isna(r.signal) else r.signal,
            None if pd.isna(r.asof_ts) else r.asof_ts.strftime(fmt),
        )
        for r in merged.itertuples()
    }
    got = {
        r["event_id"]: (r["user_id"], r["ts"], r["signal"], r["asof_ts"])
        for r in QUERIES["asof_join_events"](spark, sf_dir).collect()
    }
    assert got == expect
    assert any(v[2] is not None for v in expect.values()), "degenerate: no matches"


def test_range_join_events_matches_mask_replica(spark, sf_dir, events):
    """Per-nation boolean masks (no buckets anywhere) vs the bucketized
    range join — counts exact, sums decimal-exact, so any gain/loss at a
    bucket boundary shows as an integer count diff."""
    nat = pd.read_parquet(f"{sf_dir}/nation.parquet")
    vals = events["value"].to_numpy()
    expect = {}
    for nk in nat["n_nationkey"]:
        lo, hi = nk * 7.0, nk * 7.0 + 20.0
        mask = (vals >= lo) & (vals <= hi)
        if mask.any():
            expect[nk] = (int(mask.sum()), _dsum(vals[mask], 6))
    got = {
        r["n_nationkey"]: (r["n_events"], r["sum_value"])
        for r in QUERIES["range_join_events"](spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for nk, (n, s) in expect.items():
        assert got[nk][0] == n, nk
        _close(got[nk][1], s, rel=1e-12, abs_=1e-9)
    assert expect, "degenerate fixture: no interval matches"


# --------------------------------------------------------------- bloom


def test_bloom_semijoin_prune_matches_plain_semijoin(spark, sf_dir):
    """Pandas isin semijoin (no Bloom anywhere) vs the Bloom-prefiltered
    exact semijoin — proving the bitset introduced no false negatives and
    the verify join removed every false positive."""
    orders = pd.read_parquet(f"{sf_dir}/orders.parquet")
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet")
    keys = set(cust.loc[cust["c_mktsegment"] == "BUILDING", "c_custkey"])
    kept = orders[orders["o_custkey"].isin(keys)]
    expect = {}
    for pri, g in kept.groupby("o_orderpriority"):
        expect[pri] = (
            len(g),
            _round_half_up(_dsum(g["o_totalprice"], 4), 4),
        )
    got = {
        r["o_orderpriority"]: (r["n_orders"], r["total_price"])
        for r in QUERIES["bloom_semijoin_prune"](spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for k, (n, tp) in expect.items():
        assert got[k][0] == n, k
        _close(got[k][1], tp, rel=1e-12, abs_=1e-9)


# -------------------------------------------------------------- layout


def _morton(x: int, y: int, bits: int) -> int:
    """Binary-string interleave (vs the engine's shift/mask sum tree):
    bit i of x at position 2i, bit i of y at 2i+1."""
    xs = format(x, f"0{bits}b")
    ys = format(y, f"0{bits}b")
    inter = "".join(ys[i] + xs[i] for i in range(bits))  # MSB-first
    return int(inter, 2)


def test_zorder_skipping_census_matches_pure_python(spark, sf_dir, lineitem):
    """Chunk min/max census for both layouts recomputed with dicts and a
    string-built Morton key — all-integer, exact."""
    from aos_spark.queries.relational import _ZBITS

    pts = [(int(pk) % 64, int(sk) % 64)
           for pk, sk in zip(lineitem["l_partkey"], lineitem["l_suppkey"])]
    expect = {}
    for layout, chunk_of in (
        ("linear", lambda x, y: x >> 2),
        ("zorder", lambda x, y: _morton(x, y, _ZBITS) >> 8),
    ):
        agg: dict[int, list[int]] = {}
        for x, y in pts:
            c = chunk_of(x, y)
            if c not in agg:
                agg[c] = [x, x, y, y, 0]
            a = agg[c]
            a[0] = min(a[0], x); a[1] = max(a[1], x)
            a[2] = min(a[2], y); a[3] = max(a[3], y)
            a[4] += 1
        expect[layout] = (
            len(agg),
            sum(a[4] for a in agg.values()),
            sum(a[1] - a[0] + 1 for a in agg.values()),
            sum(a[3] - a[2] + 1 for a in agg.values()),
        )
    got = {
        r["layout"]: (r["n_chunks"], r["n_rows"],
                      r["sum_width_x"], r["sum_width_y"])
        for r in QUERIES["zorder_skipping_census"](spark, sf_dir).collect()
    }
    assert got == expect
    # the census must show the z-curve actually bounding both dimensions:
    # linear chunks span all of y, z-order chunks don't
    assert expect["zorder"][3] < expect["linear"][3]


# ---------------------------------------------------------------- skew


def test_key_skew_profile_matches_counter_replica(spark, sf_dir, lineitem):
    from aos_spark.queries.relational import _SKEW_COLS

    got = {
        r["key_col"]: r.asDict()
        for r in QUERIES["key_skew_profile"](spark, sf_dir).collect()
    }
    assert set(got) == set(_SKEW_COLS)
    for col in _SKEW_COLS:
        counts = Counter(lineitem[col])
        n_keys = len(counts)
        n_rows = sum(counts.values())
        mx = max(counts.values())
        selfjoin = sum(c * c for c in counts.values())
        r = got[col]
        assert (r["n_keys"], r["n_rows"], r["max_count"], r["selfjoin_rows"]) == (
            n_keys, n_rows, mx, selfjoin
        ), col
        _close(r["top_share"], _round_half_up(mx / n_rows, 6), rel=1e-9, abs_=1e-9)
        _close(
            r["eff_keys"],
            _round_half_up(float(n_rows) * float(n_rows) / float(selfjoin), 6),
            rel=1e-9, abs_=1e-9,
        )
        _close(
            r["skew_factor"],
            _round_half_up(float(mx) * float(n_keys) / float(n_rows), 6),
            rel=1e-9, abs_=1e-9,
        )


def test_skew_salted_distinct_matches_set_replica(spark, sf_dir, events):
    """dict-of-sets exact distinct (no salting anywhere) vs the two-phase
    salted aggregation."""
    users: dict[str, set] = defaultdict(set)
    totals: Counter = Counter()
    for r in events.itertuples():
        users[r.event_type].add(r.user_id)
        totals[r.event_type] += 1
    expect = {t: (len(users[t]), totals[t]) for t in users}
    got = {
        r["event_type"]: (r["n_users"], r["n_events"])
        for r in QUERIES["skew_salted_distinct"](spark, sf_dir).collect()
    }
    assert got == expect


# ------------------------------------------------------------- packing


def test_pack_context_chunks_matches_walk_replica(spark, sf_dir, docs):
    """Shard assign via hashlib, per-shard doc_id-ordered cumulative walk
    in plain Python — every doc's (shard, chunk, offsets) exact."""
    from aos_spark.llm.text import BPE_ISH_PATTERN

    pat = re.compile(BPE_ISH_PATTERN)
    per_shard: dict[int, list] = defaultdict(list)
    for r in docs.itertuples():
        n_tok = len(pat.findall(r.text or ""))
        per_shard[md5_32("pack" + str(r.doc_id)) % 8].append((r.doc_id, n_tok))
    expect = {}
    for shard, rows in per_shard.items():
        cum = 0
        for doc_id, n_tok in sorted(rows):
            expect[doc_id] = (n_tok, shard, cum // 512, cum, cum + n_tok)
            cum += n_tok
    got = {
        r["doc_id"]: (r["n_tokens"], r["shard"], r["chunk_in_shard"],
                      r["tok_start"], r["tok_end"])
        for r in QUERIES["pack_context_chunks"](spark, sf_dir).collect()
    }
    assert got == expect


# ------------------------------------------------- folds / splits / mix


def test_kfold_assignment_matches_hashlib(spark, sf_dir, docs):
    expect: Counter = Counter()
    for r in docs.itertuples():
        expect[(md5_32("fold" + str(r.doc_id)) % 5, r.lang)] += 1
    got = {
        (r["fold"], r["lang"]): r["n_docs"]
        for r in QUERIES["kfold_assignment"](spark, sf_dir).collect()
    }
    assert got == dict(expect)


def test_per_source_cap_matches_sort_replica(spark, sf_dir, scored_docs):
    by_source: dict[str, list] = defaultdict(list)
    for doc_id, _lang, source, n_tokens, quality in scored_docs:
        by_source[source].append((-quality, doc_id, n_tokens))
    expect = {}
    for source, rows in by_source.items():
        rows.sort()
        kept = rows[:15]
        expect[source] = (len(rows), len(kept), sum(t for _, _, t in kept))
    got = {
        r["source"]: (r["n_docs"], r["n_kept"], r["kept_tokens"])
        for r in QUERIES["per_source_cap"](spark, sf_dir).collect()
    }
    assert got == expect


def test_token_budget_selection_matches_walk_replica(spark, sf_dir, scored_docs):
    by_lang: dict[str, list] = defaultdict(list)
    for doc_id, lang, _source, n_tokens, quality in scored_docs:
        by_lang[lang].append((-quality, doc_id, n_tokens))
    expect = {}
    for lang, rows in by_lang.items():
        rows.sort()
        cum, sel = 0, []
        for negq, doc_id, n_tok in rows:
            cum += n_tok
            if cum <= 2000:
                sel.append((negq, n_tok))
        if sel:
            expect[lang] = (
                len(sel),
                sum(t for _, t in sel),
                -max(negq for negq, _ in sel),
            )
    got = {
        r["lang"]: (r["n_selected"], r["selected_tokens"], r["quality_cutoff"])
        for r in QUERIES["token_budget_selection"](spark, sf_dir).collect()
    }
    assert got == expect


def test_quality_decile_shards_matches_ntile_replica(spark, sf_dir, scored_docs):
    by_lang: dict[str, list] = defaultdict(list)
    for doc_id, lang, _source, n_tokens, quality in scored_docs:
        by_lang[lang].append((-quality, doc_id, n_tokens))
    expect = {}
    for lang, rows in by_lang.items():
        rows.sort()
        n, k = len(rows), 10
        base, extra = divmod(n, k)
        pos = 0
        for tile in range(1, k + 1):
            size = base + (1 if tile <= extra else 0)
            if size == 0:
                continue
            block = rows[pos : pos + size]
            pos += size
            expect[(lang, tile)] = (
                len(block),
                sum(t for _, _, t in block),
                min(-negq for negq, _, _ in block),
                max(-negq for negq, _, _ in block),
            )
    got = {
        (r["lang"], r["decile"]): (r["n_docs"], r["n_tokens"],
                                   r["min_quality"], r["max_quality"])
        for r in QUERIES["quality_decile_shards"](spark, sf_dir).collect()
    }
    assert got == expect


def test_stratified_allocation_matches_largest_remainder(spark, sf_dir, docs):
    """Largest-remainder quotas + md5-rank picks, all-integer."""
    strata = Counter(docs["lang"])
    total = sum(strata.values())
    budget = total * 10 // 100
    based = {
        lang: (budget * n // total, budget * n - (budget * n // total) * total)
        for lang, n in strata.items()
    }
    slack = budget - sum(b for b, _ in based.values())
    order = sorted(based, key=lambda s: (-based[s][1], s))
    alloc = {
        lang: based[lang][0] + (1 if i < slack else 0)
        for i, lang in enumerate(order)
    }
    picked: dict[str, list] = defaultdict(list)
    for r in docs.itertuples():
        rank = md5_32("alloc" + str(r.doc_id)) % (1 << 62)
        picked[r.lang].append((rank, r.doc_id, r.n_chars))
    expect = {}
    for lang, rows in picked.items():
        rows.sort()
        sel = rows[: alloc[lang]]
        if sel:
            expect[lang] = (
                strata[lang], alloc[lang], len(sel), sum(c for _, _, c in sel)
            )
    got = {
        r["lang"]: (r["n_docs"], r["alloc"], r["n_selected"], r["sel_chars"])
        for r in QUERIES["stratified_allocation_sample"](spark, sf_dir).collect()
    }
    assert got == expect


def test_split_leakage_check_matches_inverted_index(spark, sf_dir, docs):
    """Near-dup pairs via an inverted shingle index + exact set Jaccard,
    splits via hashlib buckets — the leakage cells exact."""
    shingles = {r.doc_id: _shingle_set(r.text) for r in docs.itertuples()}
    posting: dict[str, list] = defaultdict(list)
    for doc_id in sorted(shingles):
        for sh in shingles[doc_id]:
            posting[sh].append(doc_id)
    common: Counter = Counter()
    for ids in posting.values():
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                common[(ids[i], ids[j])] += 1
    splits = {}
    for doc_id in shingles:
        b = md5_32("split" + str(doc_id)) % 100
        splits[doc_id] = "train" if b < 80 else ("val" if b < 90 else "test")
    cells: Counter = Counter()
    for (a, b), n_common in common.items():
        union = len(shingles[a]) + len(shingles[b]) - n_common
        jac = ((n_common * 1_000_000 * 2 + union) // (union * 2)) / 1e6
        if jac >= 0.5:
            sa, sb = sorted((splits[a], splits[b]))
            cells[(sa, sb)] += 1
    got = {
        (r["split_a"], r["split_b"]): (r["n_pairs"], r["leaks"])
        for r in QUERIES["split_leakage_check"](spark, sf_dir).collect()
    }
    expect = {k: (n, k[0] != k[1]) for k, n in cells.items()}
    assert got == expect
    assert expect, "degenerate fixture: no near-dup pairs at all"


# ------------------------------------------------------- hard negatives


def test_hard_negative_mining_matches_numpy(spark, sf_dir):
    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values("vec_id")
    ids = e["vec_id"].to_numpy()
    labels = e["label"].to_numpy()
    m = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(m, axis=1)
    got = defaultdict(dict)
    for r in QUERIES["hard_negative_mining"](spark, sf_dir).collect():
        got[r["query_id"]][r["rank"]] = (
            r["neighbor_id"], r["neighbor_label"], r["cosine"]
        )
    anchors = [i for i, v in enumerate(ids) if v < 5]
    assert len(anchors) == 5
    for ai in anchors:
        cos = (m @ m[ai]) / (norms * norms[ai])
        mask = labels != labels[ai]
        order = sorted(
            (( -cos[i], ids[i]) for i in range(len(ids)) if mask[i])
        )
        # tie-margin guard at the k boundary: rank-5 vs rank-6 cosine gap
        assert len(order) > 5 and (order[5][0] - order[4][0]) > 1e-9, ids[ai]
        for rank in range(1, 6):
            negc, nid = order[rank - 1]
            gid, glabel, gcos = got[ids[ai]][rank]
            assert gid == nid, (ids[ai], rank)
            assert glabel == labels[np.where(ids == nid)[0][0]]
            _close(gcos, _round_half_up(-negc, 6), rel=1e-9, abs_=2e-6)
        assert len(got[ids[ai]]) == 5
