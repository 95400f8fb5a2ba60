"""Unit tests for the round-6 wave: winnowing fingerprints, hard-negative
mining, and Cohen's kappa arithmetic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aos_spark.llm.similarity import hard_negative_topk
from aos_spark.llm.text import winnow_fingerprints


def test_winnowing_shared_run_guarantee(spark):
    """The SIGMOD'03 guarantee: two documents sharing a token run of
    length >= k + w - 1 (= 7 here) must share at least one selected
    fingerprint. Build two docs whose only overlap is such a run."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    docs = [
        (1, f"one unique opening sequence here {shared} tail a b c"),
        (2, f"entirely different prelude words {shared} other end x y"),
        (3, "no overlap with anything else at all in this document"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    # recompute selected fingerprint KEYS per doc by re-running the
    # operator internals is overkill — instead check via the public
    # census plus a direct key-level assertion below
    out = {r.id: r for r in winnow_fingerprints(df, k=4, w=4).collect()}
    assert set(out) == {1, 2, 3}
    for r in out.values():
        assert 1 <= r.n_selected <= r.n_grams
        assert r.density == pytest.approx(r.n_selected / r.n_grams, abs=1e-6)

    # key-level: the shared 7-token run produces 4 identical k-grams in
    # both docs; winnowing with w=4 must select at least one common HASH
    # (positions differ, so compare hash = key >> 31).
    from aos_spark.llm.dedup import shingle_hash
    from aos_spark.llm.text import gram_occurrences

    toks = df.select(
        "doc_id",
        F.array_remove(F.split(F.lower("text"), "[^a-z0-9]+"), "").alias("t"),
    )
    ex = toks.select(
        "doc_id", F.posexplode(gram_occurrences(F.col("t"), 4))
    ).select("doc_id", "pos", shingle_hash(F.col("col")).alias("h"))
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    keyed = ex.withColumn("key", F.col("h") * F.lit(1 << 31) + F.col("pos"))
    n_g = ex.groupBy("doc_id").agg(F.max("pos").alias("mx"))
    sel = (
        keyed.withColumn("wmin", F.min("key").over(win))
        .join(n_g, "doc_id")
        .filter(F.col("pos") <= F.greatest(F.col("mx") - 3, F.lit(0)))
        .select("doc_id", F.shiftright("wmin", 31).alias("hash"))
        .distinct()
    )
    hashes = {
        r.doc_id: set()
        for r in sel.select("doc_id").distinct().collect()
    }
    for r in sel.collect():
        hashes[r.doc_id].add(r.hash)
    assert hashes[1] & hashes[2], "shared 7-token run yielded no common print"
    assert not (hashes[1] & hashes[3])


def test_winnowing_density(spark):
    """Expected density 2/(w+1): on random-ish text with w=4 the selected
    fraction should sit well below 1 and above 1/w of the grams."""
    import random

    rng = random.Random(3)
    words = [f"tok{rng.randrange(5000)}" for _ in range(2000)]
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    r = winnow_fingerprints(df, k=4, w=4).collect()[0]
    assert 0.2 <= r.density <= 0.6  # theory: ~0.4


def test_winnowing_short_doc(spark):
    """A doc with >= 1 gram but fewer than w grams keeps exactly one
    (global-min) fingerprint; a doc below k tokens is excluded."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "too short")], ["doc_id", "text"]
    )
    rows = {r.id: r for r in winnow_fingerprints(df, k=4, w=4).collect()}
    assert set(rows) == {1}
    assert rows[1].n_grams == 2 and rows[1].n_selected == 1


def test_hard_negative_excludes_same_label(spark):
    vecs = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 0),   # same label as anchor — must never appear
        (2, [0.9, 0.2], 1),
        (3, [0.0, 1.0], 1),
        (4, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"])
    anchors = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    rows = hard_negative_topk(df, anchors, k=2).collect()
    ids = [r.neighbor_id for r in sorted(rows, key=lambda r: r.rank)]
    assert ids == [2, 3]  # nearest different-label vectors, in rank order
    assert all(r.neighbor_label != 0 for r in rows)


def test_language_kappa_bounds(spark, sf_dir):
    from aos_spark.queries import QUERIES

    r = QUERIES["language_kappa"](spark, sf_dir).collect()[0]
    assert 0 <= r.n_agree <= r.n_docs
    assert -1.0 <= r.kappa <= 1.0


def test_language_kappa_degenerate_corpus_is_null_in_both_engines(
    spark, tmp_path
):
    """Zero-denominator guard (ADVICE r6/VERDICT r7): one label + one
    constant detection makes pe_num == n_docs², so kappa is undefined.
    Both the Spark query and the DuckDB oracle must emit NULL — not NaN,
    not a crash — and therefore still hash-match."""
    import duckdb

    from aos_spark.queries.text import _language_kappa_oracle, q_language_kappa

    # every doc labeled 'en' AND detected 'en' (texts are pure English
    # stopword markers, so the heuristic can't say anything else)
    docs = [(i, "en", "the and is of to in that it was for") for i in range(6)]
    df = spark.createDataFrame(docs, ["doc_id", "lang", "text"])
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    r = q_language_kappa(spark, str(tmp_path)).collect()[0]
    assert (r.n_docs, r.n_agree) == (6, 6)
    assert r.kappa is None

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{path}/*.parquet')"
    )
    o = con.execute(_language_kappa_oracle()).fetchone()
    assert o == (6, 6, None)


def test_cms_never_underestimates(spark, sf_dir):
    from aos_spark.queries import QUERIES

    rows = QUERIES["cms_error_eval"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.overestimate >= 0
        assert r.est_count >= r.exact_count


def test_split_leakage_partition_of_pairs(spark, sf_dir):
    """The leakage cells must partition the full near-dup pair set: sum
    over cells == count of pairs at the same threshold."""
    from aos_spark.llm.dedup import ngram_jaccard_pairs
    from aos_spark.queries import QUERIES

    cells = QUERIES["split_leakage_check"](spark, sf_dir).collect()
    total = sum(r.n_pairs for r in cells)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5).count()
    assert total == n_pairs
    for r in cells:
        assert r.leaks == (r.split_a != r.split_b)


def test_shard_rebalance_ring_beats_mod(spark, sf_dir):
    """The consistent-hashing claim, asserted: adding one shard moves
    ~N/(N+1) of documents under mod-hashing but only ~1/(N+1) under the
    ring — and never more than mod."""
    from aos_spark.queries import QUERIES

    rows = {r.method: r for r in QUERIES["shard_rebalance_churn"](spark, sf_dir).collect()}
    assert set(rows) == {"mod", "ring"}
    assert rows["mod"].n_docs == rows["ring"].n_docs
    assert rows["ring"].moved_share < rows["mod"].moved_share
    assert rows["mod"].moved_share > 0.7      # ~8/9 expected
    assert rows["ring"].moved_share < 0.35    # ~1/9 expected + vnode variance
