"""Tests for the dedup operators — focused on the shingle document-frequency
cap that bounds the n-gram Jaccard self-join at corpus scale."""

from __future__ import annotations

from aos_spark.llm.dedup import exact_dedup, ngram_jaccard_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ngram_cap_noop_below_threshold(spark):
    """With no shingle over the cap, capped and uncapped results are equal."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base),
        (2, base + " today"),  # near-dup of 1
        (3, "completely different content about spark query planning engines"),
        (4, "completely different content about spark query planning models"),
    ]
    df = _docs(spark, rows)
    uncapped = {
        tuple(r)
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=None).collect()
    }
    capped = {
        tuple(r)
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=1000).collect()
    }
    assert uncapped == capped
    assert any(p[0] == 1 and p[1] == 2 for p in capped)


def test_ngram_cap_bounds_hot_shingle_blowup(spark):
    """30 docs sharing only a boilerplate sentence: uncapped, every pair is a
    candidate (C(30,2)=435 at threshold 0); capped below 30, the hot shingles
    are dropped before the self-join and no boilerplate-only pair survives."""
    boiler = "click here to subscribe to our newsletter for updates"
    rows = [
        (i, f"unique document number {i} body text alpha{i} beta{i} gamma{i}. " + boiler)
        for i in range(30)
    ]
    df = _docs(spark, rows)
    uncapped = ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=None)
    assert uncapped.count() == 435  # every pair shares the boilerplate shingles
    capped = ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=5)
    # boilerplate shingles have df=30 > 5 -> dropped pre-join; the per-doc
    # unique words never co-occur, so the candidate set (and output) is empty
    assert capped.count() == 0


def test_ngram_cap_keeps_genuine_neardups(spark):
    """A genuine near-dup pair shares mostly rare shingles, so it survives a
    cap that suppresses the boilerplate-driven candidates. (The cap can only
    UNDERcount n_common — denominators keep full shingle counts — so the
    effective threshold is conservative; 0.3 here corresponds to ~0.9
    uncapped similarity for this pair.)"""
    boiler = "click here to subscribe to our newsletter for updates"
    near_a = "storm surge flooded the coastal road and the harbor district overnight"
    rows = [(i, f"doc {i} filler words alpha{i} beta{i}. " + boiler) for i in range(20)]
    rows += [(100, near_a + ". " + boiler), (101, near_a + " again. " + boiler)]
    df = _docs(spark, rows)
    pairs = ngram_jaccard_pairs(df, threshold=0.3, max_shingle_df=5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(100, 101)]


def test_dup_clusters_chain_and_components(spark):
    """A 4-node chain (diameter 3) must converge to one cluster labeled by
    its min id; a separate pair forms its own cluster; docs not in any pair
    don't appear."""
    from aos_spark.llm.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dup_clusters_string_ids(spark):
    """String doc ids must converge identically (ADVICE r2: the old
    DECIMAL-cast convergence sum was NULL for non-numeric ids and stopped
    propagation after one round, splitting a 4-node chain)."""
    from aos_spark.llm.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [("doc-a", "doc-b"), ("doc-b", "doc-c"), ("doc-c", "doc-d"), ("x", "y")],
        ["id_a", "id_b"],
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a", "doc-d": "doc-a",
        "x": "x", "y": "x",
    }


def test_dup_clusters_job_budget(spark):
    """The propagate loop reads every count from a metric observed on the
    job that materializes the frame (eager localCheckpoint), so no count or
    collect runs on its own. Two 4-cliques converge at the smart init; the
    5-node chain needs three more rounds plus the zero-change one: 1 job
    for the pair checkpoint, 2 per groupBy checkpoint (init and 4 rounds)
    and 1 for the collect."""
    from aos_spark.llm.dedup import dup_clusters

    def clique(ids):
        return [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]

    raw = clique([1, 2, 3, 4]) + clique([11, 12, 13, 14]) + [(21, 22), (22, 23), (23, 24), (24, 25)]
    pairs = spark.createDataFrame(raw, "id_a long, id_b long")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    jobs = dag.numTotalJobs() - before
    assert got == {**{i: 1 for i in (1, 2, 3, 4)}, **{i: 11 for i in (11, 12, 13, 14)},
                   **{i: 21 for i in (21, 22, 23, 24, 25)}}
    assert jobs <= 12, jobs


def test_dup_clusters_empty_pairs(spark):
    """No pairs: the observed change count is a SUM over no rows (NULL),
    read as 0, so the loop stops after one round with no clusters."""
    from aos_spark.llm.dedup import dup_clusters

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = dup_clusters(pairs)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.collect() == []


def test_star_components_path_graph_logarithmic_rounds(spark):
    """10k-node path graph (the adversarial chain shape — boilerplate
    chains): the alternating large-star/small-star algorithm must converge
    to ONE component in O(log n) rounds, where min-label propagation would
    need O(n) (VERDICT r3 #8). log2(10000) ≈ 13.3; assert a comfortable
    constant-factor bound far below the diameter."""
    from pyspark.sql import functions as F

    from aos_spark.llm.dedup import _star_components

    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    stars, changes = _star_components(edges)
    # one change count per round, the last one 0
    assert changes[-1] == 0 and all(c > 0 for c in changes[:-1])
    assert len(changes) <= 20  # O(log n); a propagation pass would need ~n rounds
    got = stars.select("src", "dst").collect()
    assert {r["dst"] for r in got} == {0}  # every node points at the root
    assert {r["src"] for r in got} == set(range(1, n))


MIXED_GRAPH = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12), (20, 21)]


def test_dup_clusters_star_matches_propagate(spark, monkeypatch):
    """Both algorithms must produce identical (doc_id, cluster_id) labels
    on a mixed graph: chain + clique + isolated pair + string-free ints.
    PROPAGATE_ROUNDS = 0 leaves propagation unconverged, which hands the
    pairs to the star rounds."""
    from aos_spark.llm import dedup

    pairs = spark.createDataFrame(MIXED_GRAPH, ["id_a", "id_b"])
    prop = {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}
    monkeypatch.setattr(dedup, "PROPAGATE_ROUNDS", 0)
    star = {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}
    assert prop == star
    assert star == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dup_clusters_large_path_matches_broadcast_path(spark, monkeypatch):
    """Above BROADCAST_MAX_NODES the labels are not broadcast: the doubled
    edges are partitioned by dst once and every round sort-merge joins.
    Both paths give the same labels on the chain, string-id and mixed
    graphs."""
    from aos_spark.llm import dedup

    graphs = [
        spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]),
        spark.createDataFrame(
            [("doc-a", "doc-b"), ("doc-b", "doc-c"), ("doc-c", "doc-d"), ("x", "y")],
            ["id_a", "id_b"],
        ),
        spark.createDataFrame(MIXED_GRAPH, ["id_a", "id_b"]),
    ]

    def labels(pairs):
        return {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}

    small = [labels(g) for g in graphs]
    monkeypatch.setattr(dedup, "BROADCAST_MAX_NODES", 0)
    large = [labels(g) for g in graphs]
    assert large == small
    assert large[0] == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cross_contamination_finds_planted_leak(spark):
    """A held-out doc duplicated (lightly edited) into the training corpus
    must surface as a cross pair; unrelated docs must not."""
    from aos_spark.llm.dedup import cross_contamination_pairs

    eval_text = (
        "what is the capital of france paris is the capital and largest "
        "city of france located on the seine river"
    )
    train = _docs(
        spark,
        [
            (1, eval_text + " indeed"),  # leaked near-copy
            (2, "completely unrelated training document about spark internals"),
            (3, "another unrelated document about tropical cyclone forecasting"),
        ],
    )
    heldout = _docs(spark, [(100, eval_text), (101, "benchmark question about chemistry")])
    pairs = cross_contamination_pairs(train, heldout, threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 100)]


def test_exact_dedup_counts(spark):
    df = _docs(
        spark,
        [(1, "Hello, World!"), (2, "hello world"), (3, "other text")],
    )
    out = {r.keeper_id: r.n_copies for r in exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_exact_ngram_contamination_planted(spark):
    """A held-out doc whose 13-gram appears verbatim in one training doc is
    flagged against exactly that doc; short docs produce no grams."""
    from aos_spark.llm.dedup import exact_ngram_contamination

    leak = " ".join(f"w{i}" for i in range(13))
    train = _docs(
        spark,
        [
            (1, "prefix words here " + leak + " and a suffix"),
            (2, "totally different content with many words " + " ".join(f"x{i}" for i in range(15))),
            (3, "short doc"),
        ],
    )
    heldout = _docs(spark, [(100, leak), (101, "another short one")])
    rows = exact_ngram_contamination(train, heldout, n=13).collect()
    assert [(r["train_id"], r["heldout_id"], r["n_shared_ngrams"]) for r in rows] == [
        (1, 100, 1)
    ]


def test_sliding_window_chunks_spans(spark):
    """Chunks tile every token: strides advance by 48, the tail chunk is
    partial, docs ≤ window yield one chunk, reassembling chunk 0 + the
    non-overlapped tails reproduces the token stream."""
    from aos_spark.llm.dedup import normalized_text  # noqa: F401
    from aos_spark.llm.packing import sliding_window_chunks

    long_doc = " ".join(f"t{i}" for i in range(150))
    df = spark.createDataFrame(
        [(1, long_doc), (2, "just a few tokens"), (3, "")], ["doc_id", "text"]
    )
    rows = sliding_window_chunks(df, window_tokens=64, stride=48).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0,48,96 → ceil((150-64)/48)=2 → idx 0..2
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [(r["tok_start"], r["tok_len"]) for r in c1] == [(0, 64), (48, 64), (96, 54)]
    toks = long_doc.split()
    for r in c1:
        assert r["chunk_text"].split() == toks[r["tok_start"] : r["tok_start"] + r["tok_len"]]
    assert [(r["tok_start"], r["tok_len"]) for r in by_doc[2]] == [(0, 4)]
    assert [(r["tok_len"], r["chunk_text"]) for r in by_doc[3]] == [(0, "")]


def test_components_raise_on_max_iter_exhaustion(spark, monkeypatch):
    """ADVICE r4: a partially-converged component run must fail loud, not
    silently emit wrong cluster ids. Propagation that runs out of rounds
    hands the pairs to the star rounds, which give the right labels; star
    running out of its own rounds raises NotConverged."""
    import pytest

    from aos_spark.llm import dedup
    from aos_spark.ops.fixpoint import NotConverged

    # a 13-node path needs ~diameter rounds to propagate; 1 round cannot
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    monkeypatch.setattr(dedup, "PROPAGATE_ROUNDS", 1)
    got = {r["doc_id"]: r["cluster_id"] for r in dedup.dup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(13)}
    monkeypatch.setattr(dedup, "STAR_ROUNDS", 1)
    with pytest.raises(NotConverged):
        dedup.dup_clusters(pairs)


def test_incremental_dedup_classifies_batch(spark):
    from aos_spark.llm.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    history = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (10, base + " tail"),            # near-dup of history doc 1
            (11, "completely different words about spark shuffles and joins"),
            (12, "completely different words about spark shuffles and joins ok"),
            (13, "nothing like anything else in any corpus at all here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in incremental_dedup(history, batch, threshold=0.3).collect()
    }
    assert set(out) == {10, 11, 12, 13}
    assert out[10]["dup_of_history"] and not out[10]["keep"]
    assert not out[11]["dup_of_history"] and out[11]["keep"]  # earlier id wins
    assert out[12]["dup_in_batch"] and not out[12]["keep"]
    assert out[13]["keep"] and not out[13]["dup_of_history"] and not out[13]["dup_in_batch"]


def test_incremental_dedup_empty_history_keeps_all_uniques(spark):
    from aos_spark.llm.dedup import incremental_dedup

    history = spark.createDataFrame([], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "one unique doc full of words for shingling purposes today")],
        ["doc_id", "text"],
    )
    rows = incremental_dedup(history, batch, threshold=0.3).collect()
    assert len(rows) == 1 and rows[0]["keep"]


def test_lsh_recall_eval_invariants_and_identical_docs(spark):
    from aos_spark.llm.dedup import lsh_recall_eval

    twin = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, twin) for i in range(4)]  # identical docs: always recalled
    rows += [(100 + i, f"unique{i} filler{i} words{i} about{i} nothing{i} shared{i} at{i} all{i}")
             for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # a cap >= the corpus size samples everything: the eval set is the corpus
    r = lsh_recall_eval(df, sample_docs=10, threshold=0.3).collect()[0]
    assert r["n_sample_docs"] == 10
    assert r["n_true_pairs"] == 6  # C(4,2) identical twins
    assert r["n_hit_pairs"] == r["n_true_pairs"]  # identical sigs always collide
    assert r["recall"] == 1.0
    assert 0.0 <= r["precision"] <= 1.0
    assert r["n_hit_pairs"] <= r["n_candidate_pairs"]


def test_lsh_recall_eval_absolute_cap(spark):
    """r12 scaling fix: sample_docs bounds the quadratic truth stage by
    an ABSOLUTE doc count (TakeOrdered over the md5 hash), independent
    of corpus size — the property that killed the 59.8x sf0.1->sf1
    ratio. Checks: (a) the cap binds exactly; (b) a cap >= corpus
    samples the whole corpus; (c) the sampled id set is the md5-order
    prefix, so it is deterministic and engine-portable."""
    import hashlib

    from aos_spark.llm.dedup import lsh_recall_eval

    rows = [(i, f"word{i} text{i % 3} about{i % 5} things{i % 7} "
                f"and{i % 2} more{i % 11} filler{i} tokens{i}")
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = lsh_recall_eval(df, threshold=0.3, sample_docs=15).collect()[0]
    assert capped["n_sample_docs"] == 15
    for cap in (40, 41):  # = and > the corpus size
        full = lsh_recall_eval(df, threshold=0.3, sample_docs=cap).collect()[0]
        assert full["n_sample_docs"] == 40
    # the capped sample is the md5-order prefix
    prefix = sorted(
        range(40),
        key=lambda d: (hashlib.md5(f"lsh_eval{d}".encode()).hexdigest(), d),
    )[:15]
    from pyspark.sql import functions as F

    h = F.md5(F.concat(F.lit("lsh_eval"), F.col("doc_id").cast("string")))
    got = [
        r["doc_id"]
        for r in df.orderBy(h.asc(), F.col("doc_id").asc()).limit(15).collect()
    ]
    assert sorted(got) == sorted(prefix)


def test_hyperplane_bucket_dim_mismatch_fails_loud(spark):
    """r9 review: a dim mismatch NULLed every plane dot (zip_with pads
    with NULLs) and put the whole corpus in bucket 0 — collapsing LSH
    into the O(N²) cross product with correct-looking results. Now it
    raises."""
    import pytest
    from aos_spark.llm.similarity import hyperplane_bucket

    df = spark.createDataFrame([(1, [0.1] * 32)], "id long, embedding array<double>")
    with pytest.raises(Exception, match="embedding dim 32"):
        df.select(hyperplane_bucket("embedding")).collect()


def test_ivf_and_semantic_dedup_work_with_string_ids(spark):
    """r9 review: centroid ids were cast to int, so string (or >2^31)
    vec_ids became NULL centroid keys — NULL never equi-joins, making
    ivf_topk return zero neighbors and semantic_dedup a silent no-op."""
    from aos_spark.llm.dedup import semantic_dedup
    from aos_spark.llm.similarity import ivf_topk

    rows = [(f"v_{i:03d}", [float(i % 4 == j) + 0.01 * i for j in range(4)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = ivf_topk(df, df.limit(3).withColumnRenamed("vec_id", "query_id"),
                   k=2, n_centroids=4, nprobe=4)
    assert out.count() > 0  # pre-fix: zero rows

    sd = semantic_dedup(df, threshold=0.95, n_clusters=4)
    assert sd.filter("NOT keep").count() > 0  # pre-fix: all keep=true


def test_banded_minhash_rejects_indivisible_bands(spark):
    import pytest
    from aos_spark.llm.dedup import banded_minhash_frame

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        banded_minhash_frame(df, num_hashes=20, bands=6)


def test_span_dedup_keeper_semantics_and_skew_free_plan(spark):
    """r9 review: the keeper pick moved from a span_hash-partitioned
    window (unsalted hot-key funnel for boilerplate spans) to a
    map-side-combined struct-min — keeper choice must stay the
    lexicographic min (doc_id, span_idx), and no Window node may remain
    in the plan."""
    from aos_spark.llm.dedup import span_dedup_retention

    df = spark.createDataFrame(
        [(2, "x y z " * 8), (1, "x y z " * 8), (3, "unique words only here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in span_dedup_retention(df, span=8).collect()}
    # doc 1 (lowest id) keeps the shared spans; doc 2 keeps none of them
    assert out[1]["n_kept"] == out[1]["n_spans"]
    assert out[2]["n_kept"] == 0 and out[2]["kept_tokens"] == 0
    assert out[3]["n_kept"] == out[3]["n_spans"]
    assert out[2]["retained_frac"] == 0.0
    plan = span_dedup_retention(df, span=8)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan


def test_hyperplane_bucket_null_embedding_propagates_null(spark):
    """ADVICE r9: a NULL embedding is a corrupt-row defect, not a dim
    mismatch — it must not raise through the dim guard with a nonsense
    'dim -1' message. The bucket is NULL (the bucket join then drops the
    row, the same treatment every keyed operator gives NULL keys) and
    non-NULL rows keep bucketing normally."""
    from aos_spark.llm.similarity import hyperplane_bucket

    df = spark.createDataFrame(
        [(1, [0.1] * 64), (2, None)], "id long, embedding array<double>"
    )
    rows = {
        r["id"]: r["b"]
        for r in df.select(
            "id", hyperplane_bucket("embedding").alias("b")
        ).collect()
    }
    assert rows[2] is None
    assert rows[1] is not None and 0 <= rows[1] < 256
