"""Tests for distributed k-means (llm/cluster.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aos_spark.llm import cluster as C


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lloyd_step_separable_clusters(spark):
    """Two well-separated blobs with seeds 0 and 1 (one in each blob):
    every vector assigns to its blob's seed and the centroids land on the
    exact blob means."""
    rows = [(0, [0.0, 0.0]), (2, [0.2, 0.0]), (3, [0.0, 0.2]),
            (1, [10.0, 10.0]), (4, [10.2, 10.0]), (5, [10.0, 10.2])]
    out = C.kmeans_lloyd_step(_vecs(spark, rows), k=2)
    got = {(r["cluster_id"], r["dim"]): (r["n_members"], r["centroid"])
           for r in out.collect()}
    assert got[(0, 0)] == (3, round(0.2 / 3, 6))
    assert got[(0, 1)] == (3, round(0.2 / 3, 6))
    assert got[(1, 0)] == (3, round(30.2 / 3, 6))
    assert got[(1, 1)] == (3, round(30.2 / 3, 6))


def test_lloyd_step_members_partition_the_input(spark):
    """Every vector lands in exactly one cluster: per-dim member counts
    sum to the vector count, identically for each dim."""
    rows = [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(50)]
    out = C.kmeans_lloyd_step(_vecs(spark, rows), k=3)
    per_dim = (
        out.groupBy("dim").agg(F.sum("n_members").alias("n")).collect()
    )
    assert {r["n"] for r in per_dim} == {50}
    assert out.count() == 3 * 2 or out.count() == 2 * 2  # a seed cluster may be empty? no:
    # seeds are input vectors, so every seed has at least itself
    assert out.select("cluster_id").distinct().count() <= 3


def test_lloyd_tie_breaks_to_lowest_centroid(spark):
    """A vector equidistant from two centroids must go to the LOWER
    centroid id (decimal distances make the tie exact)."""
    rows = [(0, [0.0]), (1, [2.0]), (5, [1.0])]  # vec 5 exactly between
    out = C.kmeans_lloyd_step(_vecs(spark, rows), k=2)
    got = {r["cluster_id"]: r["n_members"] for r in out.collect()}
    assert got == {0: 2, 1: 1}  # tie vector joined cluster 0


def test_iterating_reduces_inertia(spark):
    """Running a second Lloyd step from the first step's centroids must
    not increase total within-cluster squared distance (the Lloyd
    monotonicity invariant)."""
    rows = [(i, [float((i * 7) % 11), float((i * 5) % 13)]) for i in range(40)]
    df = _vecs(spark, rows)

    def inertia(centroids_long):
        cent = (
            centroids_long.groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("s"))
            .select(
                F.col("cluster_id").alias("vec_id"),
                F.transform("s", lambda x: x["centroid"].cast("float")).alias(
                    "embedding"
                ),
            )
        )
        step = C.kmeans_lloyd_step(df, k=3, centroids=cent)
        # inertia proxy: recompute distances to these centroids via the
        # assignment the step used — reuse explode + join shape
        ve = C.explode_vectors(df)
        ce = C.explode_vectors(cent).select(
            F.col("vec_id").alias("cid"), "dim", F.col("__v").alias("__c")
        )
        sq = (F.col("__v") - F.col("__c")) * (F.col("__v") - F.col("__c"))
        d = (
            ve.join(ce, "dim")
            .groupBy("vec_id", "cid")
            .agg(F.sum(sq).alias("d"))
            .groupBy("vec_id")
            .agg(F.min("d").alias("best"))
            .agg(F.sum("best").alias("total"))
        )
        return d.collect()[0]["total"], step

    c1 = C.kmeans_lloyd_step(df, k=3)
    i1, c2 = inertia(c1)
    i2, _ = inertia(c2)
    assert i2 <= i1 + 1e-9


def test_kmeans_fit_centroid_shape_and_determinism(spark, monkeypatch):
    """Also: the fit decides the under-partitioned-input spread ONCE (a
    per-round ensure_min_partitions re-ran a plan-to-RDD conversion and
    the round-robin shuffle), and its centroids equal the per-round loop
    of the public step exactly."""
    from aos_spark.llm.cluster import kmeans_fit

    rows = [(i, [float((i * 7) % 11), float((i * 5) % 13)]) for i in range(60)]
    df = _vecs(spark, rows)
    calls = []
    real = C.ensure_min_partitions
    monkeypatch.setattr(
        C, "ensure_min_partitions", lambda f, *a: calls.append(f) or real(f, *a)
    )
    c1 = kmeans_fit(df, k=3, n_iter=3)
    assert len(calls) == 1
    monkeypatch.undo()
    assert c1.count() <= 3
    assert set(c1.columns) == {"vec_id", "embedding"}
    c2 = kmeans_fit(df, k=3, n_iter=3)
    k1 = sorted((r["vec_id"], tuple(r["embedding"])) for r in c1.collect())
    k2 = sorted((r["vec_id"], tuple(r["embedding"])) for r in c2.collect())
    assert k1 == k2  # fully deterministic fit
    loop = None
    for _ in range(3):
        loop = C.centroids_to_vectors(C.kmeans_lloyd_step(df, k=3, centroids=loop))
    assert k1 == sorted((r["vec_id"], tuple(r["embedding"])) for r in loop.collect())


def test_ivf_with_trained_centroids_recall(spark):
    """IVF probing k-means-trained lists must recover a reasonable share
    of the exact brute-force neighbors on the real embeddings table."""
    from pyspark.sql import functions as F

    from aos_spark.llm.cluster import kmeans_fit
    from aos_spark.llm.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = kmeans_fit(emb, k=8, n_iter=2)
    approx = ivf_topk(emb, queries, k=10, nprobe=3, centroids=cents)
    exact = brute_force_topk(emb, queries, k=10)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.3  # probing 3/8 lists


def test_default_seeding_non_contiguous_ids(spark):
    """ADVICE r4: default seeding must be the k LOWEST-ID vectors as
    documented — filter(id < k) silently under-seeds (to zero here) when
    ids are non-contiguous and non-zero-based."""
    rows = [(10, [0.0, 0.0]), (20, [0.2, 0.0]),
            (30, [10.0, 10.0]), (40, [10.2, 10.0])]
    out = C.kmeans_lloyd_step(_vecs(spark, rows), k=2)
    got = out.collect()
    assert got  # filter(id < 2) would seed nothing and return empty
    assert {r["cluster_id"] for r in got} == {10, 20}
    # every vector assigned exactly once: per-dim member counts sum to 4
    n = sum(r["n_members"] for r in got if r["dim"] == 0)
    assert n == 4


def test_label_centroid_similarity_self_and_opposite(spark):
    from aos_spark.llm.cluster import label_centroid_similarity

    # label 0 vectors along +x, label 1 along -x, label 2 along +y
    rows = [(i, [1.0, 0.0], 0) for i in range(3)]
    rows += [(10 + i, [-1.0, 0.0], 1) for i in range(3)]
    rows += [(20 + i, [0.0, 2.0], 2) for i in range(3)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {
        (r["label_a"], r["label_b"]): r["cosine"]
        for r in label_centroid_similarity(df).collect()
    }
    assert out[(0, 0)] == 1.0 and out[(1, 1)] == 1.0 and out[(2, 2)] == 1.0
    assert abs(out[(0, 1)] - (-1.0)) < 1e-6  # opposite centroids
    assert abs(out[(0, 2)]) < 1e-6  # orthogonal centroids
