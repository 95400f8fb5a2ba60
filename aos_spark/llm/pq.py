"""Product quantization (Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search") — the compression layer of large-scale ANN:
split each d-dim vector into ``n_sub`` subvectors, quantize every
subvector to its nearest codebook centroid, and keep only the centroid
ids. At 64-dim float32 → 8 four-bit codes that is a 64× memory cut, which
is what makes billion-vector indexes fit a cluster's RAM; search uses
asymmetric distance computation (ADC): exact query-to-centroid distance
tables plus code lookups, never decoded vectors.

Codebooks here are DETERMINISTIC (md5-derived, like the LSH hyperplanes
and the k-means default seeding) rather than trained, so every stage —
including the encoder — reproduces bit-for-bit in an external SQL oracle;
swap in ``llm.cluster.kmeans_fit`` per subspace for trained codebooks
without changing any plan shape.

Scale shapes:
- encode: pure codegen'd projection (codebooks are plan literals — small:
  n_sub*k*sub_dim doubles), zero shuffle, linear.
- ADC top-k: the query side (few rows) broadcasts as per-(query, subspace,
  code) distance fragments; the corpus explodes its n_sub codes, joins the
  broadcast, and aggregates per (query, corpus) pair — one shuffle of
  n_sub·N skinny rows, never a d-dim vector after encoding. This is the
  learned-the-hard-way alternative to giant literal lookup arrays, which
  do NOT constant-fold (see ops/bloom.py measurements).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aos_spark.ops.topk import topk_per_group


def pq_codebooks(
    dim: int = 64, n_sub: int = 8, k: int = 16, seed: int = 9
) -> list[list[list[float]]]:
    """codebooks[j][c] = centroid c of subspace j (sub_dim floats in
    [-1, 1)), md5-derived from (seed, j, c, i) so any engine rebuilds the
    identical codebook from the four integers alone."""
    sub_dim = dim // n_sub
    return [
        [
            [
                (
                    int(
                        hashlib.md5(f"{seed}:{j}:{c}:{i}".encode()).hexdigest()[:8],
                        16,
                    )
                    / 0x80000000
                )
                - 1.0
                for i in range(sub_dim)
            ]
            for c in range(k)
        ]
        for j in range(n_sub)
    ]


def _sq_norm(v: list[float]) -> float:
    # left-fold to mirror the engines' sequential list summation
    acc = 0.0
    for x in v:
        acc += x * x
    return acc


def _centroid_df(spark, books, sub_dim: int) -> DataFrame:
    """(j, c, c_0..c_{sub_dim-1}, cc) — the n_sub·k-row broadcast side of
    every PQ stage. Built as a LITERAL frame (r16, guide §4): the
    historical ``createDataFrame(list)`` form became a Python-RDD scan
    (``applySchemaToPythonRDD``) that spun up Python workers and
    unpickled the 128 rows on EVERY query run — ~0.5-1.0 s of the
    encode path's 1.6 s warm time. The literal form runs entirely in
    the JVM; types match the inferred ones (j/c bigint, values double)
    so every downstream cast and tie-break compares identically."""
    from aos_spark.io.local_frame import literal_frame

    schema = "j BIGINT, c BIGINT, " + ", ".join(
        f"c_{i} DOUBLE" for i in range(sub_dim)
    ) + ", cc DOUBLE"
    return literal_frame(
        spark,
        [
            (j, c, *cent, _sq_norm(cent))
            for j, book in enumerate(books)
            for c, cent in enumerate(book)
        ],
        schema,
    )


def _subvectors(
    df: DataFrame, id_col: str, vec_col: str, n_sub: int, sub_dim: int
) -> DataFrame:
    """Explode vectors to (id, j, s_0..s_{sub_dim-1}) subvector rows —
    small per-row expressions that stay inside whole-stage codegen."""
    sub_structs = ", ".join(
        "named_struct('j', {j}, {fields})".format(
            j=j,
            fields=", ".join(
                f"'s_{i}', element_at(__v, {j * sub_dim + i + 1})"
                for i in range(sub_dim)
            ),
        )
        for j in range(n_sub)
    )
    return (
        df.withColumn(
            "__v", F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
        )
        .select(id_col, F.expr(f"explode(array({sub_structs}))").alias("s"))
        .select(id_col, "s.*")
    )


def pq_encode(
    df: DataFrame,
    dim: int = 64,
    n_sub: int = 8,
    k: int = 16,
    seed: int = 9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Encode vectors to (id, code_0..code_{n_sub-1}): per subspace, the
    nearest-centroid id by squared L2 (compared as ``-2<x,c> + ||c||²``,
    the ||x||² term is constant per row), ties to the lowest id.

    RELATIONAL formulation, deliberately: an earlier pure-projection
    version inlined all n_sub·k distance expressions per row, and the
    resulting plan exceeded whole-stage-codegen limits — the ENTIRE query
    fell back to interpreted evaluation (0 WholeStageCodegen spans,
    ~6 s warm for 2000 rows). Here the corpus explodes to (id, j,
    s_0..s_{sub_dim-1}) rows, broadcast-joins the n_sub·k-row centroid
    table, computes each distance as a FLAT codegen'd expression, and
    takes the per-(id, j) argmin with n_sub conditional MIN(struct(d, c))
    aggregates in ONE id-keyed groupBy (partial aggregation shrinks the
    exchange to one row per id per partition). One narrow shuffle bought
    full codegen: 1.2 s warm at the same size. Distance arithmetic is
    left-associated, bit-identical to the oracle's list_dot_product.

    Pass ``books`` (e.g. per-subspace ``llm.cluster.kmeans_fit`` output)
    to use trained codebooks instead of the deterministic default — the
    plan shape is identical; only the broadcast table's values change."""
    from aos_spark.llm.dedup import ensure_min_partitions

    spark = df.sparkSession
    books = books if books is not None else pq_codebooks(dim, n_sub, k, seed)
    sub_dim = dim // n_sub
    cent_df = _centroid_df(spark, books, sub_dim)
    # the distance projection (n_sub·k rows per vector) runs BEFORE any
    # exchange, i.e. at the SCAN's parallelism — a single-row-group
    # parquet corpus is 1 task however many splits are requested, which
    # serialized the whole encode onto one core (r16, guide §2.5; same
    # under-partitioned-input fix the text tier's shingle_frame carries)
    subs = _subvectors(
        ensure_min_partitions(df), id_col, vec_col, n_sub, sub_dim
    )
    dot = " + ".join(f"s_{i} * c_{i}" for i in range(sub_dim))
    scored = subs.join(F.broadcast(cent_df), "j").withColumn(
        "__d", F.expr(f"(-2.0D * ({dot})) + cc")
    )
    best = [
        F.min(F.when(F.col("j") == j, F.struct("__d", "c")))
        .getField("c")
        .cast("int")
        .alias(f"code_{j}")
        for j in range(n_sub)
    ]
    return scored.groupBy(id_col).agg(*best)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    top_k: int = 10,
    dim: int = 64,
    n_sub: int = 8,
    k: int = 16,
    seed: int = 9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    books: list[list[list[float]]] | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: approximate squared-L2 distance between each query and
    every encoded corpus vector as Σ_j ||q_j − c(code_j)||², from
    per-(query, subspace, code) distance fragments. Pass ``books`` for
    trained codebooks — the SAME books drive both the corpus encode and
    the query fragments (mixing trained and default books would silently
    score against the wrong centroids).

    ``candidates`` (optional, columns query_id + neighbor_id) restricts
    scoring to the given pairs via a LEFT SEMI join applied BEFORE the
    fragment aggregation, so the per-(query, vector) state never
    materializes for pruned pairs. This is the generic pruning hook any
    coarse stage plugs into — IVF cells (ivfpq, the FAISS IVFPQ shape),
    LSH buckets, a bloom filter — and ranks are computed within the
    surviving candidate set, exactly as a probed index would.

    The fragments frame is tiny (|Q|·n_sub·k rows) and BROADCASTS; the
    corpus side is its exploded code list (n_sub skinny rows per vector),
    map-side joined, then aggregated per (query, vector) — one shuffle
    whose payload is two ids and a double, regardless of dim."""
    books = books if books is not None else pq_codebooks(dim, n_sub, k, seed)
    sub_dim = dim // n_sub
    # Fragments are RELATIONAL for the same reason as pq_encode — an
    # earlier version inlined all n_sub·k fragment expressions into one
    # ~40 KB explode array, and janino recompiled that source on every
    # action (~5 s/run; 2.1 s with codegen force-disabled). Fragment d
    # accumulates in DECIMAL (repo determinism contract): a double SUM
    # over the 8 fragments would depend on partial-aggregation order and
    # diverge across engines/partitionings.
    # ||q_j - c||² = ||q_j||² - 2<q_j,c> + ||c||²
    qsubs = _subvectors(queries, query_id_col, vec_col, n_sub, sub_dim)
    qq = " + ".join(f"s_{i} * s_{i}" for i in range(sub_dim))
    dot = " + ".join(f"s_{i} * c_{i}" for i in range(sub_dim))
    frags = (
        qsubs.join(
            F.broadcast(_centroid_df(queries.sparkSession, books, sub_dim)),
            "j",
        )
        .withColumn(
            "d",
            F.expr(f"CAST((({qq}) - 2.0D * ({dot})) + cc AS DECIMAL(28,12))"),
        )
        .select(query_id_col, "j", "c", "d")
    )

    codes = pq_encode(corpus, dim, n_sub, k, seed, vec_col, id_col, books=books)
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"code_{j}").alias("c")
                    )
                    for j in range(n_sub)
                ]
            )
        ).alias("e"),
    ).select("neighbor_id", "e.j", "e.c")

    joined = exploded.join(F.broadcast(frags), ["j", "c"])
    if candidates is not None:
        # no dedup of the candidates frame: LEFT SEMI semantics are
        # insensitive to right-side duplicates, and at scale the
        # candidates frame is the largest intermediate — an extra
        # exchange to dedup it would be pure waste (r6 review)
        joined = joined.join(
            candidates.select(F.col(query_id_col), F.col("neighbor_id")),
            [query_id_col, "neighbor_id"],
            "left_semi",
        )
    scored = (
        joined
        .groupBy(query_id_col, "neighbor_id")
        .agg(
            F.round(F.sum("d").cast("double"), 6).alias("approx_dist")
        )
    )
    return topk_per_group(
        scored, [query_id_col], "approx_dist", "neighbor_id", top_k,
        ascending=True, rank_col="rank",
    ).select(query_id_col, "neighbor_id", "approx_dist", "rank")
