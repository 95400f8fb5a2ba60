"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (query side broadcast, one
pass over the corpus — linear scan, no shuffle of the corpus). The scale
path is LSH bucketing by deterministic random-hyperplane signs: corpus is
pre-bucketed once (a write-time transform at 100 TB), queries probe only
their bucket(s).

Cosine is a pure Catalyst expression (zip_with + aggregate over the array
column) — JVM-side, no Python in the hot loop.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aos_spark.ops.topk import topk_per_group


def dot_expr(a, b) -> Column:
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ac, bc, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a, b) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_from_norms(a, b, norm_a, norm_b) -> Column:
    """Cosine with PRE-MATERIALIZED norm columns: dot/(na*nb) — identical
    IEEE754 arithmetic to cosine_expr, but the O(dim) norm aggregation runs
    once per vector instead of once per pair."""
    na = F.col(norm_a) if isinstance(norm_a, str) else norm_a
    nb = F.col(norm_b) if isinstance(norm_b, str) else norm_b
    return dot_expr(a, b) / (na * nb)


_SIDE_IDS = {"q": "query_id", "c": "neighbor_id"}


def _side(df: DataFrame, id_col: str, vec_col: str, side: str, *extra) -> DataFrame:
    """(id, vector, norm) rows for one side of the cosine verify: query
    side "q" → (query_id, __qv, __qn), corpus side "c" → (neighbor_id,
    __cv, __cn), plus ``extra`` columns. The norm is computed here, once
    per vector — never once per candidate pair."""
    return df.select(
        F.col(id_col).alias(_SIDE_IDS[side]),
        F.col(vec_col).alias(f"__{side}v"),
        norm_expr(F.col(vec_col)).alias(f"__{side}n"),
        *extra,
    )


def _cosine_topk(cands: DataFrame, k: int, *extra) -> DataFrame:
    """The verify → top-k tail of every cosine ANN operator: candidate
    rows (query_id, __qv, __qn, neighbor_id, __cv, __cn) from ANY
    generator — broadcast scan, hyperplane bucket, IVF probe — are scored
    by exact cosine from the pre-computed norms, ranked by the shared
    rule (cosine desc, neighbor_id asc, ops/topk.topk_per_group) and
    rounded to 6 places. ``extra`` output columns sit before cosine."""
    scored = cands.withColumn(
        "cosine", cosine_from_norms("__qv", "__cv", "__qn", "__cn")
    )
    ranked = topk_per_group(
        scored, ["query_id"], "cosine", "neighbor_id", k, rank_col="rank"
    )
    return ranked.select(
        "query_id", "neighbor_id", *extra, F.round("cosine", 6).alias("cosine"), "rank"
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Plan shape: broadcast(queries) × corpus with a non-equi id-mismatch
    predicate (self-matches excluded) → the shared cosine verify → per-
    query top-k via window. The corpus never shuffles; only (|Q|·k) rows
    survive to the final exchange.
    """
    # NOTE (r16, measured): the |corpus|×|queries| cosine projection runs
    # at the SCAN's parallelism (1 task on a single-row-group corpus),
    # but spreading it with ensure_min_partitions was a net LOSS here —
    # interleaved A/B 0.87× on ann_recall_eval — because the per-row
    # work (|Q| dots) is light next to the round-robin shuffle + extra
    # stage it buys. Contrast pq_encode/kmeans_lloyd_step, where the
    # same guard won 1.2-1.7× (128-row join / 64·k distance map per row).
    cands = _side(corpus, id_col, vec_col, "c").join(
        F.broadcast(_side(queries, query_id_col, vec_col, "q")),
        F.col("neighbor_id") != F.col("query_id"),
    )
    return _cosine_topk(cands, k)


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (query) vector, the top-k most-cosine-similar corpus vectors whose
    LABEL differs from the anchor's — the near-miss negatives that make
    a contrastive batch informative (Robinson et al., "Contrastive
    Learning with Hard Negative Samples", ICLR'21 motivates the recipe;
    the mining step itself is this exact filtered top-k).

    Same plan as brute_force_topk with the label-mismatch predicate
    INSIDE the broadcast join — same-label rows (including the anchor
    itself) never materialize. Output adds neighbor_label."""
    cands = _side(corpus, id_col, vec_col, "c", F.col(label_col).alias("__cl")).join(
        F.broadcast(
            _side(queries, query_id_col, vec_col, "q", F.col(label_col).alias("__ql"))
        ),
        F.col("__cl") != F.col("__ql"),
    )
    return _cosine_topk(cands, k, F.col("__cl").alias("neighbor_label"))


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure stdlib, seeded)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def hyperplane_bucket(
    vec_col: str, n_planes: int = 8, seed: int = 7, dim: int = 64
) -> Column:
    """LSH bucket id = integer of sign bits of <v, h_i> for fixed seeded
    hyperplanes — a deterministic Catalyst expression (the planes are
    literals folded into the plan; no UDF, no nondeterminism)."""
    planes = _hyperplanes(dim, n_planes, seed)
    # ONE F.expr call instead of n_planes*dim F.lit calls: building the
    # plane arrays with per-element Column objects costs a py4j round-trip
    # per literal (~10 s of pure DRIVER time for 8×64 at plan-build),
    # while a single SQL string parses server-side in milliseconds. The
    # arithmetic is identical (repr() round-trips doubles exactly).
    terms = []
    for i, p in enumerate(planes):
        arr = "array(" + ",".join(f"{x!r}D" for x in p) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0.0D THEN {1 << i} ELSE 0 END)")
    # fail LOUD on a dim mismatch (r9 review): zip_with pads the shorter
    # array with NULLs, the dot goes NULL, and every CASE takes ELSE 0 —
    # silently putting the whole corpus in bucket 0 and collapsing the
    # LSH self-join into the full O(N²) cross product (results stay
    # correct through the exact verify, which is exactly why nobody
    # would notice until the 100 TB run never finishes).
    # A NULL embedding is a DIFFERENT defect class (corrupt row, not a
    # misconfigured pipeline — ADVICE r9): without its own branch it fell
    # into the dim guard with a nonsense message ('dim -1' under legacy
    # sizeOfNull, a NULL message under ANSI). It propagates NULL instead —
    # the bucket join then drops the row, matching how every other keyed
    # operator here treats NULL keys, and callers that require fully
    # non-NULL corpora can assert upstream.
    return F.expr(
        f"CASE WHEN `{vec_col}` IS NULL THEN NULL "
        f"WHEN size(`{vec_col}`) = {dim} THEN {' + '.join(terms)} "
        f"ELSE CAST(raise_error(concat('hyperplane_bucket: embedding dim ', "
        f"CAST(size(`{vec_col}`) AS STRING), ' != configured dim {dim}')) AS INT) END"
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF list assignment: each vector goes to its nearest centroid
    (broadcast centroids × corpus, per-vector argmin — corpus never
    shuffles). At warehouse scale this runs once at write time and the
    list id becomes a partition column."""
    c = centroids.select(
        F.col("centroid_id"), F.col("cvec"), norm_expr(F.col("cvec")).alias("cnorm")
    )
    # NOTE (r16, measured): spreading this 1-task map side with
    # ensure_min_partitions was a net loss (interleaved A/B 0.81× on
    # sim_ivf_topk) — k cosines per row are light next to the shuffle.
    scored = _side(corpus, id_col, vec_col, "c").crossJoin(F.broadcast(c))
    sim = cosine_from_norms("__cv", "cvec", "__cn", "cnorm")
    # r15 (guide §2.2 partial aggregation): the per-vector argmax was a
    # row_number window over the corpus×k scored frame — a full exchange
    # of k rows per vector plus a partition sort. One MIN(struct) aggregate
    # computes the same winner; map-side partials collapse each vector's k
    # rows before the exchange, so the shuffle moves ONE row per vector
    # and nothing sorts. Ordering parity with the window's
    # (sim DESC, centroid_id ASC): the min key is (-sim, centroid_id),
    # with NaN sims mapped to -inf so they win exactly as NaN-sorts-first
    # did under DESC; the vector and its norm ride as payload fields the
    # comparison never reaches (the key pair is unique per vector —
    # centroid ids are distinct).
    key = F.when(F.isnan(sim), F.lit(float("-inf"))).otherwise(-sim)
    best = F.min(
        F.struct(
            key.alias("k1"),
            F.col("centroid_id").alias("cid"),
            F.col("__cv").alias("v"),
            F.col("__cn").alias("vn"),
        )
    ).alias("b")
    return scored.groupBy("neighbor_id").agg(best).select(
        F.col("neighbor_id").alias(id_col),
        F.col("b.v").alias(vec_col),
        F.col("b.vn").alias("vnorm"),
        F.col("b.cid").alias("centroid_id"),
    )


def deterministic_centroids(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF 'training': the k lowest-id vectors act as
    centroids (reproducible in any engine — no iterative k-means, so the
    DuckDB oracle can mirror the exact structure; swap in k-means||
    offline without changing the probe path)."""
    return (
        corpus.orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("cvec"),
        )
    )


def ivf_probes(
    queries: DataFrame,
    cents: DataFrame,
    nprobe: int,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each query's ``nprobe`` nearest IVF cells — the coarse candidate
    stage shared by IVF-flat (ivf_topk) and IVF-PQ: broadcast centroids
    (centroid_id, cvec) × queries, ranked by cosine desc, centroid_id
    asc. Rows are (query_id, __qv, __qn, centroid_id); the query vector
    and its norm ride along for an exact verify step."""
    qc = _side(queries, query_id_col, vec_col, "q").crossJoin(
        F.broadcast(cents.withColumn("cnorm", norm_expr(F.col("cvec"))))
    )
    qc = qc.withColumn(
        "__qsim", cosine_from_norms("__qv", "cvec", "__qn", "cnorm")
    )
    return topk_per_group(
        qc, ["query_id"], "__qsim", "centroid_id", nprobe, rank_col="__rn"
    ).select("query_id", "__qv", "__qn", "centroid_id")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus pre-assigned to inverted lists,
    each query probes only its ``nprobe`` nearest lists. Scan cost drops by
    ~n_centroids/nprobe versus brute force; recall is tunable via nprobe.
    Pass ``centroids`` (id, vector rows — e.g. llm/cluster.kmeans_fit
    output) for a trained coarse quantizer; the default deterministic
    seeding keeps the gate query oracle-mirrorable.
    """
    if centroids is not None:
        cents = centroids.select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("cvec"),
        )
    else:
        cents = deterministic_centroids(corpus, n_centroids, id_col, vec_col)
    lists = ivf_assign(corpus, cents, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.col("vnorm").alias("__cn"),
        "centroid_id",
    )
    probes = ivf_probes(queries, cents, nprobe, query_id_col, vec_col)
    cands = lists.join(F.broadcast(probes), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _cosine_topk(cands, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 6,
    seed: int = 7,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: probe only the query's hyperplane bucket.

    At 100 TB the corpus is written pre-bucketed (bucket as a partition
    column) so a probe is a partition-pruned scan; here the bucket column
    is computed inline. Recall is tunable via n_planes (fewer planes →
    bigger buckets → higher recall, more compute).
    """
    # NOTE (r16): n_planes dots per row are light — the 1-task-scan
    # spread guard was a net loss on this family (see ivf_assign note)
    cb = _side(
        corpus, id_col, vec_col, "c",
        hyperplane_bucket(vec_col, n_planes, seed, dim).alias("bucket"),
    )
    qb = _side(
        queries, query_id_col, vec_col, "q",
        hyperplane_bucket(vec_col, n_planes, seed, dim).alias("bucket"),
    )
    cands = cb.join(F.broadcast(qb), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _cosine_topk(cands, k)


def projection_signs(dim: int, out_dim: int, seed: int = 5) -> list[list[int]]:
    """Deterministic +/-1 sign matrix (out_dim rows x dim cols) derived
    from md5 so any engine (or an external oracle) can reproduce it from
    (seed, i, j) alone — no RNG state, mirroring _hyperplanes."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:8], 16
            )
            & 1
            else -1
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_project(
    df: DataFrame,
    out_dim: int = 8,
    dim: int = 64,
    seed: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Sign-matrix random projection (Achlioptas 2003: +/-1 entries
    preserve pairwise distances like Gaussian ones, at integer cost):
    maps dim-d embeddings to out_dim-d sketches, proj_j = <x, s_j>/sqrt(d),
    rounded to 6 places (the repo's cross-engine float contract).

    Scale shape: a pure codegen'd projection — the sign matrix is a
    literal baked into the plan, so there is no join, no shuffle, no
    Python; cost is O(dim * out_dim) fused multiply-adds per row. This is
    the cheap front half of sketch-based ANN / dedup pipelines: downstream
    stages bucket or compare in out_dim dimensions instead of dim."""
    signs = projection_signs(dim, out_dim, seed)
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    inv_sqrt_d = 1.0 / math.sqrt(dim)
    cols = [
        F.round(
            dot_expr(vec, F.array(*[F.lit(float(s)) for s in row]))
            * F.lit(inv_sqrt_d),
            6,
        ).alias(f"proj_{j}")
        for j, row in enumerate(signs)
    ]
    return df.select(F.col(id_col), *cols)


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k0: int = 60,
    unit: int = 1_000_000_000,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two per-query rankings — the standard
    hybrid-search combiner (semantic ANN list + lexical list). Inputs are
    frames with columns (query_id, doc_id, rank); a doc missing from one
    list simply contributes nothing from that side.

    RRF's 1/(k0+rank) weights are carried as INTEGER MICRO-UNITS
    (⌊unit/(k0+rank)⌋, BIGINT) — the PageRank discipline: no float ever
    crosses the shuffle, so the fused ordering is bit-identical on any
    partitioning and engine, and ties break on doc_id.

    Plan: full outer join keyed by (query_id, doc_id) — both inputs are
    already top-N-per-query frames (|Q|·N rows), so this is dim-sized —
    then one query-keyed rank window for the fused top-k."""
    sa = a.select(
        "query_id",
        "doc_id",
        F.floor(F.lit(int(unit)) / (F.lit(int(k0)) + F.col("rank")))
        .cast("long")
        .alias("sem_micros"),
    )
    sb = b.select(
        "query_id",
        "doc_id",
        F.floor(F.lit(int(unit)) / (F.lit(int(k0)) + F.col("rank")))
        .cast("long")
        .alias("lex_micros"),
    )
    fused = (
        sa.join(sb, ["query_id", "doc_id"], "full_outer")
        .withColumn("sem_micros", F.coalesce("sem_micros", F.lit(0)))
        .withColumn("lex_micros", F.coalesce("lex_micros", F.lit(0)))
        .withColumn("rrf_micros", F.col("sem_micros") + F.col("lex_micros"))
    )
    return topk_per_group(
        fused, ["query_id"], "rrf_micros", "doc_id", topk, rank_col="fused_rank"
    ).select(
        "query_id", "doc_id", "rrf_micros", "sem_micros", "lex_micros", "fused_rank"
    )
