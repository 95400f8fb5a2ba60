"""Embedding clustering: distributed k-means (Lloyd) steps as pure
DataFrame ops.

The per-iteration shape is the scale story: vectors long-form-explode to
(vec, dim, value) ONCE; distances to the k broadcast centroids accumulate
in EXACT DECIMAL per (vector, centroid) so the argmin — and therefore the
assignment, and therefore the whole iteration — is bit-identical across
engines and partitionings (a double-sum argmin can flip on ties under
re-partitioning; decimal cannot). New centroids are exact-decimal means
cast to double once at the end. One iteration = two keyed shuffles
(distance rollup, centroid rollup); the fan-out is |vectors| × dims × k
rows map-side, immediately collapsed by partial aggregation — no driver
loop, no collect.

Seeding is deterministic (lowest-k vector ids), matching the oracle; at
warehouse scale swap in k-means|| seeding and loop this step with a
convergence check on centroid movement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aos_spark.llm.dedup import ensure_min_partitions
from aos_spark.llm.similarity import cosine_from_norms, norm_expr
from aos_spark.ops.fixpoint import iterate


def explode_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, dim, value-as-double) long form, dim 0-based."""
    return df.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("dim", "__v"),
    ).withColumn("__v", F.col("__v").cast("double"))


def centroids_to_vectors(
    centroids_long: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Pivot the long-form (cluster_id, dim, centroid) output back into
    (id, vector) rows — the shape kmeans_lloyd_step seeds from and the
    IVF probe path consumes."""
    return (
        centroids_long.groupBy("cluster_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("__s")
        )
        .select(
            F.col("cluster_id").alias(id_col),
            F.transform("__s", lambda x: x["centroid"]).alias(vec_col),
        )
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 4,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``n_iter`` Lloyd iterations (deterministic lowest-id seeding)
    and return the final centroids as (id, vector) rows. Each round is
    the two-shuffle step above, run as fixed rounds on
    ops/fixpoint.iterate (a local checkpoint per round, so the plan does
    not grow with iterations). Lloyd monotonically lowers inertia
    (tested), so a fixed small n_iter is the standard trade at corpus
    scale. The input is spread (kmeans_lloyd_step's guard) and
    materialized ONCE per fit, not once per round."""
    spread = ensure_min_partitions(df).localCheckpoint()
    cents, _ = iterate(
        _seeds(df, k, id_col),
        lambda c: centroids_to_vectors(_lloyd_step(spread, c, id_col, vec_col), id_col, vec_col),
        n_iter,
    )
    return cents


def kmeans_lloyd_step(
    df: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """One Lloyd iteration: assign every vector to its nearest centroid
    (squared-L2, exact-decimal accumulation, ties → lowest centroid id)
    and return the recomputed centroids LONG FORM —
    (cluster_id, n_members, dim, centroid) — so results hash stably
    without array-representation drift between engines.

    ``centroids`` defaults to the k lowest-id vectors (deterministic
    seed); pass the previous step's output (pivoted back to vectors) to
    iterate."""
    if centroids is None:
        centroids = _seeds(df, k, id_col)
    # the |corpus|·dim·k distance map side runs at the SCAN's parallelism
    # (no exchange below it) — a single-row-group parquet corpus is 1
    # task however many splits are requested (r16, guide §2.5)
    return _lloyd_step(ensure_min_partitions(df), centroids, id_col, vec_col)


def _seeds(df: DataFrame, k: int, id_col: str) -> DataFrame:
    """The k LOWEST-ID vectors, as documented — not filter(id < k), which
    silently under-seeds (possibly to zero) when ids are non-contiguous or
    non-zero-based (ADVICE r4). orderBy+limit is equally deterministic and
    runs once on the dim-sized frame."""
    return df.orderBy(F.col(id_col).asc()).limit(k)


def _lloyd_step(spread, centroids, id_col, vec_col) -> DataFrame:
    """kmeans_lloyd_step over ``spread``, an already-spread copy of the
    vectors, against the (id, vector) ``centroids``."""
    ve = explode_vectors(spread, id_col, vec_col)
    ce = explode_vectors(centroids, id_col, vec_col).select(
        F.col(id_col).alias("cid"), "dim", F.col("__v").alias("__c")
    )
    sq = (F.col("__v") - F.col("__c")) * (F.col("__v") - F.col("__c"))
    dists = (
        ve.join(F.broadcast(ce), "dim")
        .groupBy(id_col, "cid")
        .agg(F.sum(sq.cast("decimal(30,15)")).alias("__d"))
    )
    assigned = (
        dists.groupBy(id_col)
        .agg(F.min(F.struct("__d", "cid")).alias("__m"))
        .select(id_col, F.col("__m.cid").alias("cid"))
    )
    return (
        ve.join(assigned, id_col)
        .groupBy("cid", "dim")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col("__v").cast("decimal(28,12)")).alias("__s"),
        )
        .select(
            F.col("cid").alias("cluster_id"),
            F.col("__n").alias("n_members"),
            "dim",
            F.round(F.col("__s").cast("double") / F.col("__n"), 6).alias("centroid"),
        )
    )


def label_centroid_similarity(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-drift diagnostic: cosine similarity matrix between
    per-label centroids (are two sources/classes converging?).

    Centroid components accumulate as INTEGER MICRO-UNITS
    (``round(val·10⁶)`` per element, BIGINT-summed — the pagerank trick),
    so the per-label mean is partitioning- and engine-independent; the
    pairwise cosine then runs over |labels|² centroid pairs — a frame
    whose size is independent of corpus volume — with the same
    sequential-fold dot product the ANN tier uses (llm/similarity).

    Physical shape: posexplode (map-side) → (label, dim) micro-unit agg →
    per-label ordered re-collect (|dims| rows per label) → tiny centroid
    self-join. One data-sized shuffle total.
    """
    x = df.select(
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    c = x.groupBy("lbl", "dim").agg(
        F.sum(
            F.round(F.col("val").cast("double") * F.lit(1e6), 0).cast("long")
        ).alias("mu"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = (
        c.select(
            "lbl",
            "dim",
            (
                (F.col("mu") / F.lit(1e6)) / F.col("n").cast("double")
            ).alias("val"),
        )
        .groupBy("lbl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda s: s["val"],
            ).alias("cvec")
        )
        # norm once per centroid (the ANN tier's cosine_from_norms
        # pattern), not once per pair — same IEEE arithmetic, the norm
        # aggregation just runs |labels| times instead of |labels|²
        .withColumn("cnorm", norm_expr(F.col("cvec")))
    )
    a = cent.select(
        F.col("lbl").alias("label_a"),
        F.col("cvec").alias("va"),
        F.col("cnorm").alias("na"),
    )
    b = cent.select(
        F.col("lbl").alias("label_b"),
        F.col("cvec").alias("vb"),
        F.col("cnorm").alias("nb"),
    )
    return (
        a.join(b, F.col("label_a") <= F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine_from_norms("va", "vb", "na", "nb"), 6).alias(
                "cosine"
            ),
        )
    )
