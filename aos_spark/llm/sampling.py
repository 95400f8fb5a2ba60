"""Deterministic corpus sampling and splitting for training-data curation.

Everything here is HASH-derived, never RNG-derived: a row's assignment is a
pure function of its id (+ a salt), so splits are reproducible across runs,
engines, cluster sizes, and partitionings — the property that matters when
a 100 TB corpus is re-materialized and the val set must not drift into
train. Buckets come from the md5 prefix (cross-engine reproducible, see
aos_spark/queries oracle rules); all expressions are pure Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aos_spark.llm.dedup import WORD_SPLIT, tokens

DEFAULT_SPLITS: tuple[tuple[str, int], ...] = (("train", 80), ("val", 10), ("test", 10))


def hash_bucket(id_col: Column | str, n_buckets: int = 100, salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets): first 8 md5 hex chars of
    (salt || id) as an integer, mod n_buckets. Uniform, engine-portable."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 8), 16, 10)
    return h.cast("bigint") % n_buckets


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: tuple[tuple[str, int], ...] = DEFAULT_SPLITS,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Add a train/val/test (or any weighted) split column. Weights are
    integer percentages summing to 100; assignment is per-row hash bucket,
    so it is stable under any repartitioning or re-run."""
    if sum(w for _, w in splits) != 100:
        raise ValueError("split weights must sum to 100")
    bucket = hash_bucket(id_col, 100, salt)
    expr = None
    edge = 0
    for name, w in splits[:-1]:
        edge += w
        expr = (
            F.when(bucket < edge, F.lit(name))
            if expr is None
            else expr.when(bucket < edge, F.lit(name))
        )
    expr = expr.otherwise(F.lit(splits[-1][0])) if expr is not None else F.lit(splits[-1][0])
    return df.withColumn(out_col, expr)


def fraction_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample",
    n_buckets: int = 1_000_000,
) -> DataFrame:
    """Keep ~fraction of rows, deterministically (hash threshold — a pushed
    filter, no shuffle, no RNG). Resolution is 1/n_buckets."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.filter(hash_bucket(id_col, n_buckets, salt) < int(round(fraction * n_buckets)))


def kfold_assign(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    salt: str = "fold",
    out_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    hash_bucket(id) mod k — every row lands in exactly one fold, folds are
    ~equal-sized, and the assignment survives re-partitioning/re-runs
    (the same property deterministic_split guarantees for train/val)."""
    return df.withColumn(out_col, hash_bucket(id_col, k, salt).cast("int"))


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "wsample",
    n_buckets: int = 1_000_000,
) -> DataFrame:
    """Deterministic weighted Bernoulli sample: row i keeps with
    probability min(1, fraction · w_i / mean(w)) — expected kept fraction
    ≈ ``fraction``, heavier rows proportionally more likely, and the
    decision is still a pure hash function of the id (reproducible across
    engines/partitionings). The mean weight is a 1-row exact-decimal agg
    broadcast-cross-joined in (one lazy plan, no driver pass)."""
    mean_w = df.agg(
        (
            F.sum(F.col(weight_col).cast("decimal(28,6)")).cast("double")
            / F.count(weight_col)
        ).alias("__mean_w")
    )
    u = hash_bucket(id_col, n_buckets, salt).cast("double") / float(n_buckets)
    p = F.least(
        F.lit(1.0), F.lit(fraction) * F.col(weight_col) / F.col("__mean_w")
    )
    return (
        df.crossJoin(F.broadcast(mean_w))
        .filter(u < p)
        .drop("__mean_w")
    )


def stratified_exact_n(
    df: DataFrame,
    strata_cols: list[str],
    n: int,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum: the n smallest hashes in
    each group — a deterministic stand-in for per-stratum reservoir
    sampling. The window is PARTITIONED by the strata (one shuffle keyed by
    stratum; skewed strata are bounded by n output rows each)."""
    h = hash_bucket(id_col, 1 << 62, salt)
    w = Window.partitionBy(*strata_cols).orderBy(F.col("__h"), F.col(id_col))
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__h", "__rn")
    )


def mixture_plan(
    df: DataFrame,
    targets: dict[str, float],
    domain_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Training-mixture rebalancing plan (the DoReMi/Pile-style domain-
    weighting step): given target corpus shares per domain, compute each
    domain's current token share and the deterministic keep-rate that
    moves the mix toward the target by DOWN-sampling over-represented
    domains (rate = min(1, target/current); up-sampling is epoch repeats,
    a separate concern). ``expected_tokens = floor(n_tokens * rate)`` is
    what one pass at that rate yields.

    Feed the rates to ``fraction_sample`` (hash-derived, not RNG) for the
    actual row selection. Domains absent from ``targets`` get rate 0.

    Scale shape: one partial-aggregated groupBy over the corpus (tokens
    counted JVM-side), then arithmetic against a broadcast 1-row total —
    no window, no second scan, no Python."""
    n_tokens = F.size(tokens(text_col, WORD_SPLIT))
    per_domain = (
        df.select(F.col(domain_col).alias("domain"), n_tokens.alias("__t"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").cast("long").alias("n_tokens"),
        )
    )
    total = per_domain.agg(F.sum("n_tokens").cast("long").alias("__total"))
    target_map = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )
    return (
        per_domain.crossJoin(F.broadcast(total))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            (F.col("n_tokens") / F.col("__total")).alias("current_share"),
            F.coalesce(
                target_map[F.col("domain")].cast("double"), F.lit(0.0)
            ).alias("target_share"),
        )
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            "current_share",
            "target_share",
            F.least(
                F.lit(1.0), F.col("target_share") / F.col("current_share")
            ).alias("keep_rate"),
        )
        .withColumn(
            "expected_tokens",
            F.floor(F.col("n_tokens") * F.col("keep_rate")).cast("long"),
        )
    )


def apply_mixture(
    df: DataFrame,
    plan: DataFrame,
    domain_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix",
    n_buckets: int = 1_000_000,
) -> DataFrame:
    """Materialize a ``mixture_plan``: per-domain deterministic hash-
    threshold selection (the per-row-rate sibling of fraction_sample).
    Each domain's keep rate becomes an integer bucket threshold
    (``round(rate · n_buckets)``, HALF-UP in-plan — not Python round's
    banker's rounding), the plan broadcasts (|domains| rows), and the
    selection is a pushed filter — no shuffle of the corpus, no RNG, the
    same docs survive under any partitioning and in any engine.
    """
    rates = plan.select(
        F.col("domain").alias("__dom"),
        F.round(F.col("keep_rate") * n_buckets, 0).cast("long").alias("__thr"),
    )
    return (
        df.join(F.broadcast(rates), df[domain_col] == F.col("__dom"))
        .filter(hash_bucket(id_col, n_buckets, salt) < F.col("__thr"))
        .drop("__dom", "__thr")
    )


def proportional_allocation(
    df: DataFrame,
    strata_cols: list[str],
    budget_pct: int = 10,
    id_col: str = "doc_id",
    salt: str = "alloc",
) -> DataFrame:
    """Largest-remainder (Hamilton) proportional sampling: split a total
    budget of ``budget_pct`` percent of the corpus across strata exactly
    proportional to their sizes, with the rounding slack handed to the
    strata with the largest remainders — so Σ alloc == budget EXACTLY,
    the property floor- or round-per-stratum allocation lacks.

    All allocation arithmetic is INTEGER (base = ⌊B·c/N⌋, remainder
    = B·c mod N, ties broken by stratum name), so the plan is
    SF- and engine-reproducible with no float anywhere. Selection inside
    each stratum is the md5-rank rule of stratified_exact_n: the alloc_i
    smallest hashes win, deterministic under any partitioning.

    Plan: stratum counts (one map-combined shuffle) → the allocation is
    computed entirely on the |strata|-sized frame (1-row total broadcast
    + a remainder-rank window over |strata| rows) → broadcast back onto
    the corpus → per-stratum rank window (one stratum-keyed shuffle) →
    filter rank ≤ alloc. Two corpus shuffles total, both keyed by the
    strata; every other frame is dim-sized.

    Returns the selected rows plus ``__alloc`` (the stratum's quota) and
    ``__stratum_n`` (its population)."""
    counts = df.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("__stratum_n"))
    total = counts.agg(F.sum("__stratum_n").alias("__n_total"))
    sized = counts.crossJoin(F.broadcast(total)).withColumn(
        "__budget",
        F.floor(F.col("__n_total") * F.lit(int(budget_pct)) / 100).cast("long"),
    )
    sized = (
        sized.withColumn(
            "__base",
            F.floor(
                (F.col("__budget") * F.col("__stratum_n")) / F.col("__n_total")
            ).cast("long"),
        )
        .withColumn(
            "__rem",
            F.col("__budget") * F.col("__stratum_n")
            - F.col("__base") * F.col("__n_total"),
        )
    )
    w_left = Window.orderBy(F.col("__rem").desc(), *[F.col(c) for c in strata_cols])
    leftover = sized.agg(
        (F.first("__budget") - F.sum("__base")).alias("__leftover")
    )
    alloc = (
        sized.withColumn("__rk", F.row_number().over(w_left))
        .crossJoin(F.broadcast(leftover))
        .withColumn(
            "__alloc",
            F.col("__base")
            + F.when(F.col("__rk") <= F.col("__leftover"), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        .select(*strata_cols, "__stratum_n", "__alloc")
    )
    h = hash_bucket(id_col, 1 << 62, salt)
    w_sel = Window.partitionBy(*strata_cols).orderBy(F.col("__h"), F.col(id_col))
    return (
        df.join(F.broadcast(alloc), strata_cols)
        .withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(w_sel))
        .filter(F.col("__rn") <= F.col("__alloc"))
        .drop("__h", "__rn")
    )
