"""Exact distributed second-moment statistics (variance/covariance/
correlation) from DECIMAL moment sums.

Engine-native ``corr``/``covar_samp``/``stddev_samp`` accumulate doubles in
a streaming update (Welford-style in Spark, a different order in DuckDB/
pandas), so the last bits depend on partitioning and engine — they can
never be cross-engine or cross-run exact. This module instead aggregates
the five raw moments (n, Σx, Σy, Σxy, Σx², Σy²) as DECIMAL(38, s) — exact
integers-in-disguise, order-independent — and derives the statistics with
a fixed sequence of double operations, so the result is bit-identical on
ANY partitioning and in any engine that follows the same formula.

Numerical caveat, stated honestly: the textbook moment form loses
precision when |mean| ≫ stddev. The decimal accumulation removes the
summation error entirely (sums are exact); only the final catastrophic
cancellation remains, which is acceptable for the value ranges here and
is the price of cross-engine reproducibility. For ill-conditioned data,
pre-center x and y by an approximate mean first (same operator shape).

INPUT CONTRACT (round-9 lesson, the order_autocorrelation divergence):
the value columns must be EXACTLY representable at the decimal scale —
raw columns with ≤scale decimal places, values pre-rounded with
ROUND(x, scale) in double space, or exact decimals. NEVER feed a
computed double (a quotient, product, or mean): the double→decimal cast
itself is knife-edge unsafe across engines — Spark correctly rounds the
shortest decimal repr half-up via BigDecimal, DuckDB scales by
10^scale in double space first (a double rounding) — and measured
divergence rates on identical doubles are ~0.4% for quotient-shaped
values at scale 6 and ~4% for anything at scale 15. Because this module
emits the rounded moment sums as OUTPUT columns, even one flipped unit
is a visible result difference, not an absorbed intermediate. Build
exact series instead (integral division → decimal multiply — see
queries/stats.q_order_autocorrelation) and keep
tests/test_stats_cross_engine.py green.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def complete_pairs(df: DataFrame, x: str, y: str, scale: int = 6) -> DataFrame:
    """Pairwise-deletion pre-filter for the moment machinery: keep only
    rows where BOTH value columns are non-NULL (a pair contributes to all
    six aggregates or to none — engine-native corr/covar_samp semantics).

    Two layers (ADVICE r9 + r10): the RAW isNotNull conjuncts mirror the
    oracles' ``WHERE x IS NOT NULL AND y IS NOT NULL`` and push down to
    the scan; the POST-CAST conjuncts close the non-ANSI overflow hole —
    under non-ANSI Spark a decimal(18,scale) overflow casts to NULL, so
    without them the sums would skip the row while n (and the partner
    column's sums) kept it, the exact r9 wrong-n-vs-sums corruption
    class. Filtering ONCE here keeps all six aggregates consistent by
    construction with zero per-aggregate branches (the r10 perf fix that
    retired the twelve when-gated sums stands). Under the gate's ANSI
    sessions the cast raises here exactly as it previously raised inside
    the aggregate, and with in-contract magnitudes (|value| <
    10^(18-scale)) the cast conjuncts are vacuously true — no result
    change in either certified configuration."""
    dec = f"decimal(18,{scale})"
    return df.filter(
        F.col(x).isNotNull()
        & F.col(y).isNotNull()
        & F.col(x).cast(dec).isNotNull()
        & F.col(y).cast(dec).isNotNull()
    )


def moment_aggs(x: str, y: str, scale: int = 6) -> list[Column]:
    """The five exact moment sums + count for (x, y), decimal-accumulated.

    INPUT: a pairwise-complete frame — callers pre-filter NULLs with
    :func:`complete_pairs` (the r9 per-aggregate CASE gating is retired;
    see its docstring). ``n`` is therefore the complete-pair count.

    Each sum is ROUNDED (linear sums to 2 decimals, product sums to whole
    units) before the double cast: a decimal whose integer-unit magnitude
    stays under 2^53 converts to double EXACTLY in every engine, whereas
    casting a 26-significant-digit DECIMAL(38,12) to double rounds
    differently ulp-wise across engines (observed Spark vs DuckDB). The
    rounding perturbs the moments by ≤0.5 unit — relative 1e-14 here —
    and identically in both engines, preserving bit-exactness."""
    xd = F.col(x).cast(f"decimal(18,{scale})")
    yd = F.col(y).cast(f"decimal(18,{scale})")

    def lin(c: Column) -> Column:
        return F.round(F.sum(c), 2).cast("double")

    def prod(c: Column) -> Column:
        return F.round(F.sum(c.cast(f"decimal(38,{2 * scale})")), 0).cast("double")

    return [
        F.count(F.lit(1)).alias("n"),
        lin(xd).alias("sum_x"),
        lin(yd).alias("sum_y"),
        prod(xd * yd).alias("sum_xy"),
        prod(xd * xd).alias("sum_xx"),
        prod(yd * yd).alias("sum_yy"),
    ]


def derive_stats(df: DataFrame, round_to: int = 6) -> DataFrame:
    """Attach covar_samp / corr / stddev columns derived from the moment
    sums with a FIXED operation order (documented in the SQL oracle)."""
    n = F.col("n").cast("double")
    cov = (F.col("sum_xy") - F.col("sum_x") * F.col("sum_y") / n) / (n - 1)
    var_x = (F.col("sum_xx") - F.col("sum_x") * F.col("sum_x") / n) / (n - 1)
    var_y = (F.col("sum_yy") - F.col("sum_y") * F.col("sum_y") / n) / (n - 1)
    # NULL, never NaN/Infinity (r9 review): engine-native corr/covar_samp
    # return NULL for n<2 and for zero-variance groups; the unguarded
    # moment form emitted 0/0=NaN and cov/0=Inf there, values the
    # null-contract rollups downstream were never designed for. (A
    # constant group's variance can also land a hair NEGATIVE from the
    # unit-rounding of the moment sums — the same guard routes that to
    # NULL instead of sqrt(NaN).) The guarded expressions keep the fixed
    # op order on every group the guards don't fire for.
    valid = F.col("n") >= 2
    cov_g = F.when(valid, cov)
    sd_x = F.when(valid & (var_x >= 0), F.sqrt(var_x))
    sd_y = F.when(valid & (var_y >= 0), F.sqrt(var_y))
    corr = F.when(
        valid & (var_x > 0) & (var_y > 0), cov / F.sqrt(var_x * var_y)
    )
    return df.select(
        *df.columns,
        F.round(cov_g, round_to).alias("covar_xy"),
        F.round(sd_x, round_to).alias("stddev_x"),
        F.round(sd_y, round_to).alias("stddev_y"),
        F.round(corr, round_to).alias("corr_xy"),
    )


def grouped_correlation(
    df: DataFrame, group_cols: list[str], x: str, y: str, scale: int = 6
) -> DataFrame:
    """Per-group exact-moment correlation: one map-side-combined shuffle on
    the group keys; every downstream value is a deterministic function of
    the exact moments. NULL pairs are pairwise-deleted up front
    (:func:`complete_pairs`)."""
    moments = (
        complete_pairs(df, x, y, scale)
        .groupBy(*group_cols)
        .agg(*moment_aggs(x, y, scale))
    )
    return derive_stats(moments)


def lagged_autocorrelation(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    lag: int = 1,
    scale: int = 6,
) -> DataFrame:
    """Per-group lag-``k`` autocorrelation of an ordered series, built
    from the same exact decimal moments as :func:`grouped_correlation`.

    Pairs (xₜ, xₜ₋ₖ) come from ONE group-partitioned ``lag`` window (the
    series must already be one row per ``order_col`` value per group);
    the moment aggregate then reuses the deterministic machinery above,
    so the autocorrelation is bit-identical on any partitioning and in
    any engine following the same formula. Physical shape: one key-hash
    shuffle shared by the window and the moment agg (same partitioning —
    Catalyst elides the second exchange).

    Note the same magnitude caveat as ``moment_aggs``: values are
    accumulated as DECIMAL(18, scale), so per-row magnitudes must stay
    under 10^(18-scale); pre-scale wider series before calling.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(order_col)
    lagged = df.withColumn("__prev", F.lag(value_col, lag).over(w)).filter(
        F.col("__prev").isNotNull()
    )
    return grouped_correlation(lagged, group_cols, value_col, "__prev", scale)


def group_rank_value_bounds(
    fact: DataFrame,
    group_cols: list[str],
    value_col: str,
    rank_specs: dict[str, "object"],
    *,
    bucket_width: float | None = None,
    n_buckets: int = 2048,
    with_sums: bool = False,
) -> DataFrame:
    """Per-group VALUES at requested 1-based ascending ranks WITHOUT a
    per-group global sort — two-pass range-partitioned exact-rank
    selection (guide §2.5 skew / §5 memory): the historical
    ``Window.partitionBy(group).orderBy(value)`` shape puts each group's
    ENTIRE row set on one task's sort (3 tasks for 600k rows at sf0.1; a
    guaranteed straggler for a handful of groups over a 100 TB fact).

    Key fact making this exact: the value at global rank k (ordering by
    value, ANY tie order) is tiebreak-insensitive — the sorted multiset
    of values is fixed, so position k holds one well-defined value. So
    rank selection needs no tiebreak columns and no global sort:

    1. histogram pass — per (group, bucket) counts (and, with
       ``with_sums``, exact decimal sums), where bucket is an
       ORDER-CONSISTENT quantization of the double cast: with
       ``bucket_width`` it is ``floor(v / width)`` (division by a
       positive constant and floor are monotone non-decreasing IEEE
       ops, so v1 <= v2 implies bucket(v1) <= bucket(v2) for ANY data —
       the width choice affects only bucket counts, never correctness);
       without a width, a min/max stats pass normalizes the range to
       ``n_buckets`` buckets first (one extra scan).
    2. prefix sums over the bounded histogram locate each rank's bucket
       and its within-bucket offset;
    3. fetch pass — only BOUNDARY-bucket rows (n/|buckets| per group in
       expectation) are ranked locally; the offset-th smallest is the
       exact global rank-k value.

    ``rank_specs`` maps output column name -> fn(n: Column) -> 1-based
    rank Column (must land in [1, n] for every group; a rank outside it,
    or NULL, raises at execution time). Returns one row
    per group: group_cols, __n (group count), and one column per tag
    with the value at that rank (the value column's own type).

    ``with_sums`` additionally returns, per group, ``__stot`` (exact
    decimal SUM of the value column) and per tag the value-relative
    split stats — ``{tag}__n_lt``/``{tag}__s_lt`` (count/sum of rows
    STRICTLY below the picked value) and ``{tag}__n_le``/``{tag}__s_le``
    (at or below) — tie-exact via the within-bucket first-occurrence
    rank and tie count, so callers can compute clamped/trimmed
    aggregates ALGEBRAICALLY without a third pass over the fact.

    Scale envelope: the largest task is max(boundary-bucket size) —
    n/|buckets| for anything non-degenerate — vs the whole hottest
    group before. Values must be non-NULL (all callers rank NOT NULL
    measures; NULLs would need the window shape's NULLS FIRST
    convention): a NULL value raises at execution time instead of
    landing in a NULL bucket.
    """
    from pyspark.sql import Window

    from aos_spark.cache import persist_tracked

    v = F.col(value_col)
    if bucket_width is not None:
        # domain-informed fixed width: no stats pass, bucket ids sparse
        bucket = F.floor(v.cast("double") / F.lit(float(bucket_width)))
        gstats = None
    else:
        gstats = persist_tracked(
            fact.groupBy(*group_cols).agg(
                F.min(v).alias("__vmin"), F.max(v).alias("__vmax")
            )
        )
        lo_d = F.col("__vmin").cast("double")
        span = F.col("__vmax").cast("double") - lo_d
        width = span / F.lit(float(n_buckets))
        # span <= 0 (constant or 1-row group) degenerates to one bucket
        bucket = F.when(
            span > 0,
            F.least(
                F.lit(n_buckets - 1).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor((v.cast("double") - lo_d) / width),
                ),
            ),
        ).otherwise(F.lit(0).cast("long"))

    bucket = F.when(v.isNull(), F.raise_error(F.lit(
        f"group_rank_value_bounds: NULL {value_col!r} value; values must be non-NULL"
    ))).otherwise(bucket)

    def with_bucket(frame: DataFrame) -> DataFrame:
        if gstats is not None:
            frame = frame.join(F.broadcast(gstats), group_cols)
        return frame.withColumn("__b", bucket)

    hist_aggs = [F.count(F.lit(1)).alias("__c")]
    if with_sums:
        hist_aggs.append(F.sum(v).alias("__s"))
    hist = with_bucket(fact).groupBy(*group_cols, "__b").agg(*hist_aggs)
    # fold the whole cumulative/locate stage into ONE per-group row: the
    # histogram is bounded (domain/width buckets), so collecting it into
    # a sorted array and walking prefix sums with an aggregate() HOF
    # replaces the window + per-tag spec machinery — measured r16, this
    # halved the AQE micro-stage count (every tiny exchange/window is a
    # separate AQE job at ~70-100 ms of pure orchestration latency)
    per_group_aggs = [F.sum("__c").alias("__n")]
    struct_fields = ["__b", "__c"] + (["__s"] if with_sums else [])
    if with_sums:
        per_group_aggs.append(F.sum("__s").alias("__stot"))
    per_group_aggs.append(
        F.array_sort(F.collect_list(F.struct(*struct_fields))).alias("__h")
    )
    per_group = hist.groupBy(*group_cols).agg(*per_group_aggs)

    stot_t = None
    if with_sums:
        stot_t = dict(per_group.dtypes)["__stot"]

    def locate(tag: str, k: Column) -> Column:
        """Walk the sorted bucket array once: the struct of the bucket
        holding rank k, its within-bucket offset, and the bucket-prefix
        count (and sum) — exact longs/decimals end to end."""
        zero_fields = [
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("long").alias("b"),
            F.lit(0).cast("long").alias("off"),
            F.lit(0).cast("long").alias("cb"),
        ]
        if with_sums:
            zero_fields += [
                F.lit(0).cast(stot_t).alias("cums"),
                F.lit(None).cast(stot_t).alias("scb"),
            ]
        zero = F.struct(*zero_fields)

        def merge(acc: Column, x: Column) -> Column:
            hit = acc["b"].isNull() & (k <= acc["cum"] + x["__c"])
            fields = [
                (acc["cum"] + x["__c"]).cast("long").alias("cum"),
                F.when(hit, x["__b"]).otherwise(acc["b"]).alias("b"),
                F.when(hit, k - acc["cum"]).otherwise(acc["off"]).alias("off"),
                F.when(hit, acc["cum"]).otherwise(acc["cb"]).alias("cb"),
            ]
            if with_sums:
                fields += [
                    (acc["cums"] + x["__s"]).cast(stot_t).alias("cums"),
                    F.when(hit, acc["cums"]).otherwise(acc["scb"]).alias("scb"),
                ]
            return F.struct(*fields)

        loc_fields = [
            F.lit(tag).alias("__tag"),
            F.col("__loc")["b"].alias("__b"),
            F.col("__loc")["off"].alias("__off"),
            F.col("__loc")["cb"].alias("__cb"),
        ]
        if with_sums:
            loc_fields.append(F.col("__loc")["scb"].alias("__scb"))
        return F.aggregate("__h", zero, merge).alias("__loc"), loc_fields

    # one boundary row per (group, tag); tags sharing a bucket duplicate
    # the bucket's fetch rows per tag, and the fetch window partitions by
    # tag as well, so each copy ranks independently (correct and tiny)
    located = per_group
    for tag, rank_fn in rank_specs.items():
        k = rank_fn(F.col("__n"))
        k = F.when((k >= 1) & (k <= F.col("__n")), k).otherwise(F.raise_error(
            F.format_string(
                f"group_rank_value_bounds: rank %s for {tag!r} outside [1, %s]",
                k, F.col("__n"),
            )
        ))
        loc_col, loc_fields = locate(tag, k)
        located = (
            located.withColumn("__loc", loc_col)
            .withColumn(f"__spec_{tag}", F.struct(*loc_fields))
            .drop("__loc")
        )
    group_consts = ["__n"] + (["__stot"] if with_sums else [])
    boundary = located.select(
        *group_cols,
        *group_consts,
        F.explode(
            F.array(*[F.col(f"__spec_{tag}") for tag in rank_specs])
        ).alias("__sp"),
    ).select(*group_cols, *group_consts, "__sp.*")

    w_in = Window.partitionBy(*group_cols, "__b", "__tag").orderBy(value_col)
    ranked = (
        with_bucket(fact)
        .join(F.broadcast(boundary), [*group_cols, "__b"])
        .withColumn("__rn", F.row_number().over(w_in).cast("long"))
    )
    if with_sums:
        # tie-exact within-bucket stats at each row: first-occurrence
        # rank of the row's value, tie count, and the cumulative sum of
        # the first __rn values (tie-order-insensitive: a ROWS-frame sum
        # over a fixed value multiset)
        ranked = (
            ranked.withColumn("__r1", F.rank().over(w_in).cast("long"))
            .withColumn(
                "__ceq",
                F.count(F.lit(1))
                .over(
                    Window.partitionBy(*group_cols, "__b", "__tag", value_col)
                )
                .cast("long"),
            )
            .withColumn(
                "__csum",
                F.sum(v).over(w_in.rowsBetween(Window.unboundedPreceding, 0)),
            )
        )
    picked = ranked.filter(F.col("__rn") == F.col("__off"))
    if with_sums:
        # rows/sums strictly below ('lt') and at-or-below ('le') the
        # picked value, across the WHOLE group: bucket-prefix stats +
        # the within-bucket split around the tie run [__r1, __r1+__ceq)
        n_lt = F.col("__cb") + F.col("__r1") - 1
        s_lt = F.col("__scb") + (
            F.col("__csum") - (F.col("__rn") - F.col("__r1") + 1) * v
        )
        n_le = F.col("__cb") + F.col("__r1") + F.col("__ceq") - 1
        s_le = F.col("__scb") + (
            F.col("__csum")
            + (F.col("__r1") + F.col("__ceq") - 1 - F.col("__rn")) * v
        )
        picked = (
            picked.withColumn("__n_lt", n_lt)
            .withColumn("__s_lt", s_lt)
            .withColumn("__n_le", n_le)
            .withColumn("__s_le", s_le)
        )

    tag_aggs = []
    for tag in rank_specs:
        is_tag = F.col("__tag") == tag
        tag_aggs.append(F.min(F.when(is_tag, v)).alias(tag))
        if with_sums:
            for extra in ("__n_lt", "__s_lt", "__n_le", "__s_le"):
                tag_aggs.append(
                    F.min(F.when(is_tag, F.col(extra))).alias(f"{tag}{extra}")
                )
    group_consts = [F.min("__n").alias("__n")] + (
        [F.min("__stot").alias("__stot")] if with_sums else []
    )
    return picked.groupBy(*group_cols).agg(*group_consts, *tag_aggs)


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tiebreak_cols: list[str],
    k: float = 3.0,
    bucket_width: float | None = None,
) -> DataFrame:
    """Robust per-group outlier screening via median absolute deviation:
    flag rows where |x − median| > k · MAD, with both the median and the
    MAD computed EXACTLY by the repo's rank-and-interpolate pattern
    (see q_percentile_cont) — never an engine-native approximate
    quantile, whose tie conventions differ across engines.

    Two shapes (r16, measured):

    - ``bucket_width=None`` (default): the historical pair of
      group-partitioned ranking windows (values, then deviations) with
      the deviation frame persisted. One task per group and sort —
      6 Spark jobs end to end, 1.4-2.0 s at sf0.1. Skew envelope = the
      hottest group on one task; for a handful of groups over a 100 TB
      fact use the range-partitioned shape below.
    - ``bucket_width`` set: BOTH medians via the two-pass
      range-partitioned exact-rank selection (group_rank_value_bounds)
      — no group-partitioned sort anywhere, largest task =
      n/|buckets|. The cost is orchestration, not compute: two
      SEQUENTIAL selections (dev depends on med) are ~20 AQE stage-jobs
      vs the window shape's 6, measured +1.0-1.5 s at sf0.1 — so the
      registry query keeps the window shape at bench scale and this
      path is the documented at-scale escape hatch (the
      winsorized/percentile siblings, whose selection is ONE pass, DID
      move to it and got faster).

    Both shapes are bit-identical: the interpolated median only needs
    the VALUES at the two bracketing ranks, which are
    tiebreak-insensitive, so ``tiebreak_cols`` only shape the window
    variant's sort (never the result).

    Output per group: n_rows, median, mad, n_outliers, outlier_frac.
    """
    from pyspark.sql import Window

    from aos_spark.cache import persist_tracked

    def _p50_window(frame: DataFrame, col: str) -> DataFrame:
        w = Window.partitionBy(*group_cols).orderBy(col, *tiebreak_cols)
        cw = Window.partitionBy(*group_cols)
        ranked = frame.select(
            *group_cols,
            F.col(col).alias("__v"),
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(cw).alias("__n"),
        )
        idx = F.lit(0.5) * (F.col("__n") - 1).cast("double")
        lo = F.floor(idx).cast("bigint") + 1
        hi = F.least(lo + 1, F.col("__n"))
        v_lo = F.min(F.when(F.col("__rn") == lo, F.col("__v")))
        v_hi = F.min(F.when(F.col("__rn") == hi, F.col("__v")))
        frac = F.min(F.when(F.col("__rn") == lo, idx - F.floor(idx)))
        return ranked.groupBy(*group_cols).agg(
            (v_lo + frac * (v_hi - v_lo)).alias("__med")
        )

    def _p50_ranged(frame: DataFrame, col: str) -> DataFrame:
        idx = F.lit(0.5) * (F.col("__n") - 1).cast("double")
        picked = group_rank_value_bounds(
            frame.select(*group_cols, col),
            group_cols,
            col,
            {
                "__v_lo": lambda n: F.floor(
                    F.lit(0.5) * (n - 1).cast("double")
                ).cast("bigint")
                + 1,
                "__v_hi": lambda n: F.least(
                    F.floor(F.lit(0.5) * (n - 1).cast("double")).cast("bigint")
                    + 2,
                    n,
                ),
            },
            bucket_width=bucket_width,
        )
        frac = idx - F.floor(idx)
        return picked.select(
            *group_cols,
            (
                F.col("__v_lo") + frac * (F.col("__v_hi") - F.col("__v_lo"))
            ).alias("__med"),
        )

    if bucket_width is None:
        med = _p50_window(df, value_col)
        with_dev = persist_tracked(
            df.join(med, on=group_cols).withColumn(
                "__dev", F.abs(F.col(value_col) - F.col("__med"))
            )
        )
        mad = _p50_window(with_dev, "__dev").withColumnRenamed(
            "__med", "__mad"
        )
        flagged = with_dev.join(mad, on=group_cols).withColumn(
            "__is_out", F.col("__dev") > F.lit(k) * F.col("__mad")
        )
    else:
        # narrow proxy persisted ONCE: the two median selections' passes
        # and the flag rollup read it from cache (guide §8 step 1); the
        # |groups|-row med/mad frames are persisted because their
        # SUBTREES are whole selection pipelines with 3 consumers each
        df = persist_tracked(df.select(*group_cols, value_col))
        med = persist_tracked(_p50_ranged(df, value_col))
        with_dev = df.join(F.broadcast(med), on=group_cols).withColumn(
            "__dev", F.abs(F.col(value_col) - F.col("__med"))
        )
        mad = persist_tracked(
            _p50_ranged(with_dev, "__dev").withColumnRenamed("__med", "__mad")
        )
        flagged = with_dev.join(F.broadcast(mad), on=group_cols).withColumn(
            "__is_out", F.col("__dev") > F.lit(k) * F.col("__mad")
        )
    return flagged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("__med"), 6).alias("median"),
        F.round(F.min("__mad"), 6).alias("mad"),
        F.sum(F.col("__is_out").cast("long")).alias("n_outliers"),
        F.round(
            F.sum(F.col("__is_out").cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("outlier_frac"),
    )


def grouped_linregress(
    df: DataFrame, group_cols: list[str], x: str, y: str, scale: int = 6
) -> DataFrame:
    """Per-group ordinary-least-squares line (slope/intercept/r) from the
    SAME exact decimal moments as grouped_correlation — slope =
    cov/var_x and intercept = (Σy − slope·Σx)/n are fixed IEEE sequences
    over the order-independent moment sums, so the fit is bit-identical
    on any partitioning and engine. One map-combined shuffle, same
    magnitude caveats as moment_aggs; NULL pairs pairwise-deleted up
    front (:func:`complete_pairs`)."""
    m = complete_pairs(df, x, y, scale).groupBy(*group_cols).agg(*moment_aggs(x, y, scale))
    n = F.col("n").cast("double")
    cov = (F.col("sum_xy") - F.col("sum_x") * F.col("sum_y") / n) / (n - 1)
    var_x = (F.col("sum_xx") - F.col("sum_x") * F.col("sum_x") / n) / (n - 1)
    var_y = (F.col("sum_yy") - F.col("sum_y") * F.col("sum_y") / n) / (n - 1)
    slope = cov / var_x
    # NULL for degenerate groups (n<2, constant x) — same rationale as
    # derive_stats (r9 review): the unguarded form emitted NaN/Infinity
    valid = (F.col("n") >= 2) & (var_x > 0)
    return m.select(
        *group_cols,
        "n",
        F.round(F.when(valid, slope), 6).alias("slope"),
        F.round(
            F.when(valid, (F.col("sum_y") - slope * F.col("sum_x")) / n), 6
        ).alias("intercept"),
        F.round(
            F.when(valid & (var_y > 0), cov / F.sqrt(var_x * var_y)), 6
        ).alias("r"),
    )


def grouped_gini(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group Gini concentration index over an exact DECIMAL value
    column, via the rank formula G = (2·Σ i·x_i − (n+1)·Σx_i) / (n·Σx_i)
    with i the 1-based rank in ascending (value, tiebreak) order.

    Determinism: x_i is decimal, i is BIGINT, so both Σ moments are exact
    decimals (rank·value promotes to decimal(38,s) — overflow headroom to
    ~10^36, far past any realistic group); the ONLY float op is the final
    single division, a fixed IEEE op on identical operands in any engine
    or partitioning. Ties in the value column are broken by
    ``order_cols`` so the rank sequence itself is reproducible (Gini is
    tie-insensitive mathematically, but the intermediate Σ i·x_i is not).

    Cost: one shuffle keyed by the group (the rank window), then a
    map-combined rollup on the same partitioning — Spark reuses the
    exchange. Skew bound = hottest group's row count, the usual
    partitioned-window envelope."""
    from pyspark.sql import Window

    tiebreak = order_cols or []
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col), *tiebreak)
    ranked = df.withColumn("__i", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col)).alias("__s"),
        F.sum(F.col("__i") * F.col(value_col)).alias("__s1"),
    )
    num = F.lit(2) * F.col("__s1") - (F.col("n") + F.lit(1)) * F.col("__s")
    den = F.col("n") * F.col("__s")
    return agg.select(
        *group_cols,
        "n",
        F.col("__s").cast("double").alias("total_value"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("gini"),
    )


def grouped_winsorized_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tail_pct: int = 5,
    bucket_width: float | None = None,
) -> DataFrame:
    """Per-group winsorized mean: clamp (don't drop — that's trimmed_mean)
    each group's values at its exact-rank lower/upper tail_pct bounds,
    then average. The bound is the value at rank ⌈n·pct/100⌉ from each
    end — pure integer rank selection on an exact DECIMAL column, no
    interpolation, so the clamped sum is exact and the single final
    division is the only float op.

    Plan (r16, guide §2.5): the bounds come from the two-pass
    range-partitioned exact-rank selection (group_rank_value_bounds) —
    no group-partitioned sort anywhere, so no one-task-per-group
    straggler; rank-k VALUES are tiebreak-insensitive, so no tiebreak
    columns are needed. The clamped sum is assembled ALGEBRAICALLY from
    the helper's exact decimal prefix stats — Σclamped = Σv +
    n_{v<p_lo}·p_lo − Σ_{v<p_lo}v − (Σ_{v>p_hi}v − n_{v>p_hi}·p_hi) —
    every term an exact decimal, so the value equals the row-wise clamped
    sum identically and NO third pass over the fact is needed: the whole
    operator is the histogram scan plus the boundary-bucket fetch scan.

    ``bucket_width`` is the helper's domain-informed bucket size (monotone
    for any data — it only tunes bucket counts, never correctness)."""

    def lo_fn(n: Column) -> Column:
        return F.greatest(
            F.ceil(n * F.lit(int(tail_pct)) / F.lit(100)).cast("long"), F.lit(1)
        )

    b = group_rank_value_bounds(
        df.select(*group_cols, value_col),
        group_cols,
        value_col,
        {"__p_lo": lo_fn, "__p_hi": lambda n: n - lo_fn(n) + 1},
        bucket_width=bucket_width,
        with_sums=True,
    )
    n = F.col("__n")
    p_lo, p_hi = F.col("__p_lo"), F.col("__p_hi")
    # Σclamped, exactly: raise everything below p_lo to p_lo, lower
    # everything above p_hi to p_hi (value-based, tie-exact — see the
    # helper's __n_lt/__s_lt/__n_le/__s_le contract)
    sum_w = (
        F.col("__stot")
        + (F.col("__p_lo__n_lt") * p_lo - F.col("__p_lo__s_lt"))
        - (
            (F.col("__stot") - F.col("__p_hi__s_le"))
            - (n - F.col("__p_hi__n_le")) * p_hi
        )
    )
    return b.select(
        *group_cols,
        n.alias("n"),
        p_lo.cast("double").alias("lo_bound"),
        p_hi.cast("double").alias("hi_bound"),
        F.round(sum_w.cast("double") / n.cast("double"), 6).alias(
            "winsorized_mean"
        ),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two named
    groups of an INTEGER-valued column: D = max over observed values of
    |F_a(v) − F_b(v)|, with the argmax value (smallest on ties) reported.

    The corpus collapses to a value HISTOGRAM first (one map-combined
    shuffle, |distinct values| rows — bounded for lengths/counts/grades,
    the intended domain), so the two cumulative windows and the argmax
    rank run over the histogram, not the data. Those windows are
    deliberately unpartitioned: they order a bounded dim-sized frame,
    the language_confusion_matrix precedent, not a corpus-sized
    WindowExec. Each CDF value is ONE division of exact BIGINTs; |Δ| and
    the (desc, value asc) ordering compare identically in any engine."""
    from pyspark.sql import Window

    h = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .groupBy(value_col)
        .agg(
            F.sum(
                F.when(F.col(group_col) == group_a, F.lit(1)).otherwise(F.lit(0))
            ).alias("__ca"),
            F.sum(
                F.when(F.col(group_col) == group_b, F.lit(1)).otherwise(F.lit(0))
            ).alias("__cb"),
        )
    )
    w_cum = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    tot = h.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    cum = (
        h.withColumn("__cum_a", F.sum("__ca").over(w_cum))
        .withColumn("__cum_b", F.sum("__cb").over(w_cum))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "__d",
            F.abs(
                F.col("__cum_a").cast("double") / F.col("__na").cast("double")
                - F.col("__cum_b").cast("double") / F.col("__nb").cast("double")
            ),
        )
    )
    w_top = Window.orderBy(F.col("__d").desc(), F.col(value_col))
    return (
        cum.withColumn("__rk", F.row_number().over(w_top))
        .filter(F.col("__rk") == 1)
        .select(
            F.col("__na").alias("n_a"),
            F.col("__nb").alias("n_b"),
            F.col(value_col).alias("ks_at"),
            F.round("__d", 6).alias("ks_stat"),
        )
    )
