"""Top-K operators — SURVEY.md §2.4 A8, A9.

Reference: nlargest(5, 'probability') per facility type at
reports.py:705-736 (K at reports.py:73); max-impact threshold scan at
reports.py:319-339.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aos_spark.cache import persist_tracked

TOP_K_FACILITIES = 5


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    tiebreak_col: str,
    k: int = TOP_K_FACILITIES,
    ascending: bool = False,
    rank_col: str = "rank_in_group",
) -> DataFrame:
    """Top-k rows per group by order_col (desc, or asc when
    ``ascending``), tie-break tiebreak_col asc; the 1-based rank lands in
    ``rank_col``. row_number caps output at exactly k — matching pandas
    nlargest/nsmallest. The one rank rule of the ANN tier: every
    similarity/PQ operator ranks its verified candidates here."""
    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy(*group_cols).orderBy(order, F.col(tiebreak_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def topk_global(
    df: DataFrame,
    order_col: str,
    tiebreak_col: str,
    k: int = TOP_K_FACILITIES,
) -> DataFrame:
    """Global top-k with a rank column, WITHOUT a partition-less window
    (which single-tasks the whole input; Spark 4's EliminateWindowPartitions
    folds literal partition keys, so a dummy group column doesn't help).

    Shape: orderBy().limit(k) = TakeOrderedAndProject (distributed per-
    partition top-k + driver merge), then rank the k survivors by an
    ordering self-join (rank = #rows at-or-before; O(k²) on k rows).
    Requires (order_col, tiebreak_col) to be unique per row — the same
    determinism contract row_number needs for a stable rank."""
    top = persist_tracked(
        df.orderBy(F.col(order_col).desc(), F.col(tiebreak_col).asc()).limit(k)
    )
    probe = top.select(
        F.col(order_col).alias("__o"), F.col(tiebreak_col).alias("__t")
    )
    at_or_before = (F.col("__o") > F.col(order_col)) | (
        (F.col("__o") == F.col(order_col)) & (F.col("__t") <= F.col(tiebreak_col))
    )
    return (
        top.join(probe, at_or_before)
        .groupBy(*top.columns)
        .agg(F.count(F.lit(1)).cast("int").alias("rank_in_group"))
    )


def max_active_threshold(
    df: DataFrame,
    threshold_col: str,
    signal_col: str,
    group_cols: list[str] = (),
) -> DataFrame:
    """Highest threshold with any non-zero signal (A9) — the reference walks
    thresholds ascending and keeps the last with sum(probability)>0,
    exploiting envelope nesting; declaratively that's a filter + max."""
    per_th = df.groupBy(*group_cols, threshold_col).agg(
        F.sum(signal_col).alias("__sig")
    )
    return (
        per_th.filter(F.col("__sig") > 0)
        .groupBy(*group_cols)
        .agg(F.max(threshold_col).alias("max_threshold"))
    )
