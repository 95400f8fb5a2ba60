"""Ensemble probability + expected impact — SURVEY.md §2.4 A1/A2.

Reference: member-count per tile / 51 at impact_analysis.py:1889-1891 with
the FIXED denominator FULL_ENSEMBLE_SIZE=51 (impact_analysis.py:185-188 —
never the observed member count), then E_col = col * probability with raw
columns dropped (impact_analysis.py:1898-1905).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FULL_ENSEMBLE_SIZE = 51


def member_probability(
    hits: DataFrame,
    zone_keys: list[str],
    member_col: str = "ensemble_member",
    ensemble_size: int = FULL_ENSEMBLE_SIZE,
) -> DataFrame:
    """(zone, member) hit pairs → probability per zone.

    ``hits`` must already be distinct per (zone, member) — the quadkey
    cover join guarantees that after a dropDuplicates (a member's envelope
    may reach a tile through several cover prefixes). So a plain count of
    the non-NULL members is the member count: one exchange, where
    countDistinct takes two.
    """
    return hits.groupBy(*zone_keys).agg(
        (F.count(member_col) / F.lit(float(ensemble_size))).alias("probability")
    )


def attach_probability(
    base: DataFrame,
    prob: DataFrame,
    zone_keys: list[str],
) -> DataFrame:
    """Left-join probability onto the base layer; zones hit by no member get
    probability 0.0 (reference fills 0 for non-intersecting tiles,
    impact_analysis.py:1891)."""
    joined = base.join(prob, zone_keys, "left")
    return joined.withColumn("probability", F.coalesce(F.col("probability"), F.lit(0.0)))


def expected_impact(df: DataFrame, value_cols: list[str], keep: list[str]) -> DataFrame:
    """E_col = col * probability for every value column; raw columns dropped
    (impact_analysis.py:1898-1905). NULL metrics propagate to NULL E_ —
    matching pandas NaN*p=NaN."""
    proj = [F.col(c) for c in keep] + [F.col("probability")]
    proj += [(F.col(c) * F.col("probability")).alias(f"E_{c}") for c in value_cols]
    return df.select(*proj)
