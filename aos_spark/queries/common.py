"""Helpers shared by several query domains."""

from __future__ import annotations

from pyspark.sql import functions as F


def dsum(col: str, scale: int = 2) -> F.Column:
    """Order-independent sum of a double column (exact decimal accumulation)."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double")


def dsum_sql(col: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE)"
