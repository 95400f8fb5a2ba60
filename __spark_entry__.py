"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship storm-impact query at sf0.001 (smoke).
queries()     — one entry per implemented operator from SURVEY.md §2 plus
                the LLM-data-pipeline tier, in QUERY_ORDER; see the domain
                modules of aos_spark/queries/.
oracle_sql()  — DuckDB-equivalent ANSI SQL per query (same parquet views).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from aos_spark.queries import ORACLES, QUERIES  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_storm_impact"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
