"""Control-plane tables: run log, completion signal, country registry.

Reference: Snowflake tables TC_PIPELINE_RUN_LOG / TC_PIPELINE_COMPLETE_LOG /
PIPELINE_COUNTRIES (README.md:287-303, main_pipeline.py:466-549,
country_utils.py:73-510). Here they are small parquet-backed tables under
the warehouse root — append-only for logs (a blind append scales to any
cluster; readers aggregate), read-modify-write for the tiny registry (driver
side, idempotent overwrite; swap for Delta MERGE where available).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.io.local_frame import literal_frame

RUN_LOG_SCHEMA = (
    "run_id STRING, storm STRING, forecast_time STRING, status STRING, "
    "started_at TIMESTAMP, finished_at TIMESTAMP, runtime_seconds DOUBLE, "
    "error STRING"
)

COUNTRY_SCHEMA = "country STRING, active BOOLEAN, zoom INT, initialized BOOLEAN"


def _run_log_path(warehouse: str) -> str:
    return os.path.join(warehouse, "control", "run_log")



def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a control table, mapping ONLY a missing path to the empty
    frame. A bare `except Exception` here converted transient read
    errors (a corrupt footer from a killed writer, a rename race) into
    an empty frame — which upsert_country then OVERWROTE the registry
    with, and which made the F11 idempotency gate reprocess everything
    (r9 review). Anything other than path-not-found must raise.

    Existence is asked of the Hadoop FileSystem of the path, so any URI
    the writers accept works (``os.path.exists`` is false for every
    non-local URI and for ``file:/abs/path``, which read as a missing
    table). The read uses the table's declared schema, which skips the
    schema-inference job a bare ``spark.read.parquet`` launches."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return literal_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(path)


def read_run_log(spark: SparkSession, warehouse: str) -> DataFrame:
    return _read_or_empty(spark, _run_log_path(warehouse), RUN_LOG_SCHEMA)


def log_run_start(
    spark: SparkSession, warehouse: str, storm: str, forecast_time: str
) -> str:
    """S19: append an IN_PROGRESS row; returns the run id."""
    run_id = uuid.uuid4().hex
    row = [(run_id, storm, forecast_time, "IN_PROGRESS", None, None, None, None)]
    df = literal_frame(spark, row, RUN_LOG_SCHEMA).withColumn(
        "started_at", F.current_timestamp()
    )
    df.write.mode("append").parquet(_run_log_path(warehouse))
    return run_id


def log_run_complete(
    spark: SparkSession,
    warehouse: str,
    run_id: str,
    *,
    success: bool,
    runtime_seconds: float,
    error: str | None = None,
) -> None:
    """S19: append the terminal row (append-only log; latest row per run_id
    wins — resolved at read time, no in-place update needed at scale).

    The row is built in the JVM: a one-row status frame left-joined to the
    run's IN_PROGRESS row inside the append job, so the start row's storm,
    forecast_time and started_at are copied as stored (no driver round
    trip). An unknown run_id still appends one row, with NULL storm,
    forecast_time and started_at."""
    status = literal_frame(
        spark,
        [
            (
                run_id,
                "SUCCESS" if success else "FAILURE",
                float(runtime_seconds),
                error,
            )
        ],
        "run_id STRING, status STRING, runtime_seconds DOUBLE, error STRING",
    )
    started = (
        read_run_log(spark, warehouse)
        .filter((F.col("run_id") == run_id) & (F.col("status") == "IN_PROGRESS"))
        .select("run_id", "storm", "forecast_time", "started_at")
    )
    df = status.join(started, "run_id", "left").select(
        "run_id",
        "storm",
        "forecast_time",
        "status",
        "started_at",
        F.current_timestamp().alias("finished_at"),
        "runtime_seconds",
        "error",
    )
    df.write.mode("append").parquet(_run_log_path(warehouse))


def latest_run_status(spark: SparkSession, warehouse: str) -> DataFrame:
    """Latest status per (storm, forecast_time): the read-side resolution of
    the append-only log (argmax by started_at/finished_at)."""
    from pyspark.sql import Window

    log = read_run_log(spark, warehouse)
    w = Window.partitionBy("storm", "forecast_time").orderBy(
        F.coalesce(F.col("finished_at"), F.col("started_at")).desc(),
        # terminal rows outrank the IN_PROGRESS row of the same run
        F.when(F.col("status") == "IN_PROGRESS", 0).otherwise(1).desc(),
    )
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def signal_pipeline_complete(
    spark: SparkSession, warehouse: str, storm: str, forecast_time: str
) -> None:
    """Completion signal row (TC_PIPELINE_COMPLETE_LOG analog,
    main_pipeline.py:528-549) — downstream serving layers poll/stream this."""
    df = literal_frame(
        spark,
        [(storm, forecast_time, time.time())],
        "storm STRING, forecast_time STRING, signal_epoch DOUBLE",
    )
    df.write.mode("append").parquet(os.path.join(warehouse, "control", "complete_log"))


# -- country registry (S20) -------------------------------------------------


def _registry_path(warehouse: str) -> str:
    return os.path.join(warehouse, "control", "countries")


def read_countries(spark: SparkSession, warehouse: str) -> DataFrame:
    return _read_or_empty(spark, _registry_path(warehouse), COUNTRY_SCHEMA)


def upsert_country(
    spark: SparkSession,
    warehouse: str,
    country: str,
    *,
    active: bool = True,
    zoom: int = 14,
    initialized: bool = False,
) -> None:
    """Registry upsert (country_utils.py CRUD): tiny table, driver-side
    read-modify-write; MERGE on a Delta-capable warehouse."""
    cur = read_countries(spark, warehouse).filter(F.col("country") != country)
    new = literal_frame(spark, [(country, active, zoom, initialized)], COUNTRY_SCHEMA)
    out = cur.unionByName(new).collect()
    literal_frame(spark, out, COUNTRY_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(_registry_path(warehouse))


def set_country_flag(
    spark: SparkSession, warehouse: str, country: str, **flags: bool
) -> None:
    row = (
        read_countries(spark, warehouse)
        .filter(F.col("country") == country)
        .first()
    )
    if row is None:
        raise ValueError(f"country {country!r} not registered")
    merged = {**row.asDict(), **flags}
    upsert_country(
        spark,
        warehouse,
        country,
        active=merged["active"],
        zoom=merged["zoom"],
        initialized=merged["initialized"],
    )


def active_countries(spark: SparkSession, warehouse: str) -> list[str]:
    return [
        r["country"]
        for r in read_countries(spark, warehouse)
        .filter(F.col("active"))
        .select("country")
        .collect()
    ]
