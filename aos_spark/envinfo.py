"""Engine/version fingerprint for gate and bench artifacts.

VERDICT r8 "Next round" #2: the one unreproduced hash divergence
(`order_autocorrelation`, red only in the driver's end-of-round full
sweep) could not be attributed after the fact because the artifacts
record pass/fail but nothing about the environment that produced them.
Every artifact of record now carries this block so a future flake can be
diffed against the environment of the green runs: engine versions
(Spark / DuckDB / Python / JVM), the correctness-relevant session flags
(ANSI, timezone, timestamp type, case mapping), and the sizing knobs that change
physical plans (shuffle partitions, parallelism, driver heap).
"""

from __future__ import annotations

import os
import platform
from datetime import datetime, timezone


def env_fingerprint(spark=None) -> dict:
    """A JSON-safe snapshot of everything that could plausibly change a
    query result or its timing between two runs of the same code."""
    import duckdb
    import pyspark

    info: dict = {
        "captured_at": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "platform": platform.platform(),
        "cpu_count": os.cpu_count(),
        # load at capture time: round 9 saw back-to-back sweeps differ
        # 25% on identical code purely from machine load — without this
        # field that swing is indistinguishable from a code regression
        "loadavg_1_5_15": (
            list(os.getloadavg()) if hasattr(os, "getloadavg") else None
        ),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "AOS_DRIVER_MEM": os.environ.get("AOS_DRIVER_MEM"),
    }
    if spark is not None:
        info["spark_version"] = spark.version
        try:
            jvm = spark.sparkContext._jvm  # noqa: SLF001 - forensics only
            info["java"] = jvm.System.getProperty("java.version")
        except Exception:
            info["java"] = None
        info["master"] = spark.sparkContext.master
        for key in (
            "spark.sql.ansi.enabled",
            "spark.sql.session.timeZone",
            "spark.sql.timestampType",
            "spark.sql.icu.caseMappings.enabled",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.driver.memory",
        ):
            try:
                info[key] = spark.conf.get(key)
            except Exception:
                info[key] = None
    return info
