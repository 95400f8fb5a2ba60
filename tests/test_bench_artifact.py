"""Artifact/documentation agreement for BENCH_LOCAL.json (VERDICT r7
"Next round" #3): PLANS.md describes an "isolated" key of fresh-JVM tail
numbers (`scripts/ab.py run --tail N`) alongside the sweep's "queries" /
"queries_cold"; r7's refresh dropped it, leaving the artifact and its
docs disagreeing. bench.py now carries the key across sweep refreshes —
this locks the contract so a future refresh can't silently shed it."""

from __future__ import annotations

import json
from pathlib import Path

ART = Path(__file__).resolve().parent.parent / "BENCH_LOCAL.json"


def test_bench_artifact_carries_documented_keys():
    d = json.loads(ART.read_text())
    for key in ("metric", "value", "queries", "queries_cold", "isolated"):
        assert key in d, f"BENCH_LOCAL.json lost its '{key}' key"
    assert d["metric"] == "total_query_wall_seconds"


def test_bench_artifact_carries_env_block():
    """VERDICT r8 "Next round" #2: artifacts of record must carry the
    engine-version/config fingerprint so round-over-round swings can be
    attributed to environment vs code."""
    d = json.loads(ART.read_text())
    env = d.get("env")
    assert env, "BENCH_LOCAL.json lost its 'env' block"
    for key in ("pyspark", "duckdb", "python",
                "spark.sql.shuffle.partitions", "spark.driver.memory",
                "loadavg_1_5_15",
                # VERDICT r10 #3/#6: start AND end load, wall duration,
                # and the era-drift calibration probes must be provable
                # from the artifact alone
                "loadavg_at_start", "wall_seconds_total",
                "calibration_start_sec", "calibration_end_sec"):
        assert key in env, f"env block lost its '{key}' field"


def test_isolated_block_shape():
    d = json.loads(ART.read_text())
    assert d["isolated"], "isolated tail is empty"
    for name, row in d["isolated"].items():
        assert name in d["queries"], f"isolated entry {name} not in sweep"
        assert set(row) >= {"cold", "warm_min"}, (name, row)
