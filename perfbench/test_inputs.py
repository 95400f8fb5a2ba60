"""Tests of the seeded input generator.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    """relative path -> sha256 of the bytes (links followed)."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_same_seed_gives_identical_bytes(tmp_path):
    inputs.generate(5, str(tmp_path / "a"))
    inputs.generate(5, str(tmp_path / "b"))
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert len(a) == len(inputs.base_tables(5)) * (1 + inputs.FORECASTS) + 1
    assert a == b


def test_new_seed_keeps_row_counts_and_changes_values(tmp_path):
    inputs.generate(5, str(tmp_path / "a"))
    inputs.generate(6, str(tmp_path / "b"))
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    for rel in a:
        ta, tb = pq.read_table(tmp_path / "a" / rel), pq.read_table(tmp_path / "b" / rel)
        assert ta.num_rows == tb.num_rows, rel
        assert ta.schema == tb.schema, rel
        if rel.endswith(("region.parquet", "nation.parquet")):
            assert a[rel] == b[rel], rel  # fixed dimensions
        else:
            assert a[rel] != b[rel], rel


def test_forecast_events_are_jittered_copies(tmp_path):
    inputs.generate(5, str(tmp_path))
    base = pq.read_table(tmp_path / "base" / "events.parquet")
    for i in range(inputs.FORECASTS):
        fc = pq.read_table(tmp_path / f"forecast_{i}" / "events.parquet")
        assert fc.drop(["value"]) == base.drop(["value"])
        assert fc.column("value") != base.column("value")
        ratio = (fc.column("value").to_numpy() / base.column("value").to_numpy())
        assert ((ratio > 0.8) & (ratio < 1.2)).mean() > 0.99
