"""ops/fixpoint.iterate: the bounded driver loop of the iterative
operators, and the guard that keeps it the only one."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from aos_spark.ops.fixpoint import NotConverged, iterate


def _halve(df):
    return df.select((F.col("v") / 2).cast("long").alias("v"))


def test_iterate_stops_at_first_zero_count(spark):
    """Halving 5 reaches 0 in three rounds (2, 1, 0); the fourth round reads
    no nonzero row and stops the loop."""
    state, changes = iterate(
        spark.createDataFrame([(5,)], "v long"),
        _halve,
        10,
        changed=F.sum((F.col("v") != 0).cast("long")),
    )
    assert changes == [1, 1, 0]
    assert [r["v"] for r in state.collect()] == [0]


def test_iterate_reads_null_count_as_zero(spark):
    """A SUM over no rows is NULL: an empty state has converged."""
    state, changes = iterate(
        spark.createDataFrame([], "v long"), _halve, 3, changed=F.sum("v")
    )
    assert changes == [0]
    assert state.collect() == []


def test_iterate_raises_when_rounds_run_out(spark):
    with pytest.raises(NotConverged):
        iterate(
            spark.createDataFrame([(1000,)], "v long"),
            _halve,
            2,
            changed=F.sum((F.col("v") != 0).cast("long")),
        )


def test_iterate_without_count_runs_fixed_rounds(spark):
    state, changes = iterate(spark.createDataFrame([(1000,)], "v long"), _halve, 3)
    assert changes == []
    assert [r["v"] for r in state.collect()] == [125]


def test_checkpoint_loops_live_only_in_fixpoint():
    """No for/while loop outside ops/fixpoint.py checkpoints a frame or
    builds an Observation: an iterative operator passes its step to
    iterate, which owns the lineage cut, the convergence count and the
    round bound."""
    root = Path(__file__).resolve().parent.parent / "aos_spark"
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "ops" / "fixpoint.py":
            continue
        for loop in ast.walk(ast.parse(path.read_text())):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            for node in ast.walk(loop):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in ("localCheckpoint", "checkpoint", "Observation"):
                    found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert found == []
