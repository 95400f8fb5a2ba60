"""The query registry: one register() call per query, and the same QUERIES
and ORACLES whichever query module a process imports first."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

from aos_spark import queries_core
from aos_spark.queries import ORACLES, QUERIES
from aos_spark.registry import build, register

REPO = Path(__file__).resolve().parent.parent

QUERY_MODULES = [
    "queries_core",
    "queries_tpch",
    "queries_r4",
    "queries_r5",
    "queries_r5b",
    "queries_r5c",
    "queries_r5d",
    "queries_r5e",
    "queries_r6",
]

_DUMP = """
import importlib, json, sys
importlib.import_module(sys.argv[1])
from aos_spark.queries import ORACLES, QUERIES
print(json.dumps([[n, ORACLES[n], QUERIES[n].__name__] for n in QUERIES]))
"""


def _dump() -> list[list[str]]:
    return [[n, ORACLES[n], QUERIES[n].__name__] for n in QUERIES]


@pytest.mark.parametrize("first", QUERY_MODULES)
def test_registry_is_independent_of_the_first_import(first):
    out = subprocess.run(
        [sys.executable, "-c", _DUMP, f"aos_spark.{first}"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    got = json.loads(out.stdout)
    assert len(got) == 203
    assert got == _dump()


def test_oracles_follow_query_order():
    assert list(ORACLES) == list(QUERIES)


def _stub(spark, sf_dir):
    raise AssertionError("never called")


def test_register_rejects_a_duplicate_name():
    with pytest.raises(ValueError, match="already registered"):
        register("flagship_storm_impact", _stub, "SELECT 1")
    assert QUERIES["flagship_storm_impact"] is queries_core.q_flagship


def test_build_rejects_an_unregistered_front_name():
    with pytest.raises(ValueError, match="never registered"):
        build([queries_core], ["flagship_storm_impact", "no_such_query"])
    # a name registered only by a module that is not listed is missing too
    with pytest.raises(ValueError, match="never registered"):
        build([queries_core], ["q2_min_cost_supplier"])
