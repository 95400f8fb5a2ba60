"""The query registry: one register() call per query, QUERY_ORDER as the
only source of query order, and the same QUERIES and ORACLES whichever
query module a process imports first."""

from __future__ import annotations

import ast
import json
import pkgutil
import subprocess
import sys
from pathlib import Path

import pytest

import aos_spark.queries as queries_pkg
from aos_spark.queries import _GATE_FRONT, ORACLES, QUERIES, QUERY_ORDER, storm
from aos_spark.registry import build, register

REPO = Path(__file__).resolve().parent.parent
QUERY_MODULES = [m.name for m in pkgutil.iter_modules(queries_pkg.__path__)]

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
        [sys.executable, "-c", _DUMP, f"aos_spark.queries.{first}"],
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


def test_query_order_is_the_registry_order():
    assert list(QUERIES) == QUERY_ORDER
    assert _GATE_FRONT == QUERY_ORDER[:50]


def _stub(spark, sf_dir):
    raise AssertionError("never called")


def test_register_rejects_a_duplicate_name():
    with pytest.raises(ValueError, match="already registered"):
        register("flagship_storm_impact", _stub, "SELECT 1")
    assert QUERIES["flagship_storm_impact"] is storm.q_flagship


def test_build_rejects_a_name_listed_twice():
    with pytest.raises(ValueError, match="more than once.*flagship_storm_impact"):
        build([*QUERY_ORDER, "flagship_storm_impact"])


def test_build_rejects_a_listed_name_never_registered():
    with pytest.raises(ValueError, match="never registered.*no_such_query"):
        build([*QUERY_ORDER, "no_such_query"])


def test_build_rejects_a_registered_name_not_listed():
    order = [n for n in QUERY_ORDER if n != "q2_min_cost_supplier"]
    with pytest.raises(ValueError, match="not listed.*q2_min_cost_supplier"):
        build(order)


def test_query_modules_share_no_private_names():
    """A helper two query domains need lives under a public name (in
    queries/common when no domain owns it), so no query module imports an
    `_`-prefixed name from another."""
    found = []
    for name in QUERY_MODULES:
        tree = ast.parse((REPO / "aos_spark" / "queries" / f"{name}.py").read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").startswith("aos_spark.queries")
            ):
                found += [f"{name}: {a.name}" for a in node.names if a.name.startswith("_")]
    assert found == []
