"""Query registry: each query module calls register() once per query, right
after its oracle; the aggregator (aos_spark.queries) builds the ordered
QUERIES/ORACLES from the modules it lists. Entries are kept per defining
module, so the result does not depend on which module was imported first."""

from __future__ import annotations

from collections.abc import Callable
from types import ModuleType

_ENTRIES: dict[str, dict[str, tuple[Callable, str]]] = {}


def register(name: str, fn: Callable, oracle: str) -> None:
    """Register query `name` (fn(spark, sf_dir) -> DataFrame) and its
    DuckDB oracle SQL under fn's module."""
    if any(name in entries for entries in _ENTRIES.values()):
        raise ValueError(f"query {name!r} is already registered")
    _ENTRIES.setdefault(fn.__module__, {})[name] = (fn, oracle)


def build(modules: list[ModuleType], front: list[str]) -> tuple[dict, dict]:
    """(QUERIES, ORACLES): `front` first, then every other entry of
    `modules` in module order and, within a module, registration order."""
    entries = {n: e for m in modules for n, e in _ENTRIES.get(m.__name__, {}).items()}
    missing = [n for n in front if n not in entries]
    if missing:
        raise ValueError(f"gate-front names never registered: {missing}")
    first = set(front)
    order = [*front, *(n for n in entries if n not in first)]
    return {n: entries[n][0] for n in order}, {n: entries[n][1] for n in order}
