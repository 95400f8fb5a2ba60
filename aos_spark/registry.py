"""Query registry: each query module calls register() once per query, right
after its oracle; the package (aos_spark.queries) builds QUERIES/ORACLES in
the order its QUERY_ORDER lists."""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable

_ENTRIES: dict[str, tuple[Callable, str]] = {}


def register(name: str, fn: Callable, oracle: str) -> None:
    """Register query `name` (fn(spark, sf_dir) -> DataFrame) and its
    DuckDB oracle SQL."""
    if name in _ENTRIES:
        raise ValueError(f"query {name!r} is already registered")
    _ENTRIES[name] = (fn, oracle)


def build(order: list[str]) -> tuple[dict, dict]:
    """(QUERIES, ORACLES) in `order`, which must list every registered
    query exactly once."""
    twice = sorted(n for n, k in Counter(order).items() if k > 1)
    if twice:
        raise ValueError(f"queries listed more than once: {twice}")
    missing = [n for n in order if n not in _ENTRIES]
    if missing:
        raise ValueError(f"listed queries never registered: {missing}")
    unlisted = sorted(set(_ENTRIES) - set(order))
    if unlisted:
        raise ValueError(f"registered queries not listed: {unlisted}")
    return {n: _ENTRIES[n][0] for n in order}, {n: _ENTRIES[n][1] for n in order}
