"""scripts/ab.py without Spark: the interleaved pair loop, the verdict rule,
failed legs, the sweep's query list and the tail selector."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import ab  # noqa: E402


def _leg(values: dict[str, float]) -> dict:
    return {"ok": True, "steal": 0.0,
            "results": {q: {"query": q, "warm_median": v} for q, v in values.items()}}


def test_first_side_alternates_across_pairs():
    calls = []
    runs = ab.interleave(4, lambda i, side: calls.append((i, side)) or _leg({}))
    assert calls == [(0, "base"), (0, "head"), (1, "head"), (1, "base"),
                     (2, "base"), (2, "head"), (3, "head"), (3, "base")]
    assert [r["first"] for r in runs] == ["base", "head", "base", "head"]


def _pairs(n: int, head_wins: int) -> list[tuple[float, float]]:
    # base 1.00..1.09 (IQR ~0.045); head 0.20 faster where it wins, else 0.01 slower
    return [(1 + i / 100, 1 + i / 100 - (0.2 if i < head_wins else -0.01)) for i in range(n)]


def test_verdicts():
    faster = ab.compare(_pairs(10, 10))
    assert faster["verdict"] == "faster" and faster["head_wins"] == 10
    assert faster["base"]["q3"] - faster["base"]["q1"] < faster["base"]["median"] - faster["head"]["median"]
    assert ab.compare(_pairs(10, 8))["verdict"] == "unresolved"
    assert ab.compare(_pairs(9, 9))["verdict"] == "unresolved"
    assert ab.compare([(h, b) for b, h in _pairs(10, 10)])["verdict"] == "slower"
    assert ab.compare([])["verdict"] == "unresolved"


def test_gap_inside_base_spread_is_unresolved():
    # head wins every pair, but by less than the base side's own IQR
    pairs = [(1 + i / 10, 1 + i / 10 - 0.01) for i in range(10)]
    assert ab.compare(pairs)["verdict"] == "unresolved"


def test_failed_legs_are_recorded(tmp_path, monkeypatch):
    # no engine in tmp_path: the `run` process exits non-zero before Spark starts
    monkeypatch.delenv("PYTHONPATH", raising=False)
    failed = ab.leg(tmp_path, ["no_such_query"], warms=1, timeout=60)
    assert failed["ok"] is False and failed["error"].startswith("exit ")
    timed_out = ab.leg(tmp_path, ["no_such_query"], warms=1, timeout=0.001)
    assert timed_out == {"ok": False, "error": "timed out after 0 s"}

    runs = ab.interleave(10, lambda i, side: failed if (i, side) == (3, "head") else _leg({"q": 1.0}))
    out = ab.summarize(runs, sweep=True)
    assert out["failed"] == [{"pair": 3, "side": "head", "error": failed["error"]}]
    assert out["queries"]["q"]["pairs"] == 9 and out["total"]["pairs"] == 9


def test_steal_correction_and_sweep_total():
    runs = [{"first": "base", "base": dict(_leg({"a": 2.0, "b": 1.0}), steal=0.25),
             "head": _leg({"a": 1.0, "b": 1.0})}]
    out = ab.summarize(runs, sweep=True)
    # steal 0.25 predicts a 2x slowdown: the base values halve
    assert out["queries"]["a"]["base"]["median"] == 1.0
    assert out["total"]["base"]["median"] == 1.5 and out["total"]["queries"] == 2
    assert ab.summarize(runs, sweep=False).keys() == {"queries", "failed"}


def test_sweep_runs_every_registry_query_in_order():
    from aos_spark.queries import QUERIES

    assert ab.query_list([]) == list(QUERIES)
    assert ab.query_list(["q6_discount_revenue"]) == ["q6_discount_revenue"]


def test_tail_picks_the_warm_slowest():
    bench = {"queries": {"a": 1.0, "b": 3.0, "c": -1.0, "d": 2.0, "e": 0.5}}
    assert ab.tail(bench, 2) == ["b", "d"]
    assert ab.tail(bench, 10) == ["b", "d", "a", "e"]
