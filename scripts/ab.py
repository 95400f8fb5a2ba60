"""Fresh-process query timings, and the interleaved A/B of two commits.

    python scripts/ab.py run [<query>...] [--warms M]   # no query: the sweep
    python scripts/ab.py run --tail N [--warms M]
    python scripts/ab.py ab <base-ref> [<query>...] [--pairs N] [--warms M]

`run` times queries of the working directory's engine, so the same file
measures a base worktree: per query one cold and M warm noop-sink runs
after clearing the caches, one JSON line each. `--tail N` re-runs the N
warm-slowest queries of BENCH_LOCAL.json, each in its own process, into
its "isolated" block. `ab` runs N pairs of `run` legs, <base-ref> in the
worktree .ab_base/ against the working tree, the first side alternating;
its last line is the summary that `compare` defines. Data comes from
$SPARK_GRAFT_SF_DIR, as in bench.py. Run it alone on the box.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.run import STEAL_SLOWDOWN, cpu_times, steal_share, stop_group  # noqa: E402

BASE_WORKTREE = ROOT / ".ab_base"
BENCH_LOCAL = ROOT / "BENCH_LOCAL.json"
SIDES = ("base", "head")
MIN_PAIRS = 10
RUN_TIMEOUT_S = 150  # per timed run of one query; a leg gets this per run plus start-up


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def query_list(queries: list[str]) -> list[str]:
    """The queries a `run` process times: the named ones, or the sweep."""
    from aos_spark.queries import QUERIES

    unknown = [q for q in queries if q not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    return list(queries) or list(QUERIES)


def tail(bench: dict, n: int) -> list[str]:
    """The n warm-slowest queries of a BENCH_LOCAL.json-shaped sweep."""
    warm = {k: v for k, v in bench["queries"].items() if v >= 0}
    return sorted(warm, key=warm.get, reverse=True)[:n]


def run(queries: list[str], warms: int) -> None:
    from aos_spark.cache import release_tracked
    from aos_spark.queries import QUERIES
    from aos_spark.session import get_spark

    names, sf = query_list(queries), sf_dir()
    spark = get_spark("ab-run")
    # start the parquet reader and the Python workers before the first timed run
    spark.read.parquet(f"{sf}/nation.parquet").count()
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores * 4, numPartitions=cores).mapInPandas(lambda it: it, "id long").count()
    for name in names:
        times: list[float] = []
        try:
            for _ in range(1 + warms):
                release_tracked()
                spark.catalog.clearCache()
                t0 = time.time()
                QUERIES[name](spark, sf).write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
        except Exception as e:  # one failing query must not end a sweep
            traceback.print_exc()
            print(json.dumps({"query": name, "sf_dir": sf, "error": f"{type(e).__name__}: {e}"[:300]}),
                  flush=True)
            continue
        warm = times[1:]
        print(json.dumps({"query": name, "sf_dir": sf, "cold": times[0], "warm": warm,
                          "warm_min": min(warm), "warm_median": statistics.median(warm)}), flush=True)


def leg(cwd: Path, queries: list[str], warms: int, timeout: float) -> dict:
    """One `run` process in cwd. A failure or timeout is returned, not raised."""
    before = cpu_times()
    proc = subprocess.Popen([sys.executable, __file__, "run", *queries, "--warms", str(warms)],
                            cwd=cwd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        stop_group(proc.pid)  # the JVM and Python workers share its process group
    if out is None:
        proc.communicate()
        return {"ok": False, "error": f"timed out after {timeout:.0f} s"}
    if proc.returncode != 0:
        return {"ok": False, "error": f"exit {proc.returncode}: {err[-300:]}"}
    rows = [json.loads(line) for line in out.splitlines() if line.startswith('{"query"')]
    return {"ok": True, "steal": round(steal_share(before, cpu_times()), 4),
            "results": {r["query"]: r for r in rows}}


def leg_timeout(n_queries: int, warms: int) -> float:
    return 120 + RUN_TIMEOUT_S * n_queries * (1 + warms)


def run_tail(n: int, warms: int) -> None:
    full = json.loads(BENCH_LOCAL.read_text())
    warm = full["queries"]
    isolated: dict[str, dict] = {}
    for name in tail(full, n):
        r = leg(ROOT, [name], warms, leg_timeout(1, warms))
        row = r.get("results", {}).get(name, {})
        if "cold" not in row:
            print(f"FAIL {name}: {r.get('error') or row.get('error')}", file=sys.stderr)
            isolated[name] = {"error": True}
            continue
        isolated[name] = {"cold": row["cold"], "warm_min": row["warm_min"], "sweep_warm": warm[name]}
        print(json.dumps({name: isolated[name]}), flush=True)
    full["isolated"] = isolated
    # bench.py sets carried_forward when it carries this block into a later sweep
    full["isolated_meta"] = {"generated_at": time.strftime("%Y-%m-%dT%H:%M:%S+00:00", time.gmtime()),
                             "n_warm": warms, "carried_forward": False}
    BENCH_LOCAL.write_text(json.dumps(full, indent=2) + "\n")


def interleave(pairs: int, run_leg) -> list[dict]:
    """run_leg(pair, side) for both sides of each pair; the first side alternates."""
    orders = [SIDES if i % 2 == 0 else SIDES[::-1] for i in range(pairs)]
    return [{"first": order[0], **{side: run_leg(i, side) for side in order}}
            for i, order in enumerate(orders)]


def quartiles(xs: list[float]) -> dict[str, float]:
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return dict(zip(("q1", "median", "q3"), (round(x, 4) for x in q)))


def compare(pairs: list[tuple[float, float]]) -> dict:
    """Quartiles, head wins, base/head and the verdict of (base, head) values,
    one tuple per pair run. "faster" needs at least 10 pairs, head wins in
    9/10 of them (ties count for neither) and a median gap larger than the
    base side's interquartile range; "slower" is the mirror case."""
    n = len(pairs)
    if not n:
        return {"pairs": 0, "verdict": "unresolved"}
    qb, qh = quartiles([b for b, _ in pairs]), quartiles([h for _, h in pairs])
    wins, losses = sum(h < b for b, h in pairs), sum(h > b for b, h in pairs)
    gap, iqr = qb["median"] - qh["median"], qb["q3"] - qb["q1"]
    verdict = "unresolved"
    if n >= MIN_PAIRS and abs(gap) > iqr:
        if gap > 0 and 10 * wins >= 9 * n:
            verdict = "faster"
        elif gap < 0 and 10 * losses >= 9 * n:
            verdict = "slower"
    return {"pairs": n, "base": qb, "head": qh, "head_wins": wins,
            "ratio": round(qb["median"] / qh["median"], 3) if qh["median"] else None,
            "verdict": verdict}


def values(leg_result: dict) -> dict[str, float]:
    """A leg's steal-corrected median warm time per query it ran."""
    if not leg_result["ok"]:
        return {}
    f = 1 + STEAL_SLOWDOWN * leg_result["steal"]
    return {q: r["warm_median"] / f for q, r in leg_result["results"].items() if "error" not in r}


def summarize(runs: list[dict], sweep: bool) -> dict:
    vals = [{s: values(p[s]) for s in SIDES} for p in runs]
    names = list(dict.fromkeys(q for v in vals for s in SIDES for q in v[s]))
    out: dict = {"queries": {q: compare([(v["base"][q], v["head"][q]) for v in vals
                                         if q in v["base"] and q in v["head"]]) for q in names}}
    if sweep:
        # the total sums the queries that every leg with results measured
        full = [v for v in vals if v["base"] and v["head"]]
        common = set.intersection(*(set(v[s]) for v in full for s in SIDES)) if full else set()
        out["total"] = dict(compare([tuple(sum(v[s][q] for q in common) for s in SIDES)
                                     for v in full] if common else []), queries=len(common))
    out["failed"] = [{"pair": i, "side": s, "error": p[s]["error"]}
                     for i, p in enumerate(runs) for s in SIDES if not p[s]["ok"]]
    out["failed"] += [{"pair": i, "side": s, "query": q, "error": r["error"]}
                      for i, p in enumerate(runs) for s in SIDES
                      for q, r in p[s].get("results", {}).items() if "error" in r]
    return out


def git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True,
                          text=True).stdout.strip()


def remove_base_worktree() -> None:
    shutil.rmtree(BASE_WORKTREE, ignore_errors=True)
    git("worktree", "prune")


def ab(base_ref: str, queries: list[str], pairs: int, warms: int) -> None:
    timeout = leg_timeout(len(query_list(queries)), warms)
    base = {"ref": base_ref, "commit": git("rev-parse", f"{base_ref}^{{commit}}")}
    head = {"commit": git("rev-parse", "HEAD"), "dirty": bool(git("status", "--porcelain"))}

    def run_leg(i: int, side: str) -> dict:
        r = leg(BASE_WORKTREE if side == "base" else ROOT, queries, warms, timeout)
        print(json.dumps({"pair": i, "side": side, "ok": r["ok"], "steal": r.get("steal")}), flush=True)
        return r

    remove_base_worktree()  # a killed run leaves its worktree behind
    try:
        git("worktree", "add", "--detach", str(BASE_WORKTREE), base["commit"])
        runs = interleave(pairs, run_leg)
    finally:
        remove_base_worktree()
    print(json.dumps({"base": base, "head": head, "sf_dir": sf_dir(), "pairs": pairs,
                      "warms": warms, "first": [p["first"] for p in runs],
                      **summarize(runs, sweep=not queries)}))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = p.add_subparsers(dest="cmd", required=True)
    r, a = sub.add_parser("run"), sub.add_parser("ab")
    a.add_argument("base_ref")
    for s in (r, a):
        s.add_argument("queries", nargs="*")
        s.add_argument("--warms", type=int, default=3)
    r.add_argument("--tail", type=int, metavar="N")
    a.add_argument("--pairs", type=int, default=10)
    args = p.parse_args()
    if args.warms < 1 or getattr(args, "pairs", 1) < 1:
        p.error("--warms and --pairs must be at least 1")
    if args.cmd == "ab":
        ab(args.base_ref, args.queries, args.pairs, args.warms)
    elif args.tail is not None:
        if args.queries:
            p.error("--tail takes no query names")
        run_tail(args.tail, args.warms)
    else:
        # the engine under test is the working directory's, ahead of this file's checkout
        sys.path.insert(0, os.getcwd())
        run(args.queries, args.warms)


if __name__ == "__main__":
    main()
