"""Benchmark harness — runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line with per-query and total wall seconds.

Each query is materialized with the noop sink (full execution, no driver
collect). A tiny warmup query absorbs JVM/session startup, then every
query runs TWICE: the first (cold) run pays logical-plan construction +
Catalyst compile (~0.3-0.5 s/query), the second (warm) run reflects
steady-state execution — the number that makes round-over-round
regressions attributable to plan changes rather than compile noise.

Output (one JSON line): "value"/"queries" are the WARM totals/timings
(the steady-state headline); "cold_value"/"queries_cold" carry the
round-1-comparable cold numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from aos_spark.cache import release_tracked
from aos_spark.queries import QUERIES
from aos_spark.session import get_spark


def _calibrate(spark) -> float:
    """Fixed calibration probe (VERDICT r10 "Next round" #6): a pinned,
    plan-stable 10⁷-row hash-aggregate timed at sweep start and end. The
    box's throughput ERA drifts ±30% between rounds on unchanged code
    (PLANS.md round-10 addendum), so round-over-round comparisons divide
    by this probe to turn era drift into a measured divisor instead of a
    narrative. Fixed partition count so the plan never varies with
    SPARK_GRAFT_CPUS."""
    t0 = time.time()
    (
        spark.range(10_000_000, numPartitions=32)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return round(time.time() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    try:
        sf = float(Path(sf_dir).name.removeprefix("sf"))
    except ValueError:
        sf = None

    # start-of-sweep load BEFORE any work (VERDICT r10 "Next round" #3):
    # the env block's loadavg is captured at the END, where the sweep's
    # own load dominates — "exclusive idle run" claims need the START
    # reading in the artifact, not in a narrative.
    load_at_start = list(os.getloadavg()) if hasattr(os, "getloadavg") else None
    t_sweep0 = time.time()

    spark = get_spark("aos-bench", master=f"local[{cpus}]")
    # warmup: JVM + parquet footer reads + Python/Arrow UDF worker pool
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.range(int(cpus) * 4, numPartitions=int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).count()
    calibration_start = _calibrate(spark)

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name, fn in QUERIES.items():
        for timings in (cold, warm):
            # operators that persist() intermediate frames would otherwise be
            # flattered on the 2nd run: the cache manager matches canonicalized
            # plans, so an identical fresh DataFrame silently reuses the cold
            # run's cache. Release tracked persists and clear the rest so warm
            # measures plan execution, not cache.
            release_tracked()
            spark.catalog.clearCache()
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                timings[name] = round(time.time() - t0, 3)
            except Exception as e:  # pragma: no cover - bench robustness
                print(f"bench error in {name}: {e}", file=sys.stderr)
                timings[name] = -1.0

    def _total(t: dict[str, float]) -> float:
        return round(sum(v for v in t.values() if v >= 0), 3)

    # The driver records only the LAST 2000 chars of stdout, and a single
    # line carrying all 125 query names is ~3.2 KB — r4's headline was cut
    # mid-line and recorded "parsed": null (VERDICT r4 "Next round" #8).
    # No one-line encoding fits every name in 2000 bytes, so: the COMPLETE
    # per-query cold+warm timings go to a JSON artifact (committed
    # BENCH_LOCAL.json on the opt-in close-out run — the judge diffs it
    # round-over-round like CORRECTNESS_LOCAL.json — else the gitignored
    # BENCH_SWEEP.json; see the output-path block below), and the
    # stdout headline stays under the tail budget by inlining only the
    # slowest queries (the ones perf review looks at first).
    full = {
        "metric": "total_query_wall_seconds",
        "value": _total(warm),
        "unit": "sec",
        "n_queries": len(warm),
        "sf": sf,
        "mode": "steady_state",
        "cold_value": _total(cold),
        "queries": {k: round(v, 2) for k, v in warm.items()},
        "queries_cold": {k: round(v, 2) for k, v in cold.items()},
    }
    from aos_spark.envinfo import env_fingerprint

    # Version/config forensics (VERDICT r8 #2) — same block the
    # correctness artifact carries, so timing swings between rounds can be
    # attributed to environment vs code. env_fingerprint's own loadavg is
    # the END-of-sweep reading; loadavg_at_start + wall duration +
    # calibration probes make load/era claims provable from the artifact
    # alone (VERDICT r10 #3/#6).
    full["env"] = dict(
        env_fingerprint(spark),
        loadavg_at_start=load_at_start,
        wall_seconds_total=round(time.time() - t_sweep0, 3),
        calibration_start_sec=calibration_start,
        calibration_end_sec=_calibrate(spark),
    )
    # VERDICT r11 #6 / r12 #3: driver sweeps were clobbering the committed
    # BENCH_LOCAL.json in the working tree (its carried-forward
    # isolated_meta then contradicted PLANS.md), and the driver can't be
    # made to set an env var — so the DEFAULT is now the gitignored
    # BENCH_SWEEP.json. The committed artifact of record is written only
    # on an explicit opt-in: SPARK_GRAFT_BENCH_COMMIT=1 (the builder's
    # deliberate close-out run) or an explicit SPARK_GRAFT_BENCH_OUT path.
    here = Path(__file__).resolve().parent
    if os.environ.get("SPARK_GRAFT_BENCH_OUT"):
        out = Path(os.environ["SPARK_GRAFT_BENCH_OUT"])
    elif os.environ.get("SPARK_GRAFT_BENCH_COMMIT") == "1":
        out = here / "BENCH_LOCAL.json"
    else:
        out = here / "BENCH_SWEEP.json"
    # Carry the fresh-JVM tail numbers (the "isolated" key that
    # `scripts/ab.py run --tail N` writes) across refreshes of the
    # COMMITTED artifact so it never loses its noise-free figures;
    # `ab.py run --tail N` overwrites them when re-run.
    # Diagnostic sweeps (the BENCH_SWEEP.json default) don't carry a tail
    # — they are throwaway measurements, and a stale isolated block in
    # them is exactly the contradiction r11 shipped.
    # Pruned to queries still in the sweep (a removed/renamed query's
    # stale number must not outlive its code — ADVICE r8), and the
    # carried block keeps the tail run's generation stamp in
    # "isolated_meta" with carried_forward=True so a reader can see the
    # tail predates this sweep. tests/test_bench_artifact.py locks
    # artifact/docs agreement.
    try:
        prev = (json.loads(out.read_text())
                if out.name == "BENCH_LOCAL.json" else {})
        if "isolated" in prev:
            kept = {k: v for k, v in prev["isolated"].items() if k in warm}
            dropped = sorted(set(prev["isolated"]) - set(kept))
            if dropped:
                print(f"pruned stale isolated entries: {dropped}",
                      file=sys.stderr)
            if kept:
                full["isolated"] = kept
                full["isolated_meta"] = dict(
                    prev.get("isolated_meta") or {}, carried_forward=True
                )
    except (OSError, ValueError):
        pass
    out.write_text(json.dumps(full, indent=2) + "\n")

    headline = {k: full[k] for k in
                ("metric", "value", "unit", "n_queries", "sf", "mode",
                 "cold_value")}
    headline["queries_full"] = out.name
    headline["queries"] = {}
    budget = 1900  # hard driver tail = 2000 chars, keep margin
    failed = {k: v for k, v in warm.items() if v < 0}
    slowest = sorted(
        (k for k in warm if k not in failed),
        key=lambda k: warm[k], reverse=True,
    )
    for k in list(failed) + slowest:
        trial = dict(headline)
        trial["queries"] = {**headline["queries"], k: round(warm[k], 2)}
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        headline = trial
    line = json.dumps(headline, separators=(",", ":"))
    assert len(line) <= budget, len(line)
    print(line)


if __name__ == "__main__":
    main()
