"""Benchmark of the aos_spark engine: one workload in one fresh process.

    python3 perfbench/run.py --workload forecast_cycle --seed 1 --seconds 10 --trace 0

Generates the seeded inputs, starts `perfbench/worker.py` as a fresh
Python + JVM process on local[<cores>] that runs the workload's ops once,
checks the outputs, and prints as its last stdout line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is
a JSON record of the run (the environment, raw wall and CPU times, CPU
steal, counters and the steadiness report). `--seconds` is accepted for the
common benchmark interface; a run does one pass, however long. Everything the
run writes lives in `.perfbench_runs/` under the checkout and is removed at
exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(ROOT, "scripts")  # check_oracle.py: the canonical result digest
WORKLOADS = ("forecast_cycle", "registry_reads")
STORM = "AOSBENCH"
# registry_reads: the first op is the same on every seed, the rest are
# permuted by the seed
FIRST_QUERY = "flagship_storm_impact"
QUERIES = ["q1_pricing_summary", "trimmed_mean_prices", "dedup_clusters"]
WORKER_TIMEOUT_S = 165
# Wall time grows by this much per unit of host CPU steal share over the
# worker's run: wall ≈ quiet wall × (1 + STEAL_SLOWDOWN × steal). Fitted on
# runs of both workloads at 0.1–26 % steal on a 4-vCPU VM; see README.
STEAL_SLOWDOWN = 4.0


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time, idle included, that the hypervisor stole."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def environment() -> dict:
    """Cores as each tool sees them; a mismatch changes the plans."""
    cpus = os.cpu_count()
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if env_cpus is not None and env_cpus != str(cpus):
        fail(f"SPARK_GRAFT_CPUS={env_cpus} but os.cpu_count()={cpus}; session.py sizes "
             "shuffle partitions from os.cpu_count(), so the plans would differ")
    return {"nproc": len(os.sched_getaffinity(0)), "os_cpu_count": cpus,
            "SPARK_GRAFT_CPUS": str(cpus), "loadavg_at_start": list(os.getloadavg())}


def group_members(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(name))
    return pids


def stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while group_members(pgid) and time.time() < deadline:
        time.sleep(0.05)


def start_worker(spec_path: str, spec: dict, log_path: str, run_dir: str) -> dict:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, SCRIPTS, env.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": spec["env"]["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    })
    os.makedirs(env["TMPDIR"], exist_ok=True)
    spec["launched_at"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", spec_path],
            cwd=spec["work"], env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        def on_signal(signum, _frame):
            stop_group(proc.pid)
            raise SystemExit(128 + signum)

        signal.signal(signal.SIGTERM, on_signal)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the worker's JVM and Python daemons share its process group
            stop_group(proc.pid)
            proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        fail(f"worker {'timed out' if code is None else f'exited with {code}'}; log tail:\n{tail}")
    with open(spec["result"]) as f:
        return json.load(f)


def end_to_end(res: dict, workload: str, steal: float) -> dict:
    """Wall times of the run, each divided by the slowdown that the host's
    CPU steal over the worker's run predicts."""
    p, f = res["pass"], 1 + STEAL_SLOWDOWN * steal
    op_kind = "update" if workload == "forecast_cycle" else "query"
    return {
        "setup_s": (res["setup_s"] / f, "s"),
        "first_op_s": (p["ops"][0]["s"] / f, "s"),
        "pass_s": (p["wall_s"] / f, "s"),
        "op_p50_s": (statistics.median(o["s"] for o in p["ops"] if o["kind"] == op_kind) / f, "s"),
    }


def per_layer(res: dict) -> dict:
    """Per-layer values of the traced pass, as measured."""
    p = res["pass"]
    lay = p.get("layers", {})
    c = p["counters"]

    def L(layer, key):
        return lay.get(layer, {}).get(key, 0)

    def op_s(kind):
        return sum(o["s"] for o in p["ops"] if o["kind"] == kind)

    mib = 2 ** 20
    return {
        "pipeline.jobs.initialize_s": (op_s("initialize"), "s"),
        "pipeline.jobs.update_s": (op_s("update"), "s"),
        "pipeline.jobs.resubmit_s": (op_s("resubmit"), "s"),
        "pipeline.jobs.patch_s": (op_s("patch"), "s"),
        "pipeline.control.s": (L("pipeline.control", "s"), "s"),
        "pipeline.control.calls": (L("pipeline.control", "calls"), "count"),
        "pipeline.control.jobs": (L("pipeline.control", "jobs"), "count"),
        "pipeline.control.run_log_files": (p.get("run_log_files", 0), "count"),
        "io.writers.s": (L("io.writers", "s"), "s"),
        "io.writers.calls": (L("io.writers", "calls"), "count"),
        "io.writers.jobs": (L("io.writers", "jobs"), "count"),
        "io.writers.files": (L("io.writers", "files"), "count"),
        "io.writers.mb": (L("io.writers", "bytes") / mib, "MB"),
        "report.assemble.s": (L("report.assemble", "s"), "s"),
        "report.assemble.jobs": (L("report.assemble", "jobs"), "count"),
        "io.readers.s": (L("io.readers", "s"), "s"),
        "io.readers.calls": (L("io.readers", "calls"), "count"),
        "ops.s": (L("ops", "s"), "s"),
        "ops.calls": (L("ops", "calls"), "count"),
        "ops.jobs": (L("ops", "jobs"), "count"),
        "geo.s": (L("geo", "s"), "s"),
        "geo.calls": (L("geo", "calls"), "count"),
        "llm.s": (L("llm", "s"), "s"),
        "llm.calls": (L("llm", "calls"), "count"),
        "llm.jobs": (L("llm", "jobs"), "count"),
        "queries.build_s": (p.get("build_s", 0.0), "s"),
        "queries.exec_s": (p.get("exec_s", 0.0), "s"),
        "spark.jobs": (c["jobs"], "count"),
        "spark.stages": (c["stages"], "count"),
        "spark.tasks": (c["tasks"], "count"),
        "spark.executor_run_s": (c["executor_run_s"], "s"),
        "spark.executor_cpu_s": (c["executor_cpu_s"], "s"),
        "spark.shuffle_write_mb": (c["shuffle_write_bytes"] / mib, "MB"),
        "spark.spill_mb": (c["spill_bytes"] / mib, "MB"),
        "spark.busy_ratio": (c["executor_run_s"] / (p["wall_s"] * res["cores"]), "ratio"),
        "spark.small_stages": (c["small_stages"], "count"),
        "session.get_spark_s": (res["get_spark_s"], "s"),
        "driver.proc_cpu_s": (p["cpu_s"] - c["executor_cpu_s"], "s"),
        "driver.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "trace.overhead_ratio": (p["wall_s"] / (p["wall_s"] - p["trace_overhead_s"]), "ratio"),
    }


def steadiness(res: dict) -> dict:
    """The trend within the pass and the exact counters of it and its ops."""
    p = res["pass"]
    keys = ("jobs", "stages", "tasks", "shuffle_write_bytes")
    ups = [o["s"] for o in p["ops"] if o["kind"] == "update"]
    return {
        "trend": {"update last/first": ups[-1] / ups[0]} if len(ups) > 1 else {},
        "pass_counters": {**{k: p["counters"][k] for k in keys},
                          "files_written": p.get("files_written", 0)},
        "jobs_evicted_from_status_store": p["counters"]["jobs_missing"],
        "ops": {o["name"]: {"s": o["s"], **{k: o["counters"][k] for k in keys}}
                for o in p["ops"]},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="aos_spark benchmark (one workload, one run)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="accepted, not used: one pass per run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "aos_spark", "__init__.py")):
        fail(f"the aos_spark package is not in {ROOT}")
    if not os.path.isfile(os.path.join(SCRIPTS, "check_oracle.py")):
        fail(f"scripts/check_oracle.py is not in {ROOT}")
    sys.path[:0] = [ROOT, SCRIPTS]
    env = environment()
    from perfbench import checks, inputs

    runs = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    phases = {}  # wall time of each step of the run, for the time budget
    t = time.time()
    try:
        data = os.path.join(run_dir, "inputs")
        inputs.generate(args.seed, data)
        phases["inputs"] = time.time() - t
        spec = {
            "workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
            "inputs": data, "work": work, "env": env, "storm": STORM,
            "result": os.path.join(run_dir, "result.json"),
            "forecasts": inputs.forecast_times(),
        }
        oracle = {}
        if args.workload == "registry_reads":
            rest = list(QUERIES)
            random.Random(args.seed).shuffle(rest)
            spec["queries"] = [FIRST_QUERY] + rest
            oracle = checks.oracle_digests(os.path.join(data, "base"), spec["queries"])
        phases["oracle"] = time.time() - t - phases["inputs"]
        cpu0 = cpu_times()
        res = start_worker(os.path.join(run_dir, "spec.json"), spec,
                           os.path.join(run_dir, "worker.log"), run_dir)
        phases["worker"] = time.time() - spec["launched_at"]
        steal = steal_share(cpu0, cpu_times())

        ops = [o["name"] for o in res["pass"]["ops"]]
        problems = [tuple(p) for p in res["failures"]]
        try:
            if args.workload == "registry_reads":
                problems += checks.check_reads(res["results"], oracle)
            else:
                from aos_spark.pipeline.jobs import ENSEMBLE_SIZE, WIND_THRESHOLDS

                problems += checks.check_forecast_cycle(
                    data, res["warehouse"], STORM, spec["forecasts"], res["reports"],
                    WIND_THRESHOLDS, ENSEMBLE_SIZE)
        except Exception as e:  # outputs too broken to check: every op fails
            problems += [(op, f"output check raised {type(e).__name__}: {e}") for op in ops]
        phases["check"] = time.time() - spec["launched_at"] - phases["worker"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass

    env["cpu_steal_share"] = steal
    env["loadavg_at_end"] = list(os.getloadavg())
    attempted = len(ops)
    failed = len({op for op, _ in problems} & set(ops))
    metrics = per_layer(res) if args.trace else end_to_end(res, args.workload, steal)
    p = res["pass"]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "env_fingerprint": res["env_fingerprint"], "import_s": res["import_s"],
        "traced_functions": res["traced_functions"], "op_fail_ratio": failed / attempted,
        "peak_rss_mb": res["peak_rss_mb"], "problems": [f"{op}: {msg}" for op, msg in problems],
        "steal_factor": 1 + STEAL_SLOWDOWN * steal,
        "wall_s": {"setup": res["setup_s"], "pass": p["wall_s"],
                   **{o["name"]: o["s"] for o in p["ops"]}},
        "cpu_s": {"setup": res["setup_cpu_s"], "pass": p["cpu_s"],
                  **{o["name"]: o["cpu_s"] for o in p["ops"]}},
        "steadiness": steadiness(res),
        "run_phases_s": phases,
    }
    print(json.dumps(record))
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
