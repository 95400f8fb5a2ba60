"""The timed process: one fresh Python + JVM that runs one workload.

Started by `perfbench/run.py` with a JSON spec (see `run.py`), it builds
the engine's SparkSession, runs the workload's ops once, reads the status
store after them, and writes its raw measurements to the spec's `result`
path. It prints nothing on stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def group_cpu_s(pgid: int) -> float:
    """CPU time of every process in the group (this Python, the JVM, the
    JVM's Python workers), with that of their reaped children."""
    ticks = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended
            continue
        if int(fields[2]) == pgid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    def __init__(self, spec: dict):
        self.spec = spec
        self.failures: list[tuple[str, str]] = []  # (op, message)
        self.tracer = None

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        t0 = time.time()
        from aos_spark.session import get_spark

        t1 = time.time()
        self.spark = get_spark("perfbench")
        t2 = time.time()
        self.setup_s = t2 - self.spec["launched_at"]
        self.setup_cpu_s = self.cpu_s()
        self.get_spark_s = t2 - t1
        self.import_s = t1 - t0
        from aos_spark.envinfo import env_fingerprint
        from perfbench.trace import SparkCounters, Tracer

        self.fingerprint = env_fingerprint(self.spark)
        self.counters = SparkCounters(self.spark)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        if self.spec["trace"]:
            self.tracer = Tracer(self.counters)
            self.traced_functions = self.tracer.install()

    def cpu_s(self) -> float:
        return group_cpu_s(os.getpgid(0))

    # -- the ops ----------------------------------------------------------
    def run_ops(self, ops: list[tuple[str, str, object]]) -> dict:
        """ops: (name, kind, fn) where fn() returns a status string."""
        rec: dict = {"ops": [], "wall_s": 0.0, "cpu_s": 0.0}
        if self.tracer:
            self.tracer.reset()
        for name, kind, fn in ops:
            cpu0, j0 = self.cpu_s(), self.counters.jobs_started()
            t0 = time.perf_counter()
            try:
                status = fn()
            except Exception as e:  # a failed op is counted, the run goes on
                status = f"ERROR {type(e).__name__}: {str(e)[:300]}"
                self.failures.append((name, status))
            s = time.perf_counter() - t0
            cpu = self.cpu_s() - cpu0
            rec["wall_s"] += s
            rec["cpu_s"] += cpu
            rec["ops"].append({"name": name, "kind": kind, "s": s, "cpu_s": cpu, "status": status,
                               "jobs": (j0, self.counters.jobs_started())})
        if self.tracer:
            rec["layers"], rec["trace_overhead_s"] = self.tracer.take()
        snap = self.counters.snapshot()
        for op in rec["ops"]:
            op["counters"] = self.counters.summarize(snap, range(*op["jobs"]))
        rec["counters"] = self.counters.summarize(
            snap, [j for op in rec["ops"] for j in range(*op["jobs"])])
        return rec

    # -- workloads --------------------------------------------------------
    def forecast_cycle(self) -> dict:
        from aos_spark.pipeline import jobs
        from aos_spark.report.assemble import report_path
        from perfbench.trace import tree_files

        spec, spark = self.spec, self.spark
        inputs, storm = spec["inputs"], spec["storm"]
        fts = spec["forecasts"]
        base = os.path.join(inputs, "base")
        fdirs = [os.path.join(inputs, f"forecast_{i}") for i in range(len(fts))]
        patch = spark.read.parquet(os.path.join(inputs, "patch.parquet"))
        wh = os.path.join(spec["work"], "warehouse")
        if self.tracer:
            self.tracer.files_root = wh

        def init():
            jobs.initialize(spark, base, wh, "AA")
            return "INITIALIZED"

        def update(i):
            return jobs.update(spark, fdirs[i], wh, storm, fts[i])["status"]

        def do_patch():
            jobs.patch(spark, wh, "AA", "population", patch)
            return "PATCHED"

        ops = [("initialize", "initialize", init)]
        ops += [(f"update_{i}", "update", lambda i=i: update(i)) for i in range(len(fts))]
        ops += [("resubmit_0", "resubmit", lambda: update(0)),
                ("patch_population", "patch", do_patch)]
        rec = self.run_ops(ops)
        want = ["INITIALIZED"] + ["SUCCESS"] * len(fts) + ["SKIPPED", "PATCHED"]
        for op, w in zip(rec["ops"], want):
            if op["status"] != w and not op["status"].startswith("ERROR"):
                self.failures.append((op["name"], f"status {op['status']!r}, want {w!r}"))
        reports = {}
        for i, ft in enumerate(fts):
            path = report_path(wh, storm, ft)
            if os.path.exists(path):
                with open(path) as f:
                    reports[ft] = f.read()
            else:
                self.failures.append((f"update_{i}", f"report {ft} missing"))
        files = tree_files(wh)
        rec["files_written"] = len(files)
        rec["run_log_files"] = sum(
            1 for p in files if f"{os.sep}run_log{os.sep}" in p and p.endswith(".parquet"))
        return {"pass": rec, "warehouse": wh, "reports": reports}

    def registry_reads(self) -> dict:
        from aos_spark.cache import release_tracked
        from aos_spark.queries import QUERIES

        spark, sf = self.spark, os.path.join(self.spec["inputs"], "base")
        results: dict[str, dict] = {}
        build: list[float] = []

        def query(name):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf)
            build.append(time.perf_counter() - t0)
            rows = [tuple(r) for r in df.collect()]
            release_tracked()
            results[name] = {"columns": df.columns, "rows": rows}
            return "OK"

        rec = self.run_ops([(n, "query", lambda n=n: query(n)) for n in self.spec["queries"]])
        rec["build_s"] = sum(build)
        rec["exec_s"] = rec["wall_s"] - rec["build_s"]
        from check_oracle import value_hash

        return {"pass": rec, "results": {
            n: {"rows": len(r["rows"]), "columns": sorted(r["columns"]),
                "digest": value_hash(r["rows"], r["columns"])} for n, r in results.items()}}

    def main(self) -> dict:
        self.setup()
        out = getattr(self, self.spec["workload"])()
        return {
            "setup_s": self.setup_s,
            "setup_cpu_s": self.setup_cpu_s,
            "get_spark_s": self.get_spark_s,
            "import_s": self.import_s,
            "cores": self.counters.cores,
            "env_fingerprint": self.fingerprint,
            "traced_functions": getattr(self, "traced_functions", 0),
            "failures": self.failures,
            "peak_rss_mb": peak_rss_mb(os.getpid()) + peak_rss_mb(self.jvm_pid),
            **out,
        }


def main() -> int:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    run = Run(spec)
    out = run.main()
    with open(spec["result"], "w") as f:
        json.dump(out, f)
    run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
