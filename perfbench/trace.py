"""Measurement from outside the engine: Spark status-store counters and
layer spans.

`SparkCounters` reads job and stage records from the driver's status
store (it works with `spark.ui.enabled=false`) and sums them for a range of
job ids. `Tracer` wraps the functions of each engine layer at the module
attribute its callers resolve, and records one span per call that crosses
into the layer from another layer, with the wall time and Spark jobs the
call caused. Nested calls within one layer are not split.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import pkgutil
import sys
import time
import types

# module prefix -> layer; the longest matching prefix wins
LAYERS = {
    "aos_spark.pipeline.control": "pipeline.control",
    "aos_spark.io.writers": "io.writers",
    "aos_spark.io": "io.readers",
    "aos_spark.report": "report.assemble",
    "aos_spark.ops": "ops",
    "aos_spark.geo": "geo",
    "aos_spark.llm": "llm",
}


def layer_of(module: str | None) -> str | None:
    best = None
    for prefix, layer in LAYERS.items():
        if module and (module == prefix or module.startswith(prefix + ".")):
            if best is None or len(prefix) > len(best[0]):
                best = (prefix, layer)
    return best[1] if best else None


class SparkCounters:
    """Job and stage counters from the status store of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        scala = self._jvm.com.fasterxml.jackson.module.scala
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self.cores = sc.defaultParallelism

    def jobs_started(self) -> int:
        """Jobs submitted so far; job ids are 0..n-1 in submission order."""
        return self._dag.numTotalJobs()

    def snapshot(self) -> tuple[dict[int, list[int]], dict[int, dict]]:
        """(job id -> stage ids, stage id -> latest attempt) for every
        job and stage the store still holds."""
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = json.loads(self._mapper.writeValueAsString(self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList(),
        )))
        by_stage: dict[int, dict] = {}
        for s in stages:
            prev = by_stage.get(s["stageId"])
            if prev is None or s["attemptId"] > prev["attemptId"]:
                by_stage[s["stageId"]] = s
        return {j["jobId"]: j["stageIds"] for j in jobs}, by_stage

    def summarize(self, snap, job_ids) -> dict:
        """Totals over the given jobs. Only stages that ran count; stages
        skipped because their shuffle output was reused do not, and a
        stage shared by several of the jobs counts once."""
        jobs, stages = snap
        job_ids = list(job_ids)
        ids = set()
        for j in job_ids:
            ids.update(jobs.get(j, ()))
        ran = [stages[i] for i in sorted(ids) if i in stages and stages[i]["status"] in ("COMPLETE", "FAILED")]
        return {
            "jobs": len(job_ids),
            "jobs_missing": sum(1 for j in job_ids if j not in jobs),
            "stages": len(ran),
            "tasks": sum(s["numCompleteTasks"] for s in ran),
            "executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
            "small_stages": sum(1 for s in ran if s["numTasks"] < self.cores),
        }


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of the data files under root."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            p = os.path.join(d, n)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Span:
    __slots__ = ("layer", "start", "jobs0", "child_s", "child_jobs", "files0")

    def __init__(self, layer: str, start: float, jobs0: int):
        self.layer, self.start, self.jobs0 = layer, start, jobs0
        self.child_s = 0.0
        self.child_jobs = 0
        self.files0 = None


class Tracer:
    """Layer spans kept in memory; `take()` returns and resets the totals."""

    def __init__(self, counters: SparkCounters):
        self._counters = counters
        self._stack: list[Span] = []
        self._wrapped: dict[types.FunctionType, types.FunctionType] = {}
        self.files_root: str | None = None  # watched for io.writers output
        self.reset()

    def reset(self) -> None:
        self.totals: dict[str, dict[str, float]] = {}
        self.overhead_s = 0.0

    def take(self) -> tuple[dict[str, dict[str, float]], float]:
        out = (self.totals, self.overhead_s)
        self.reset()
        return out

    def install(self) -> int:
        """Import every engine module, then replace each layer function in
        every engine namespace that holds it. Returns how many."""
        import aos_spark

        for info in pkgutil.walk_packages(aos_spark.__path__, "aos_spark."):
            importlib.import_module(info.name)
        for mod in [m for n, m in sys.modules.items() if n.startswith("aos_spark")]:
            for name, val in list(vars(mod).items()):
                if not isinstance(val, types.FunctionType) or hasattr(val, "evalType"):
                    continue
                layer = layer_of(val.__module__)
                if layer is None:
                    continue
                if val not in self._wrapped:
                    self._wrapped[val] = self._wrap(val, layer)
                setattr(mod, name, self._wrapped[val])
        return len(self._wrapped)

    def _wrap(self, fn, layer: str):
        stack, counters = self._stack, self._counters

        # functools.wraps keeps __module__/__qualname__, so a wrapper that
        # reaches an executor pickles by reference to the plain function
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if stack and stack[-1].layer == layer:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            span = Span(layer, 0.0, counters.jobs_started())
            if layer == "io.writers" and self.files_root:
                span.files0 = tree_files(self.files_root)
            stack.append(span)
            span.start = time.perf_counter()
            self.overhead_s += span.start - t0
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self._close(stack.pop(), t1)
                self.overhead_s += time.perf_counter() - t1

        return traced

    def _close(self, span: Span, end: float) -> None:
        dur = end - span.start
        jobs = self._counters.jobs_started() - span.jobs0
        t = self.totals.setdefault(span.layer, {"s": 0.0, "calls": 0, "jobs": 0})
        t["s"] += dur - span.child_s
        t["calls"] += 1
        t["jobs"] += jobs - span.child_jobs
        if span.files0 is not None:
            before = span.files0
            new = {p: v for p, v in tree_files(self.files_root).items() if before.get(p) != v}
            t["files"] = t.get("files", 0) + len(new)
            t["bytes"] = t.get("bytes", 0) + sum(size for size, _ in new.values())
        if self._stack:
            parent = self._stack[-1]
            parent.child_s += dur
            parent.child_jobs += jobs
