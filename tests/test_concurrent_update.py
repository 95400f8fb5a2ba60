"""Concurrent actions of one forecast update: the fan-out helper, the
concurrent view writes and report collects, and what a failed update
leaves behind. sf0.001 into a temp warehouse."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from pathlib import Path

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from aos_spark.fanout import run_all
from aos_spark.io import writers
from aos_spark.io.readers import read_sf_table
from aos_spark.pipeline import control, jobs
from aos_spark.report import assemble

SF_DIR = "/root/testdata/sf0.001"
STORM = "TESTSTORM"
FC1 = "20240115000000"
GOLDEN = Path(__file__).resolve().parent / "golden"


def _fanout_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if t.name.startswith("fanout-")]


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    jobs.initialize(spark, SF_DIR, wh, country="AA")
    assert jobs.update(spark, SF_DIR, wh, STORM, FC1)["status"] == "SUCCESS"
    return wh


def test_run_all_keeps_input_order_and_raises_first_failure_in_order(spark):
    def slow(v):
        def call():
            time.sleep(0.2)
            return v
        return call

    assert run_all(spark, [slow(1), lambda: 2, slow(3)]) == [1, 2, 3]

    done = []

    def fail(msg, delay):
        def call():
            time.sleep(delay)
            done.append(msg)
            raise RuntimeError(msg)
        return call

    # the third fails first in time; the second is raised, after all ran
    with pytest.raises(RuntimeError, match="^second$"):
        run_all(spark, [slow(1), fail("second", 0.3), fail("third", 0.0)])
    assert sorted(done) == ["second", "third"]
    assert _fanout_threads() == []


def test_write_views_raises_first_failure_after_every_write_returned(
    spark, tmp_path, monkeypatch
):
    real = writers.write_view
    returned: dict[str, float] = {}
    second_failed = threading.Event()

    def timed(df, path, partition_cols=None, fmt="parquet"):
        name = os.path.basename(path)
        if name == "c":  # the last write starts only after the failure
            assert second_failed.wait(60)
            time.sleep(0.5)
        try:
            real(df, path, partition_cols=partition_cols, fmt=fmt)
        finally:
            returned[name] = time.monotonic()
            if name == "b":
                second_failed.set()

    monkeypatch.setattr(writers, "write_view", timed)
    ok = spark.range(20).withColumn("p", F.col("id") % 2)
    bad = ok.withColumn("x", F.raise_error(F.lit("second view failed")))
    paths = [str(tmp_path / n) for n in ("a", "b", "c")]
    views = [(ok, paths[0], ["p"]), (bad, paths[1], ["p"]), (ok, paths[2], ["p"])]
    with pytest.raises(Exception, match="second view failed"):
        writers.write_views(views)
    raised = time.monotonic()
    assert set(returned) == {"a", "b", "c"}
    assert max(returned.values()) <= raised
    for p in (paths[0], paths[2]):
        assert spark.read.parquet(p).count() == 20
    assert _fanout_threads() == []


def test_write_views_builds_a_frame_two_views_read_once(spark, tmp_path, monkeypatch):
    real = writers.materialize
    builds = []

    def slow_build(df):
        builds.append(df)
        time.sleep(0.5)  # the other writer asks for the frame meanwhile
        real(df)

    monkeypatch.setattr(writers, "materialize", slow_build)
    shared = spark.range(40).withColumn("p", F.col("id") % 2).persist()
    try:
        paths = [str(tmp_path / n) for n in ("low", "high")]
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        before = dag.numTotalJobs()
        writers.write_views(
            [
                (shared.filter("id < 20"), paths[0], ["p"], [shared]),
                (shared.filter("id >= 20"), paths[1], ["p"], [shared]),
            ]
        )
        # one build job, then one job per write: neither write built the
        # cache again
        assert dag.numTotalJobs() - before == 3
        assert builds == [shared]
        for p in paths:
            assert spark.read.parquet(p).count() == 20
    finally:
        shared.unpersist()
    assert _fanout_threads() == []


def test_write_views_builds_each_frame_once_under_contention(spark, monkeypatch):
    frames = [spark.range(1) for _ in range(3)]
    builds: list[int] = []
    writes: list[str] = []

    def build(df):
        builds.append(id(df))
        time.sleep(0.01)

    monkeypatch.setattr(writers, "materialize", build)
    monkeypatch.setattr(
        writers, "write_view", lambda df, path, partition_cols=None: writes.append(path)
    )
    views = [(frames[0], f"v{i}", None, frames[i % 3 :] + frames[: i % 3]) for i in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        writers.write_views(views)
    finally:
        sys.setswitchinterval(interval)
    assert sorted(builds) == sorted(id(f) for f in frames)
    assert sorted(writes) == sorted(f"v{i}" for i in range(16))
    assert _fanout_threads() == []


def test_failed_update_logs_failure_after_all_writes_and_releases_caches(
    spark, warehouse, monkeypatch
):
    fc = "20240116000000"
    real_write = writers.write_view
    returned: dict[str, float] = {}

    def write_or_fail(df, path, partition_cols=None, fmt="parquet"):
        name = os.path.basename(path)
        if name == "severity":
            raise RuntimeError("severity view write failed")
        real_write(df, path, partition_cols=partition_cols, fmt=fmt)
        returned[name] = time.monotonic()

    real_log = control.log_run_complete
    logged: list[tuple[float, bool]] = []

    def log_complete(*args, **kwargs):
        logged.append((time.monotonic(), kwargs["success"]))
        real_log(*args, **kwargs)

    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    real_persist = frame_cls.persist
    persisted: list = []

    def persist(self, *args, **kwargs):
        out = real_persist(self, *args, **kwargs)
        persisted.append(out)
        return out

    monkeypatch.setattr(writers, "write_view", write_or_fail)
    monkeypatch.setattr(control, "log_run_complete", log_complete)
    monkeypatch.setattr(frame_cls, "persist", persist)

    with pytest.raises(RuntimeError, match="severity view write failed"):
        jobs.update(spark, SF_DIR, warehouse, STORM, fc)

    # the six other fanned-out writes all returned before the FAILURE row
    assert set(returned) == {
        "tiles", "admin", "cci", "facilities", "tracks", "track_segments"
    }
    assert len(logged) == 1 and logged[0][1] is False
    assert max(returned.values()) <= logged[0][0]
    row = (
        control.latest_run_status(spark, warehouse)
        .filter((F.col("storm") == STORM) & (F.col("forecast_time") == fc))
        .first()
    )
    assert row["status"] == "FAILURE"
    assert "severity view write failed" in row["error"]
    # every frame the update persisted is released, and no writer thread lives
    assert len(persisted) >= 4
    none = StorageLevel(False, False, False, False, 1)
    assert all(df.storageLevel == none for df in persisted)
    assert _fanout_threads() == []


def _plan_nodes(plan):
    """Every node of a physical plan, through adaptive wrappers (their
    initial plan) and into the plans of cached relations."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.initialPlan())
        return
    yield plan
    if name == "InMemoryTableScanExec":
        yield from _plan_nodes(plan.relation().cachedPlan())
        return
    for i in range(plan.children().size()):
        yield from _plan_nodes(plan.children().apply(i))


def test_facility_view_never_shuffles_facilities(spark, warehouse, monkeypatch):
    """Facilities probe the broadcast envelope list: the facility side of
    the facilities write has no exchange (SURVEY §J2)."""
    real_write = writers.write_view
    plans = {}

    def capture(df, path, partition_cols=None, fmt="parquet"):
        plans[os.path.basename(path)] = df._jdf.queryExecution().executedPlan()
        real_write(df, path, partition_cols=partition_cols, fmt=fmt)

    monkeypatch.setattr(writers, "write_view", capture)
    assert jobs.update(spark, SF_DIR, warehouse, STORM, "20240117000000")["status"] == "SUCCESS"
    nodes = list(_plan_nodes(plans["facilities"]))

    def reads_facilities(plan):
        return any(
            n.getClass().getSimpleName() == "FileSourceScanExec"
            and "customer.parquet" in n.toString()
            for n in _plan_nodes(plan)
        )

    (probe,) = [n for n in nodes if n.getClass().getSimpleName() == "BroadcastNestedLoopJoinExec"]
    assert probe.buildSide().toString() == "BuildRight"
    assert reads_facilities(probe.left())
    exchanges = [n for n in nodes if n.getClass().getSimpleName() == "ShuffleExchangeExec"]
    assert exchanges  # the envelope side shuffles
    assert not any(reads_facilities(x) for x in exchanges)


def _view(spark, warehouse, name):
    return spark.read.parquet(os.path.join(warehouse, "views", name)).filter(
        (F.col("storm") == STORM) & (F.col("forecast_compact") == FC1)
    )


@pytest.mark.parametrize(
    "name,keep",
    [
        # no key-threshold rows: the top-K per threshold must still give
        # the lowest threshold's lists (50, whose probabilities differ
        # from 150's here)
        ("report_fallback_threshold.json", f"wind_threshold != {jobs.KEY_THRESHOLD}"),
        ("report_empty_facilities.json", "false"),
        # one kind lacks the key threshold: the others keep it, so there is
        # no fallback and that kind's list is empty and its count None
        # (captured with the top-K taken only at the chosen threshold)
        (
            "report_key_threshold_missing_one_kind.json",
            f"NOT (kind = 'schools' AND wind_threshold = {jobs.KEY_THRESHOLD})",
        ),
    ],
    ids=["fallback_threshold", "empty_facilities", "key_threshold_missing_one_kind"],
)
def test_report_facility_top_k_per_threshold_matches_golden(
    spark, warehouse, tmp_path, name, keep
):
    report = assemble.build_report(
        spark,
        str(tmp_path),
        STORM,
        FC1,
        _view(spark, warehouse, "tiles"),
        _view(spark, warehouse, "admin"),
        read_sf_table(spark, SF_DIR, "events"),
        fac_view=_view(spark, warehouse, "facilities").filter(keep),
    )
    assert json.dumps(report, indent=2, sort_keys=True) == (GOLDEN / name).read_text()


def test_control_tables_read_through_a_file_uri(spark, warehouse):
    uri = "file:" + warehouse
    log = control.read_run_log(spark, uri)
    assert log.filter(F.col("forecast_time") == FC1).count() == 2  # start + SUCCESS
    assert control.read_run_log(spark, warehouse).count() == log.count()
    # the idempotency gate sees the completed forecast through the URI too
    assert jobs.update(spark, SF_DIR, uri, STORM, FC1)["status"] == "SKIPPED"
    assert [r["country"] for r in control.read_countries(spark, uri).collect()] == ["AA"]
    assert control.read_run_log(spark, "file:" + warehouse + "/nowhere").count() == 0
