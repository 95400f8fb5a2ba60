"""End-to-end pipeline-tier tests: initialize → update → idempotency →
rewrite → patch → report, on sf0.001 into a temp warehouse."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.pipeline import control, jobs
from aos_spark.report import assemble

SF_DIR = "/root/testdata/sf0.001"
STORM = "TESTSTORM"
FC1 = "20240115000000"
FC2 = "20240115060000"  # 6 h later → delta tracking vs FC1
FC3 = "20240115120000"
# report JSONs of the unfused report assembly (one Spark job chain per
# section) on this warehouse; the fused passes must reproduce them
GOLDEN = Path(__file__).resolve().parent / "golden"
# a fresh update on sf0.001 ran 75 jobs with Python-RDD local frames and
# the unfused report, 58 after both were replaced, and 52 once every
# cached frame was built once for all the concurrent view writes
UPDATE_JOB_BUDGET = 52


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    jobs.initialize(spark, SF_DIR, wh, country="AA")
    return wh


def test_initialize_base_layer(spark, warehouse):
    layer = spark.read.parquet(jobs.base_layer_path(warehouse))
    assert layer.count() > 0
    # every tile got an admin assignment (3-step always assigns)
    assert layer.filter(F.col("admin_id").isNull()).count() == 0
    assert set(layer.select("country").distinct().toPandas()["country"]) == {"AA"}


def test_initialize_admin_layer_preserves_empty(spark, warehouse):
    admin = spark.read.parquet(jobs.admin_layer_path(warehouse))
    # all 5 zones present even if some got no tiles; zero-filled sums
    assert admin.count() == 5
    assert admin.filter(F.col("population").isNull()).count() == 0


def test_update_writes_views_and_logs(spark, warehouse):
    res = jobs.update(spark, SF_DIR, warehouse, STORM, FC1)
    assert res["status"] == "SUCCESS"
    tiles = spark.read.parquet(os.path.join(warehouse, "views", "tiles"))
    assert set(
        r["wind_threshold"] for r in tiles.select("wind_threshold").distinct().collect()
    ) == set(jobs.WIND_THRESHOLDS)
    # probability bounded by construction; denominator is the FIXED ensemble
    assert tiles.filter(
        (F.col("probability") < 0) | (F.col("probability") > 1)
    ).count() == 0
    status = control.latest_run_status(spark, warehouse)
    row = status.filter(
        (F.col("storm") == STORM) & (F.col("forecast_time") == FC1)
    ).first()
    assert row["status"] == "SUCCESS"
    assert row["runtime_seconds"] > 0


def test_update_writes_facility_and_track_views(spark, warehouse):
    """View-family parity with impact_analysis.py:2809-2840,2922-2927: the
    four facility view families, the track severity view, and the
    track-segment view all exist per (storm, forecast [, threshold])."""
    fac = spark.read.parquet(os.path.join(warehouse, "views", "facilities"))
    assert set(r["kind"] for r in fac.select("kind").distinct().collect()) == set(
        jobs.FACILITY_KINDS
    )
    assert set(
        r["wind_threshold"] for r in fac.select("wind_threshold").distinct().collect()
    ) == set(jobs.WIND_THRESHOLDS)
    # one row per facility per threshold; probability in [0, 1]
    n_fac = fac.select("facility_id").distinct().count()
    assert fac.count() == n_fac * len(jobs.WIND_THRESHOLDS)
    assert (
        fac.filter((F.col("probability") < 0) | (F.col("probability") > 1)).count() == 0
    )

    tracks = spark.read.parquet(os.path.join(warehouse, "views", "tracks"))
    for k in jobs.FACILITY_KINDS:
        assert f"severity_{k}" in tracks.columns
    assert "severity_population" in tracks.columns
    # at most one row per (member, threshold), members bounded by ensemble
    assert tracks.count() <= jobs.ENSEMBLE_SIZE * len(jobs.WIND_THRESHOLDS)

    seg = spark.read.parquet(os.path.join(warehouse, "views", "track_segments"))
    # n-1 segments per member track
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    n_members = seg.select("member").distinct().count()
    assert seg.count() == n_events - n_members
    assert seg.filter(F.col("cx_next").isNull()).count() == 0


def test_facility_probe_buffer_is_a_disc(spark):
    """A facility is hit when the disc of radius FACILITY_BUFFER around it
    meets the envelope, not the square around it: a point diagonal from a
    box corner by (b, b) is outside the disc, one at (b/2, b/2) or b off
    an edge is inside."""
    b = jobs.FACILITY_BUFFER
    env = spark.createDataFrame(
        [(3, 100, 0.0, 10.0, 0.0, 10.0)],
        "member INT, wind_threshold INT, xmin DOUBLE, xmax DOUBLE, ymin DOUBLE, ymax DOUBLE",
    )
    fac = spark.createDataFrame(
        [
            (1, "schools", 10.0 + b, 10.0 + b),
            (2, "schools", 10.0 + b / 2, 10.0 + b / 2),
            (3, "schools", 10.0 + b, 5.0),
        ],
        "facility_id BIGINT, kind STRING, fx DOUBLE, fy DOUBLE",
    )
    got = {
        r["facility_id"]: [tuple(h) for h in r["hit_members"]]
        for r in jobs.facility_probe(fac, env).collect()
    }
    assert got == {1: [], 2: [(3, 100)], 3: [(3, 100)]}


def test_update_is_idempotent(spark, warehouse):
    res = jobs.update(spark, SF_DIR, warehouse, STORM, FC1)
    assert res["status"] == "SKIPPED"


def test_update_rewrite_overwrites_cleanly(spark, warehouse):
    tiles_path = os.path.join(warehouse, "views", "tiles")
    before = spark.read.parquet(tiles_path).count()
    res = jobs.update(spark, SF_DIR, warehouse, STORM, FC1, rewrite=True)
    assert res["status"] == "SUCCESS"
    # dynamic partition overwrite: same partitions, no duplicated rows (F9)
    assert spark.read.parquet(tiles_path).count() == before


def test_report_contents_and_deltas(spark, warehouse):
    rep1 = assemble.load_report(warehouse, STORM, FC1)
    assert rep1 is not None
    assert rep1["has_previous"] is False
    assert rep1["max_active_threshold"] in (None, *jobs.WIND_THRESHOLDS)
    assert len(rep1["top_tiles"]) == assemble.TOP_K
    assert rep1["landfall"]["n_members_making_landfall"] <= jobs.ENSEMBLE_SIZE
    # None-vs-0 contract: keys exist; values are int-or-None, never NaN
    for th, vals in rep1["thresholds"].items():
        for v in vals.values():
            assert v is None or isinstance(v, int)

    # vulnerability section (A7/F8): all 8 band keys present; RWI exists in
    # the base layer, so the poverty keys must be concrete ints (not None)
    vuln = rep1["vulnerability"]
    for mlabel in ("pop", "built_surface"):
        for band in ("poverty", "severe", "urban", "rural"):
            assert f"expected_{mlabel}_{band}" in vuln
            v = vuln[f"expected_{mlabel}_{band}"]
            assert v is None or isinstance(v, int)
    assert isinstance(vuln["expected_pop_poverty"], int) or vuln[
        "expected_pop_poverty"
    ] is None  # contract shape
    # per-facility top-5 + expected counts: all four kinds, probabilities
    # descending within each list
    assert set(rep1["top_facilities"]) == set(jobs.FACILITY_KINDS)
    for kind, rows in rep1["top_facilities"].items():
        assert len(rows) <= assemble.TOP_K
        probs = [r["probability"] for r in rows]
        assert probs == sorted(probs, reverse=True)
    for kind in jobs.FACILITY_KINDS:
        v = rep1["expected_facilities"][f"expected_{kind}"]
        assert v is None or isinstance(v, int)

    # second forecast 6 h later sees the first → deltas keyed by name
    res = jobs.update(spark, SF_DIR, warehouse, STORM, FC2)
    assert res["status"] == "SUCCESS"
    rep2 = assemble.load_report(warehouse, STORM, FC2)
    assert rep2["has_previous"] is True
    assert any(k.endswith("expected_population_impacted") for k in rep2["deltas_vs_previous"])
    # same inputs → zero delta (numeric, not None)
    assert all(
        d == 0 for d in rep2["deltas_vs_previous"].values() if d is not None
    )


def _view(spark, warehouse, name, forecast):
    return spark.read.parquet(os.path.join(warehouse, "views", name)).filter(
        (F.col("storm") == STORM) & (F.col("forecast_compact") == forecast)
    )


def test_report_json_matches_golden(warehouse):
    for forecast, name in [(FC1, "report_fc1.json"), (FC2, "report_fc2.json")]:
        with open(assemble.report_path(warehouse, STORM, forecast)) as f:
            assert f.read() == (GOLDEN / name).read_text(), name


@pytest.mark.parametrize(
    "name,keep",
    [
        # no key-threshold rows: the section falls back to the lowest
        # threshold (50, whose probabilities differ from 150's here)
        ("report_fallback_threshold.json", f"wind_threshold != {jobs.KEY_THRESHOLD}"),
        ("report_empty_facilities.json", "false"),
    ],
    ids=["fallback_threshold", "empty_facilities"],
)
def test_report_facility_section_edge_cases(spark, warehouse, tmp_path, name, keep):
    report = assemble.build_report(
        spark,
        str(tmp_path),
        STORM,
        FC1,
        _view(spark, warehouse, "tiles", FC1),
        _view(spark, warehouse, "admin", FC1),
        read_sf_table(spark, SF_DIR, "events"),
        fac_view=_view(spark, warehouse, "facilities", FC1).filter(keep),
    )
    assert json.dumps(report, indent=2, sort_keys=True) == (GOLDEN / name).read_text()
    if keep == "false":
        assert report["top_facilities"] == {}
        assert report["expected_facilities"] == {}


def test_update_job_budget(spark, warehouse):
    """Fixed cost of one update: JVM-only local frames and the fused
    report keep a fresh update within the job budget."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    res = jobs.update(spark, SF_DIR, warehouse, STORM, FC3)
    assert res["status"] == "SUCCESS"
    assert dag.numTotalJobs() - before <= UPDATE_JOB_BUDGET


def test_patch_column_and_admin_reagg(spark, warehouse):
    layer = spark.read.parquet(jobs.base_layer_path(warehouse))
    some_tiles = [r["tile_id"] for r in layer.select("tile_id").limit(3).collect()]
    custom = spark.createDataFrame(
        [(t, 123456.0) for t in some_tiles], "tile_id BIGINT, value DOUBLE"
    )
    jobs.patch(spark, warehouse, "AA", "population", custom)
    patched = spark.read.parquet(jobs.base_layer_path(warehouse))
    got = {
        r["tile_id"]: r["population"]
        for r in patched.filter(F.col("tile_id").isin(some_tiles)).collect()
    }
    assert all(v == 123456.0 for v in got.values())
    # admin layer re-aggregated: total population reflects the patch
    admin = spark.read.parquet(jobs.admin_layer_path(warehouse))
    assert admin.agg(F.sum("population")).first()[0] >= 3 * 123456.0


def test_patch_never_reads_its_own_overwrite(spark, warehouse):
    """patch() must materialize to a temp subtree before overwriting the base
    layer — persist() is not a barrier (eviction → recompute reads the
    half-overwritten path). Verify full round-trip integrity: row count
    unchanged, un-patched rows byte-identical, temp subtree cleaned up."""
    before = {
        r["tile_id"]: (r["population"], r["built_surface"], r["rwi"])
        for r in spark.read.parquet(jobs.base_layer_path(warehouse)).collect()
    }
    target = sorted(before)[0]
    custom = spark.createDataFrame([(target, 77.0)], "tile_id BIGINT, value DOUBLE")
    jobs.patch(spark, warehouse, "AA", "rwi", custom)
    after = {
        r["tile_id"]: (r["population"], r["built_surface"], r["rwi"])
        for r in spark.read.parquet(jobs.base_layer_path(warehouse)).collect()
    }
    assert set(after) == set(before)
    assert after[target][2] == 77.0
    untouched = {t: v for t, v in before.items() if t != target}
    assert {t: after[t] for t in untouched} == untouched
    assert not os.path.exists(os.path.join(warehouse, "tmp", "patch_AA_rwi"))


def test_patch_rejects_unknown_column(spark, warehouse):
    custom = spark.createDataFrame([(1, 1.0)], "tile_id BIGINT, value DOUBLE")
    with pytest.raises(ValueError, match="not patchable"):
        jobs.patch(spark, warehouse, "AA", "no_such_metric", custom)


def test_registry_roundtrip(spark, warehouse):
    assert "AA" in control.active_countries(spark, warehouse)
    control.set_country_flag(spark, warehouse, "AA", active=False)
    assert "AA" not in control.active_countries(spark, warehouse)
    control.set_country_flag(spark, warehouse, "AA", active=True)


def test_compact_time_helpers():
    assert assemble.previous_forecast("20240115060000") == "20240115000000"
    assert assemble.human_time("20251015120000") == "October 15, 2025 12:00 UTC"


def test_failed_update_logs_start_fields(spark, warehouse, monkeypatch):
    """The FAILURE row copies storm, forecast_time and started_at from the
    run's start row, keeps the error text verbatim (no SQL variable
    substitution), and is the latest status of that forecast."""
    msg = "boom ${env:HOME} it's a \\ \"quote\""

    def boom(*args, **kwargs):
        raise RuntimeError(msg)

    monkeypatch.setattr(jobs, "read_sf_table", boom)
    with pytest.raises(RuntimeError):
        jobs.update(spark, SF_DIR, warehouse, "FAILSTORM", FC1)

    log = control.read_run_log(spark, warehouse)
    (start,) = log.filter(
        (F.col("storm") == "FAILSTORM") & (F.col("status") == "IN_PROGRESS")
    ).collect()
    rows = {r["status"]: r for r in log.filter(F.col("run_id") == start["run_id"]).collect()}
    assert set(rows) == {"IN_PROGRESS", "FAILURE"}
    fail = rows["FAILURE"]
    for c in ("storm", "forecast_time", "started_at"):
        assert fail[c] == start[c]
    assert fail["error"] == msg
    assert fail["finished_at"] >= fail["started_at"]

    latest = control.latest_run_status(spark, warehouse).filter(
        (F.col("storm") == "FAILSTORM") & (F.col("forecast_time") == FC1)
    ).collect()
    assert [r["status"] for r in latest] == ["FAILURE"]


def test_log_run_complete_unknown_run_id(spark, tmp_path):
    """An unknown run_id still appends exactly one terminal row, with NULL
    storm/forecast_time/started_at, whether or not the log exists."""
    for wh, started in [(str(tmp_path / "fresh"), False), (str(tmp_path / "used"), True)]:
        if started:
            control.log_run_start(spark, wh, "S", FC1)
        control.log_run_complete(
            spark, wh, "no-such-run", success=True, runtime_seconds=1.5
        )
        log = control.read_run_log(spark, wh)
        assert log.count() == (2 if started else 1)
        (row,) = log.filter(F.col("run_id") == "no-such-run").collect()
        assert row["status"] == "SUCCESS"
        assert row["runtime_seconds"] == 1.5
        assert (row["storm"], row["forecast_time"], row["started_at"]) == (None,) * 3
        assert row["finished_at"] is not None


def test_reports_live_under_a_file_uri_warehouse(spark, tmp_path, monkeypatch):
    """Reports are written and read through the warehouse URI's Hadoop
    FileSystem: two chained updates on a ``file:`` warehouse, with the
    working directory changed between them, leave both reports under the
    warehouse (byte-identical to the golden files), create nothing in
    either working directory, and the second sees the first (deltas)."""
    wh = tmp_path / "wh"
    uri = "file:" + str(wh)
    cwds = [tmp_path / "cwd1", tmp_path / "cwd2"]
    for d in cwds:
        d.mkdir()
    monkeypatch.chdir(cwds[0])
    jobs.initialize(spark, SF_DIR, uri, country="AA")
    assert jobs.update(spark, SF_DIR, uri, STORM, FC1)["status"] == "SUCCESS"
    monkeypatch.chdir(cwds[1])
    assert jobs.update(spark, SF_DIR, uri, STORM, FC2)["status"] == "SUCCESS"
    for forecast, name in [(FC1, "report_fc1.json"), (FC2, "report_fc2.json")]:
        path = wh / "reports" / f"{STORM}_{forecast}.json"
        assert path.read_text() == (GOLDEN / name).read_text(), name
    assert [list(d.iterdir()) for d in cwds] == [[], []]
    assert assemble.load_report(uri, STORM, FC2)["has_previous"] is True
