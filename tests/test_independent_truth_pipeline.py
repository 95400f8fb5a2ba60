"""Independent truth for the forecast update's member and facility views.

One `jobs.update` on sf0.001 writes the facilities, severity and tracks
views; DuckDB recomputes each from the input parquet files with the
rules stated in `aos_spark/pipeline/jobs.py`, sharing no code with it:

* a member's envelope at threshold t is the bounding box of the 100×100
  boxes around its tiles with a value ≥ t; a facility is hit when the
  disc of radius FACILITY_BUFFER around its point meets the box (squared
  Euclidean point-to-box distance ≤ FACILITY_BUFFER²);
* facility probability = hitting members / ENSEMBLE_SIZE, 0.0 without hits;
* severity = Σ base-layer population over the member's hit tiles;
* tracks = per (member, threshold) hit-facility counts per kind plus the
  population and built-surface sums over the hit tiles.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from aos_spark.pipeline import jobs
from aos_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"
STORM = "TRUTHSTORM"
FC = "20240115000000"

KINDS = ", ".join(f"'{k}'" for k in jobs.FACILITY_KINDS)
THRESHOLDS = ", ".join(str(t) for t in jobs.WIND_THRESHOLDS)
B = jobs.FACILITY_BUFFER

TRUTH = f"""
CREATE TABLE base AS
SELECT user_id AS tile_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS population,
       CAST(COUNT(*) AS DOUBLE) AS built_surface
FROM '{SF_DIR}/events.parquet' GROUP BY user_id;

CREATE TABLE hits AS
SELECT DISTINCT e.user_id AS tile_id, e.event_type AS member, t.th AS wind_threshold
FROM '{SF_DIR}/events.parquet' e, (SELECT UNNEST([{THRESHOLDS}]) AS th) t
WHERE e.value >= t.th;

CREATE TABLE env AS
SELECT member, wind_threshold,
       MIN(fmod(tile_id * 7.0::DOUBLE, 6000.0) - 50.0) AS xmin,
       MAX(fmod(tile_id * 7.0::DOUBLE, 6000.0) + 50.0) AS xmax,
       MIN((tile_id % 97) * 10.0::DOUBLE - 50.0) AS ymin,
       MAX((tile_id % 97) * 10.0::DOUBLE + 50.0) AS ymax
FROM hits GROUP BY ALL;

CREATE TABLE fac AS
SELECT c_custkey AS facility_id,
       [{KINDS}][c_custkey % 4 + 1] AS kind,
       ((c_custkey * 131) % 6000)::DOUBLE AS fx,
       ((c_custkey * 17) % 970)::DOUBLE AS fy
FROM '{SF_DIR}/customer.parquet';

CREATE TABLE fac_hits AS
SELECT f.facility_id, f.kind, v.member, v.wind_threshold
FROM fac f JOIN env v
  ON GREATEST(v.xmin - f.fx, f.fx - v.xmax, 0) * GREATEST(v.xmin - f.fx, f.fx - v.xmax, 0)
     + GREATEST(v.ymin - f.fy, f.fy - v.ymax, 0) * GREATEST(v.ymin - f.fy, f.fy - v.ymax, 0)
     <= {B * B};
"""

KIND_COUNTS = ",\n".join(
    f"""(SELECT COUNT(*) FROM fac_hits h WHERE h.member = v.member
          AND h.wind_threshold = v.wind_threshold AND h.kind = '{k}') AS severity_{k}"""
    for k in jobs.FACILITY_KINDS
)

WANT = {
    "facilities": f"""
        SELECT f.facility_id, f.kind, t.th AS wind_threshold,
               COUNT(DISTINCT h.member) / {jobs.ENSEMBLE_SIZE}::DOUBLE AS probability
        FROM fac f CROSS JOIN (SELECT UNNEST([{THRESHOLDS}]) AS th) t
        LEFT JOIN fac_hits h ON h.facility_id = f.facility_id AND h.wind_threshold = t.th
        GROUP BY ALL""",
    "severity": """
        SELECT h.member, h.wind_threshold AS threshold,
               CAST(SUM(CAST(b.population AS DECIMAL(18,2))) AS DOUBLE) AS total_exposure
        FROM hits h JOIN base b USING (tile_id) GROUP BY ALL""",
    "tracks": f"""
        SELECT v.member, v.wind_threshold,
               {KIND_COUNTS},
               (SELECT CAST(SUM(CAST(b.population AS DECIMAL(18,2))) AS DOUBLE)
                  FROM hits h JOIN base b USING (tile_id)
                  WHERE h.member = v.member AND h.wind_threshold = v.wind_threshold)
                  AS severity_population,
               (SELECT CAST(SUM(CAST(b.built_surface AS DECIMAL(18,2))) AS DOUBLE)
                  FROM hits h JOIN base b USING (tile_id)
                  WHERE h.member = v.member AND h.wind_threshold = v.wind_threshold)
                  AS severity_built_surface
        FROM env v""",
}

KEYS = {
    "facilities": ["facility_id", "wind_threshold"],
    "severity": ["member", "threshold"],
    "tracks": ["member", "wind_threshold"],
}


@pytest.fixture(scope="module")
def truth(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    jobs.initialize(spark, SF_DIR, wh, country="AA")
    assert jobs.update(spark, SF_DIR, wh, STORM, FC)["status"] == "SUCCESS"
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(TRUTH)
    yield con, wh
    con.close()


def _rows(con, sql: str, keys: list[str]) -> dict[tuple, dict]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    out = {}
    for r in res.fetchall():
        row = dict(zip(cols, r))
        out[tuple(row[k] for k in keys)] = row
    return out


@pytest.mark.parametrize("view", ["facilities", "severity", "tracks"])
def test_view_matches_duckdb_recompute(truth, view):
    con, wh = truth
    got_sql = f"""
        SELECT * EXCLUDE (storm, forecast_compact) REPLACE (
            {"CAST(wind_threshold AS INT) AS wind_threshold" if view != "severity"
             else "CAST(threshold AS INT) AS threshold"})
        FROM read_parquet('{os.path.join(wh, "views", view)}/**/*.parquet',
                          hive_partitioning = true, hive_types_autocast = false)
        WHERE storm = '{STORM}' AND forecast_compact = '{FC}'"""
    keys = KEYS[view]
    want = _rows(con, WANT[view], keys)
    got = _rows(con, got_sql, keys)
    assert want, view
    assert set(got) == set(want), view
    for key, w in want.items():
        g = got[key]
        for col, v in w.items():
            if isinstance(v, float):
                assert math.isclose(g[col], v, rel_tol=1e-12, abs_tol=0.0), (view, key, col)
            else:
                assert g[col] == v, (view, key, col)


def test_facility_truth_has_hits_and_misses(truth):
    """The recompute exercises both branches: some facilities are hit,
    and some are hit by no member at any threshold."""
    con, _ = truth
    n_fac, n_hit = con.execute(
        "SELECT (SELECT COUNT(*) FROM fac), (SELECT COUNT(DISTINCT facility_id) FROM fac_hits)"
    ).fetchone()
    assert 0 < n_hit < n_fac


def test_facilities_view_is_the_registry_query(spark, truth):
    """The facilities view the update writes equals the oracle-checked
    `j2_facility_probability` query row for row."""
    _, wh = truth
    view = spark.read.parquet(os.path.join(wh, "views", "facilities")).filter(
        f"storm = '{STORM}' AND forecast_compact = '{FC}'"
    )
    got = view.selectExpr(
        "facility_id", "kind", "CAST(wind_threshold AS INT) AS wind_threshold", "probability"
    ).collect()
    want = QUERIES["j2_facility_probability"](spark, SF_DIR).collect()
    assert got and sorted(map(tuple, got)) == sorted(map(tuple, want))
