"""JSON situation-report assembly (reports.py:106-143 template,
:577-784 do_report) with forecast-over-forecast change tracking (J13,
reports.py:627-703) and the None-vs-0 contract (reports.py:29-40,747-773).

All heavy computation happens in Spark aggregations; only the final ~small
dict is collected. Deltas come from the PREVIOUS report JSON (same storm,
forecast_time − 6 h), mirroring load_json_report(date-6h) — not a recompute.

Each section is one Spark pass, so a report costs seven collects, run
concurrently (no section reads another's result): all seven frames are
built on the calling thread, then each ``collect`` runs on its own driver
thread (``aos_spark.fanout.run_all``):
  * A6 totals and A9 max active threshold — one groupBy(wind_threshold);
  * A8 top tiles — one ordered limit;
  * A10 landfall — min(ts) per member, then count/min/max (the first row
    by (ts, event_id) carries the member's min ts, so no window);
  * admin rows — one filter;
  * A7 poverty and urban/rural bands — one groupBy(section, band) over
    the key-threshold tiles, each tile yielding a row per breakdown;
  * facilities — one groupBy(kind, wind_threshold) sum (it also lists the
    available thresholds, so the lowest-threshold fallback stays exact)
    and one top-K window per (kind, wind_threshold); the driver keeps the
    rows of the threshold the sums choose.
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.fanout import run_all
from aos_spark.ops.topk import topk_per_group
from aos_spark.pipeline.jobs import ENSEMBLE_SIZE, FACILITY_KINDS, KEY_THRESHOLD

TOP_K = 5  # reports.py:73
PREVIOUS_FORECAST_HOURS = 6  # forecast runs are 6 h apart (load_json_report)
COMPACT_FMT = "%Y%m%d%H%M%S"  # FILE_STRUCTURE.md:308-311


def compact_to_dt(compact: str) -> datetime:
    return datetime.strptime(compact, COMPACT_FMT)


def dt_to_compact(dt: datetime) -> str:
    return dt.strftime(COMPACT_FMT)


def human_time(compact: str) -> str:
    """'October 15, 2025 12:00 UTC' (reports.py:195-222)."""
    dt = compact_to_dt(compact)
    return dt.strftime("%B %-d, %Y %H:%M UTC")


def previous_forecast(compact: str) -> str:
    return dt_to_compact(compact_to_dt(compact) - timedelta(hours=PREVIOUS_FORECAST_HOURS))


def _optional(v):
    """None-on-NULL/NaN (the _optional_ceil/_optional_int contract,
    reports.py:29-40): absent data is None, never 0."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _optional_ceil(v):
    v = _optional(v)
    return None if v is None else int(math.ceil(v))


def report_path(warehouse: str, storm: str, forecast_time: str) -> str:
    return os.path.join(
        warehouse, "reports", f"{storm}_{forecast_time}.json"
    )


def _hadoop_file(path: str):
    """(Hadoop Path, its FileSystem) in the active session's JVM — so a
    report lands in and is read from any warehouse URI the writers
    accept (``file:/abs``, object stores), not a local relative path
    (the ``control._read_or_empty`` idiom)."""
    spark = SparkSession.active()
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def save_report(warehouse: str, storm: str, forecast_time: str, report: dict) -> str:
    path = report_path(warehouse, storm, forecast_time)
    jpath, fs = _hadoop_file(path)
    out = fs.create(jpath, True)  # creates missing parent dirs
    try:
        out.write(json.dumps(report, indent=2, sort_keys=True).encode())
    finally:
        out.close()
    return path


def load_report(warehouse: str, storm: str, forecast_time: str) -> dict | None:
    path = report_path(warehouse, storm, forecast_time)
    jpath, fs = _hadoop_file(path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return json.loads(bytes(stream.readAllBytes()))
    finally:
        stream.close()


def build_report(
    spark: SparkSession,
    warehouse: str,
    storm: str,
    forecast_time: str,
    tile_view: DataFrame,
    admin_view: DataFrame,
    events: DataFrame,
    fac_view: DataFrame,
) -> dict:
    """Assemble the flat report dict: per-threshold totals (A6), top-K tiles
    (A8), max active threshold (A9), landfall stats (A10/W2), per-admin rows,
    vulnerability breakdowns (A7/F8, reports.py:393-462), per-facility-type
    top-5 lists and expected-impact counts (reports.py:106-143,705-736),
    deltas vs the previous forecast (J13)."""
    # the sections' frames are built here and collected concurrently below
    # (module docstring)
    #
    # A6 + A9 — one pass per threshold: ceil'd expected totals (NULL-safe)
    # and whether the threshold carries any probability mass; the highest
    # such threshold is the max active threshold
    totals_df = tile_view.groupBy("wind_threshold").agg(
        F.sum(F.col("E_population").cast("decimal(18,6)"))
        .cast("double")
        .alias("E_population"),
        F.sum(F.col("E_built_surface").cast("decimal(18,6)"))
        .cast("double")
        .alias("E_built_surface"),
        (F.sum("probability") > 0).alias("active"),
    )

    # A8 — top-K tiles by probability at the key threshold (deterministic
    # tie-break by tile_id)
    top_tiles_df = (
        tile_view.filter(F.col("wind_threshold") == KEY_THRESHOLD)
        .orderBy(F.col("probability").desc(), F.col("tile_id"))
        .limit(TOP_K)
    )

    # A10/W2 — landfall: first event above the key threshold per member.
    # The first row by (ts, event_id) has the member's minimum ts, so a
    # per-member min() replaces the row_number window; a NULL ts sorts
    # first, so a member with one keeps NULL as its first ts. A global
    # aggregate: exactly one row.
    ts = F.col("ts")
    landfall_df = (
        events.filter(F.col("value") >= KEY_THRESHOLD)
        .groupBy("event_type")
        .agg(
            F.when(F.max(ts.isNull()), None).otherwise(F.min(ts)).alias("ts")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("earliest"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("latest"),
        )
    )

    # per-admin rows at the key threshold, keyed BY NAME (deliberate
    # deviation from reports.py:538-544's positional alignment — documented)
    admin_df = admin_view.filter(F.col("wind_threshold") == KEY_THRESHOLD)

    # A7/F8 — vulnerability section at the key threshold. Poverty bands come
    # from actual RWI (E_rwi / probability, reports.py:440-462); the
    # urban/rural split uses actual built-surface density as the settlement-
    # class analog (the domain has no SMOD layer; same de-expected formula,
    # reports.py:416-439). None-vs-0 contract: no banding data at all → None
    # ("N/A"); data present but an empty band → 0 (confirmed zero).
    # Both breakdowns come from one pass: each key tile yields one
    # (section, band) row per breakdown whose banding source is non-NULL.
    from aos_spark.ops.vulnerability import poverty_band, urban_rural_class

    key_tiles = tile_view.filter(
        (F.col("wind_threshold") == KEY_THRESHOLD) & (F.col("probability") > 0)
    ).withColumn("E_smod_class", F.col("E_built_surface"))
    sections = F.array(
        *[
            F.when(
                F.col(src).isNotNull(),
                F.struct(F.lit(name).alias("section"), band.alias("band")),
            )
            for name, src, band in [
                ("poverty", "E_rwi", poverty_band()),
                ("urban_rural", "E_smod_class", urban_rural_class()),
            ]
        ]
    )
    bands_df = (
        key_tiles.select(
            "E_population",
            "E_built_surface",
            F.inline(F.filter(sections, lambda s: s.isNotNull())),
        )
        .groupBy("section", "band")
        .agg(
            F.sum("E_population").alias("E_population"),
            F.sum("E_built_surface").alias("E_built_surface"),
        )
    )

    # per-facility-type top-5 + expected impacted-facility counts
    # (reports.py:705-736: nlargest(5, probability) at the key threshold,
    # falling back to the lowest available threshold; expected count =
    # ceil(Σ probability); kind with no facility data at all → None).
    # One small (kind, threshold) sum gives both the available thresholds
    # and the expected counts. The top-K is taken per (kind, threshold),
    # so it needs no threshold chosen first; the driver keeps the chosen
    # threshold's rows (at most kinds × thresholds × TOP_K rows come
    # back). The row-number filter is planned as a window group limit, so
    # the shuffle stays bounded by TOP_K rows per group and partition.
    sums_df = fac_view.groupBy("kind", "wind_threshold").agg(
        F.sum("probability").alias("p")
    )
    top_fac_df = topk_per_group(
        fac_view, ["kind", "wind_threshold"], "probability", "facility_id",
        k=TOP_K, rank_col="__rn",
    ).select("kind", "wind_threshold", "facility_id", "probability", "__rn")
    frames = [totals_df, top_tiles_df, landfall_df, admin_df, bands_df, sums_df, top_fac_df]

    collected = run_all(spark, [df.collect for df in frames])
    totals_rows, top_tile_rows, (lf,), admin_rows_raw, band_rows, sums, top_rows = collected

    totals = {int(r["wind_threshold"]): r.asDict() for r in totals_rows}
    max_active_threshold = max(
        (th for th, r in totals.items() if r["active"]), default=None
    )
    top_tiles = [
        {"tile_id": int(r["tile_id"]), "probability": r["probability"]}
        for r in top_tile_rows
    ]
    landfall = {
        "n_members_making_landfall": int(lf["n"]),
        "landfall_fraction": round(lf["n"] / ENSEMBLE_SIZE, 6),
        "earliest": lf["earliest"],
        "latest": lf["latest"],
    }
    admin_rows = {
        int(r["admin_id"]): {
            "E_population": _optional(r["E_population"]),
            "E_built_surface": _optional(r["E_built_surface"]),
            "E_rwi": _optional(r["E_rwi"]),
        }
        for r in admin_rows_raw
        if r["admin_id"] is not None
    }

    bands: dict = {"poverty": {}, "urban_rural": {}}
    for r in band_rows:
        bands[r["section"]][r["band"]] = r
    vulnerability: dict = {}
    for section, labels in [
        ("poverty", [("poverty", "poverty"), ("severe_poverty", "severe")]),
        ("urban_rural", [("urban", "urban"), ("rural", "rural")]),
    ]:
        found = bands[section]
        for band, label in labels:
            for metric, mlabel in [
                ("E_population", "pop"),
                ("E_built_surface", "built_surface"),
            ]:
                vulnerability[f"expected_{mlabel}_{label}"] = (
                    _optional_ceil(found[band][metric])
                    if band in found
                    else (0 if found else None)
                )

    top_facilities: dict = {}
    expected_facilities: dict = {}
    ths = sorted({r["wind_threshold"] for r in sums})
    key_th = KEY_THRESHOLD if KEY_THRESHOLD in ths else (ths[0] if ths else None)
    if key_th is not None:
        expected = {
            r["kind"]: r["p"] for r in sums if r["wind_threshold"] == key_th
        }
        for kind in FACILITY_KINDS:
            rows = sorted(
                (
                    r
                    for r in top_rows
                    if r["kind"] == kind and r["wind_threshold"] == key_th
                ),
                key=lambda r: r["__rn"],
            )
            top_facilities[kind] = [
                {
                    "facility_id": int(r["facility_id"]),
                    "probability": r["probability"],
                }
                for r in rows
            ]
            expected_facilities[f"expected_{kind}"] = (
                _optional_ceil(expected[kind]) if kind in expected else None
            )

    report = {
        "storm": storm,
        "forecast_time": forecast_time,
        "forecast_time_human": human_time(forecast_time),
        "max_active_threshold": max_active_threshold,
        "thresholds": {
            str(th): {
                "expected_population_impacted": _optional_ceil(
                    totals.get(th, {}).get("E_population") if th in totals else None
                ),
                "expected_built_surface_impacted": _optional_ceil(
                    totals.get(th, {}).get("E_built_surface") if th in totals else None
                ),
            }
            for th in sorted(totals)
        },
        "top_tiles": top_tiles,
        "landfall": landfall,
        "admin_rows": admin_rows,
        "vulnerability": vulnerability,
        "top_facilities": top_facilities,
        "expected_facilities": expected_facilities,
    }

    # J13 — change vs previous forecast (6 h earlier), if that report exists
    prev = load_report(warehouse, storm, previous_forecast(forecast_time))
    deltas = {}
    if prev is not None:
        for th, cur in report["thresholds"].items():
            p = prev.get("thresholds", {}).get(th, {})
            for k, v in cur.items():
                pv = p.get(k)
                deltas[f"{th}:{k}"] = (
                    None if v is None or pv is None else v - pv
                )
        # change_{kind} analog (reports.py:694-703): facility-count deltas
        prev_fac = prev.get("expected_facilities", {})
        for k, v in report["expected_facilities"].items():
            pv = prev_fac.get(k)
            deltas[f"facilities:{k}"] = None if v is None or pv is None else v - pv
    report["deltas_vs_previous"] = deltas
    report["has_previous"] = prev is not None
    return report
