"""The three pipeline modes — initialize / update / patch — composed from
the operator library (SURVEY.md §3 lifecycle, main_pipeline.py:816-828).

Domain mapping onto the driver's fixture tables (TESTDATA.md): the `events`
table plays the forecast fact stream — `user_id` is the tile key,
`event_type` the ensemble member (8 members, the FULL_ENSEMBLE_SIZE
analog of impact_analysis.py:185-188), and `value` the wind intensity.
"Member hits tile at threshold t" ≡ `value >= t`, which makes thresholds
nested by construction — the same exceedance-envelope property the CCI
differencing relies on (impact_analysis.py:2617-2740).

Every view is written with dynamic partition overwrite (the F9
prefix-delete replacement) partitioned by (storm, forecast_compact
[, wind_threshold]) so re-runs are idempotent and stale partitions can't
survive. Idempotency across runs is the F11 anti-join against the run log.

An update writes its seven views in one ``write_views`` call, on
concurrent driver threads: each submits a few jobs too small to fill the
cores, so run one after another they left most cores idle. Each view
names the persisted frames it reads (hit set, tile view, admin view,
envelopes, facility probe, facility view, member aggregate); the first
writer that needs a frame builds it and the others wait for that build,
so no frame is built twice. The run log's terminal row is written only
after every write has returned.

The per-forecast views are built by public functions of this module:
`member_hits`, `member_envelopes`, `facility_probe` and
`facility_view`, with the tile probability going through
`ops/probability`. The registry queries that mirror a view
(`j2_facility_probability`, `flagship_storm_impact`,
`a1_a2_probability_expected`) call the same code, so the DuckDB oracle
gate checks what the update writes.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.io.local_frame import literal_frame
from aos_spark.io.readers import read_sf_table
from aos_spark.io.writers import write_view, write_views
from aos_spark.ops import cci, probability, rollup, severity, spatial_assign
from aos_spark.pipeline import control

WIND_THRESHOLDS = [50, 100, 150]
ENSEMBLE_SIZE = 8
KEY_THRESHOLD = 100  # KEY_FOR_EXPECTED analog (reports.py:67)

FACILITY_KINDS = ["schools", "health_centers", "shelters", "wash"]
FACILITY_BUFFER = 2.0  # plane-unit analog of the 150 m facility buffer
                       # (BUFFER_DISTANCE_METERS, impact_analysis.py:175)

# tile → plane coordinates for the admin zone assignment (deterministic,
# key-derived — the quadkey-center formula analog)
def _tile_points(tiles: DataFrame, key: str = "tile_id") -> DataFrame:
    return tiles.withColumn("cx", (F.col(key) * 7.0) % 6000.0).withColumn(
        "cy", (F.col(key) % 97) * 10.0
    )


def facilities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facility point sets (schools / health centers / shelters / WASH)
    derived deterministically from the customer dim — the analog of the
    fetch_schools/fetch_health_centers/fetch_shelters/fetch_wash location
    caches (impact_analysis.py:2810-2846). Integer-derived plane coordinates
    keep the derivation exactly reproducible in the SQL oracle."""
    c = read_sf_table(spark, sf_dir, "customer")
    kinds = F.array(*[F.lit(k) for k in FACILITY_KINDS])
    return c.select(
        F.col("c_custkey").alias("facility_id"),
        F.element_at(kinds, (F.col("c_custkey") % 4 + 1).cast("int")).alias("kind"),
        ((F.col("c_custkey") * 131) % 6000).cast("double").alias("fx"),
        ((F.col("c_custkey") * 17) % 970).cast("double").alias("fy"),
    )


# Admin zones as axis-aligned boxes in the tile plane (zone_id, xmin, xmax,
# ymin, ymax) — a fixed literal dim, shared with the spatial-assignment
# queries and their oracle VALUES list.
ZONES: list[tuple[int, float, float, float, float]] = [
    (1, 0.0, 3000.0, 0.0, 500.0),
    (2, 2500.0, 6000.0, 0.0, 500.0),  # overlaps zone 1 → tie-break path
    (3, 0.0, 3000.0, 500.0, 1000.0),
    (4, 3000.0, 6000.0, 400.0, 1000.0),  # overlaps zone 3
    (5, 8000.0, 9000.0, 0.0, 300.0),  # island: gaps → overlap/nearest paths
]


def zones_df(spark: SparkSession) -> DataFrame:
    return literal_frame(
        spark, ZONES, "zone_id INT, xmin DOUBLE, xmax DOUBLE, ymin DOUBLE, ymax DOUBLE"
    )


def base_layer_path(warehouse: str) -> str:
    return os.path.join(warehouse, "base", "tiles")


def admin_layer_path(warehouse: str) -> str:
    return os.path.join(warehouse, "base", "admin")


BASE_SUM_COLS = ["population", "built_surface"]
BASE_AVG_COLS = ["rwi"]


def initialize(spark: SparkSession, sf_dir: str, warehouse: str, country: str = "AA") -> DataFrame:
    """Base-layer build (initialize_pipeline → save_mercator_and_admin_views,
    main_pipeline.py:384-419, impact_analysis.py:1505-1584).

    Produces the tile base layer (metrics per tile + admin assignment) and
    the admin rollup with empty-region preservation, then flips the
    registry flag. One shuffle for the metric agg; the zone dim broadcasts.
    """
    ev = read_sf_table(spark, sf_dir, "events")
    base = ev.groupBy(F.col("user_id").alias("tile_id")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("population"),
        F.count(F.lit(1)).cast("double").alias("built_surface"),
        F.avg(F.col("value").cast("decimal(18,2)")).cast("double").alias("rwi"),
    )

    pts = _tile_points(base.select("tile_id"))
    items = pts.select(
        F.col("tile_id").alias("item_id"),
        "cx",
        "cy",
        (F.col("cx") - 50.0).alias("bxmin"),
        (F.col("cx") + 50.0).alias("bxmax"),
        (F.col("cy") - 50.0).alias("bymin"),
        (F.col("cy") + 50.0).alias("bymax"),
    )
    assigned = spatial_assign.assign_zones_3step(items, zones_df(spark)).select(
        F.col("item_id").alias("tile_id"), F.col("zone_id").alias("admin_id")
    )
    layer = base.join(assigned, "tile_id", "left").withColumn("country", F.lit(country))
    write_view(layer, base_layer_path(warehouse), partition_cols=["country"])

    _write_admin_layer(spark, warehouse, country)
    control.upsert_country(spark, warehouse, country, initialized=True)
    return layer


def _write_admin_layer(spark: SparkSession, warehouse: str, country: str) -> None:
    """A4+J9: admin rollup of the base layer, empty admins preserved."""
    layer = spark.read.parquet(base_layer_path(warehouse)).filter(
        F.col("country") == country
    )
    agg = rollup.agg_with_null_contract(
        layer.withColumn("population", F.col("population").cast("decimal(18,2)"))
        .withColumn("built_surface", F.col("built_surface").cast("decimal(18,2)"))
        .withColumn("rwi", F.col("rwi").cast("decimal(18,6)")),
        ["admin_id"],
        sum_cols=["population", "built_surface"],
        avg_cols=["rwi"],
        optional_sum_cols=[],
    )
    zones = zones_df(spark).select(F.col("zone_id").alias("admin_id"))
    out = rollup.rollup_preserving_empty(
        zones, agg, ["admin_id"], zero_fill_cols=["population", "built_surface"]
    )
    out = out.select(
        "admin_id",
        F.col("population").cast("double").alias("population"),
        F.col("built_surface").cast("double").alias("built_surface"),
        F.col("rwi").cast("double").alias("rwi"),
    ).withColumn("country", F.lit(country))
    write_view(out, admin_layer_path(warehouse), partition_cols=["country"])


def _with_thresholds(df: DataFrame) -> DataFrame:
    """One row per input row per wind threshold (an explode of a literal
    array: no join, and no broadcast job for a 3-row threshold frame)."""
    return df.withColumn(
        "wind_threshold", F.explode(F.array(*[F.lit(t) for t in WIND_THRESHOLDS]))
    )


def _tagged(df: DataFrame, storm: str, forecast_time: str) -> DataFrame:
    """df with the view partition literals `storm` and `forecast_compact`
    appended in one projection (each withColumn re-analyses the plan)."""
    return df.select(
        "*", F.lit(storm).alias("storm"), F.lit(forecast_time).alias("forecast_compact")
    )


def member_hits(ev: DataFrame) -> DataFrame:
    """(tile_id, member, wind_threshold) hit triples — the J1 equivalent.
    One scan fans out to all thresholds via an array literal (no per-
    threshold loop, F1 collapsed into a grouping column)."""
    thresholds = F.array(*[F.lit(t) for t in WIND_THRESHOLDS])
    return (
        ev.select(
            F.col("user_id").alias("tile_id"),
            F.col("event_type").alias("member"),
            F.explode(F.filter(thresholds, lambda t: F.col("value") >= t)).alias(
                "wind_threshold"
            ),
        )
        .distinct()
    )


def member_envelopes(hits: DataFrame) -> DataFrame:
    """A12: a member's envelope at a threshold is the bbox union of the
    100×100 boxes around its hit tiles — (member, wind_threshold, xmin,
    xmax, ymin, ymax), at most members × thresholds rows."""
    boxes = _tile_points(hits).select(
        "member",
        "wind_threshold",
        (F.col("cx") - 50.0).alias("xmin"),
        (F.col("cx") + 50.0).alias("xmax"),
        (F.col("cy") - 50.0).alias("ymin"),
        (F.col("cy") + 50.0).alias("ymax"),
    )
    return spatial_assign.bbox_union(boxes, ["member", "wind_threshold"])


def facility_probe(fac: DataFrame, env: DataFrame) -> DataFrame:
    """J2 probe (SURVEY §J2): each facility keeps the (member, threshold)
    of every envelope its buffered point meets, as `hit_members`.

    The buffer is a disc, as the reference's `buffer` is: a facility is
    hit when its squared Euclidean distance to the box is at most
    FACILITY_BUFFER² (exact on the integer-valued plane coordinates).
    The envelopes are broadcast as one list, so the probe is a narrow
    projection: facilities never shuffle."""
    # a NULL member is no ensemble member: it counts toward no probability
    env_list = env.filter(F.col("member").isNotNull()).agg(
        F.collect_list(
            F.struct("member", "wind_threshold", "xmin", "xmax", "ymin", "ymax")
        ).alias("envs")
    )

    def in_env(e):
        dx = F.greatest(e["xmin"] - F.col("fx"), F.col("fx") - e["xmax"], F.lit(0.0))
        dy = F.greatest(e["ymin"] - F.col("fy"), F.col("fy") - e["ymax"], F.lit(0.0))
        return dx * dx + dy * dy <= F.lit(FACILITY_BUFFER * FACILITY_BUFFER)

    return fac.crossJoin(F.broadcast(env_list)).select(
        "facility_id",
        "kind",
        F.transform(
            F.filter("envs", in_env),
            lambda e: F.struct(
                e["member"].alias("member"), e["wind_threshold"].alias("wind_threshold")
            ),
        ).alias("hit_members"),
    )


def facility_view(probe: DataFrame) -> DataFrame:
    """One row per facility per threshold: probability = hit members /
    ENSEMBLE_SIZE, so a facility with no hit reads 0.0
    (create_*_view_from_envelopes, impact_analysis.py:1620-1717).
    Envelopes are distinct per (member, threshold), so a facility's hits
    at a threshold count its hit members."""
    at_threshold = F.filter(
        "hit_members", lambda h: h["wind_threshold"] == F.col("wind_threshold")
    )
    return _with_thresholds(probe).select(
        "facility_id",
        "kind",
        "wind_threshold",
        (F.size(at_threshold) / F.lit(float(ENSEMBLE_SIZE))).alias("probability"),
    )


def update(
    spark: SparkSession,
    sf_dir: str,
    warehouse: str,
    storm: str,
    forecast_time: str,
    *,
    rewrite: bool = False,
) -> dict:
    """The main analytical job (update_storms → run_complete_impact_analysis,
    main_pipeline.py:556-767). Returns a status dict.

    Chain per (storm, forecast): F11 idempotency gate → member-hit triples →
    A1 probability (fixed denominator) → A2 expected impacts → tile view →
    A3 admin view → W3/W4 CCI → A5 severity → report JSON → run log.
    """
    t0 = time.time()
    cand = literal_frame(
        spark, [(storm, forecast_time)], "storm STRING, forecast_time STRING"
    )
    if not rewrite:
        from aos_spark.ops.filters import new_work_antijoin

        todo = new_work_antijoin(
            cand, control.latest_run_status(spark, warehouse), ["storm", "forecast_time"]
        )
        if todo.count() == 0:
            return {"status": "SKIPPED", "storm": storm, "forecast_time": forecast_time}

    run_id = control.log_run_start(spark, warehouse, storm, forecast_time)
    cached = []
    try:
        ev = read_sf_table(spark, sf_dir, "events")
        base = spark.read.parquet(base_layer_path(warehouse))
        # the hit set feeds probability AND severity; the tile view feeds
        # its own sink, the admin rollup, the CCI, and the report — cache
        # both for the storm job instead of recomputing per action
        # (the structural CSE the reference lacks, SURVEY §4.1)
        hits = member_hits(ev).persist()
        cached.append(hits)

        # A1: probability per (tile, threshold) — members / 8 over the
        # fixed denominator, tiles with no hits at a threshold at 0.0;
        # A2: expected impacts
        zone = ["tile_id", "wind_threshold"]
        prob = probability.member_probability(hits, zone, "member", ENSEMBLE_SIZE)
        tile_view = _tagged(
            probability.expected_impact(
                probability.attach_probability(_with_thresholds(base), prob, zone),
                BASE_SUM_COLS + BASE_AVG_COLS,
                keep=["tile_id", "admin_id", "wind_threshold"],
            ),
            storm,
            forecast_time,
        ).persist()
        cached.append(tile_view)

        # A3: admin rollup of expected impacts (null contract: E_rwi optional);
        # cached: the write and the report's admin section share it
        dec = tile_view
        for c in BASE_SUM_COLS:
            dec = dec.withColumn(f"E_{c}", F.col(f"E_{c}").cast("decimal(18,6)"))
        admin_view = rollup.agg_with_null_contract(
            dec,
            ["admin_id", "wind_threshold"],
            sum_cols=[f"E_{c}" for c in BASE_SUM_COLS],
            avg_cols=[],
            optional_sum_cols=["E_rwi"],
        )
        admin_view = _tagged(
            admin_view.select(
                "admin_id",
                "wind_threshold",
                *[F.col(f"E_{c}").cast("double").alias(f"E_{c}") for c in BASE_SUM_COLS],
                "E_rwi",
            ),
            storm,
            forecast_time,
        ).persist()
        cached.append(admin_view)

        # W3/W4: CCI from the threshold-long tile view
        long_df = tile_view.select(
            "tile_id", "wind_threshold", (F.col("E_population")).alias("exposure")
        )
        cci_view = _tagged(
            cci.cci_from_long(long_df, ["tile_id"], "wind_threshold", ["exposure"]),
            storm,
            forecast_time,
        )

        # A5 + track sums: one (member, threshold) aggregate of the hit
        # tiles' base metrics feeds the severity view and the track view
        member_agg = severity.member_severity(
            hits.join(base, "tile_id").select(
                "member",
                "wind_threshold",
                *[F.col(c).cast("decimal(18,2)").alias(c) for c in BASE_SUM_COLS],
            ),
            "member",
            "wind_threshold",
            BASE_SUM_COLS,
        ).persist()
        cached.append(member_agg)
        sev = _tagged(
            member_agg.select(
                "member",
                F.col("wind_threshold").alias("threshold"),
                F.col("total_population").cast("double").alias("total_exposure"),
            ),
            storm,
            forecast_time,
        )

        # J2×4 + S11: per-facility probability views (schools / health
        # centers / shelters / WASH), saved at impact_analysis.py:2809-2840.
        # One envelope build is shared by the facility probe and the track
        # view; the probe is a narrow projection, so the facility view
        # needs no exchange and the track counts below shuffle only each
        # task's partial (member, threshold) counts. fac_view is cached:
        # the write and the report's two facility passes share it.
        env = member_envelopes(hits).persist()
        cached.append(env)
        probe = facility_probe(facilities(spark, sf_dir), env).persist()
        cached.append(probe)
        fac_view = _tagged(facility_view(probe), storm, forecast_time).persist()
        cached.append(fac_view)

        # track severity view: per (member, threshold) — facility counts per
        # kind + tile-metric sums under the member's envelope
        # (create_tracks_view_from_envelopes, impact_analysis.py:2038-2091).
        kind_counts = (
            probe.select("kind", F.inline("hit_members"))
            .groupBy("member", "wind_threshold")
            .agg(
                *[
                    F.count(F.when(F.col("kind") == k, 1)).alias(f"severity_{k}")
                    for k in FACILITY_KINDS
                ]
            )
        )
        tile_sums = member_agg.select(
            "member",
            "wind_threshold",
            *[
                F.col(f"total_{c}").cast("double").alias(f"severity_{c}")
                for c in BASE_SUM_COLS
            ],
        )
        track_view = _tagged(
            env.select("member", "wind_threshold")
            .join(kind_counts, ["member", "wind_threshold"], "left")
            .join(tile_sums, ["member", "wind_threshold"], "left")
            .fillna({f"severity_{k}": 0 for k in FACILITY_KINDS}),
            storm,
            forecast_time,
        )

        # W1: track-segment view — each member's event sequence paired with
        # its successor (consecutive-point polyline segments,
        # impact_analysis.py:2922-2927 / reports.py:224-254)
        from aos_spark.ops import windows as win_ops

        trk = _tile_points(
            ev.select(
                F.col("event_type").alias("member"),
                "ts",
                "event_id",
                F.col("user_id").alias("tile_id"),
            ),
            "tile_id",
        )
        seg = win_ops.lead_segments(
            trk, ["member"], ["ts", "event_id"], ["cx", "cy"]
        ).select(
            "member",
            "ts",
            "cx",
            "cy",
            "cx_next",
            "cy_next",
        )
        seg = _tagged(seg, storm, forecast_time)

        # the seven views are independent: write them concurrently, each
        # listing the cached frames it reads, ancestors first
        by_threshold = ["storm", "forecast_compact", "wind_threshold"]
        by_forecast = ["storm", "forecast_compact"]
        views = os.path.join(warehouse, "views")
        tiles_in = [hits, tile_view]
        fac_in = [hits, env, probe]
        write_views(
            [
                (tile_view, os.path.join(views, "tiles"), by_threshold, tiles_in),
                (admin_view, os.path.join(views, "admin"), by_threshold, [*tiles_in, admin_view]),
                (cci_view, os.path.join(views, "cci"), by_forecast, tiles_in),
                (sev, os.path.join(views, "severity"), by_forecast, [hits, member_agg]),
                (
                    fac_view,
                    os.path.join(views, "facilities"),
                    ["kind", *by_threshold],
                    [*fac_in, fac_view],
                ),
                (track_view, os.path.join(views, "tracks"), by_threshold, [*fac_in, member_agg]),
                (seg, os.path.join(views, "track_segments"), by_forecast, []),
            ]
        )

        # report (driver-side JSON, incl. previous-forecast deltas)
        from aos_spark.report.assemble import build_report, save_report

        report = build_report(
            spark, warehouse, storm, forecast_time, tile_view, admin_view, ev,
            fac_view=fac_view,
        )
        save_report(warehouse, storm, forecast_time, report)

        control.log_run_complete(
            spark, warehouse, run_id, success=True, runtime_seconds=time.time() - t0
        )
        control.signal_pipeline_complete(spark, warehouse, storm, forecast_time)
        return {
            "status": "SUCCESS",
            "storm": storm,
            "forecast_time": forecast_time,
            "runtime_seconds": round(time.time() - t0, 3),
        }
    except Exception as e:
        control.log_run_complete(
            spark,
            warehouse,
            run_id,
            success=False,
            runtime_seconds=time.time() - t0,
            error=str(e)[:500],
        )
        raise
    finally:
        for df in cached:
            df.unpersist()


PATCHABLE = set(BASE_SUM_COLS + BASE_AVG_COLS)


def patch(
    spark: SparkSession,
    warehouse: str,
    country: str,
    column: str,
    custom: DataFrame,
) -> None:
    """Targeted column backfill (patch_pipeline → patch_country_layer,
    main_pipeline.py:425-459, impact_analysis.py:1189-1466): replace one
    metric column from a custom (tile_id, value) table, rewrite the base
    layer, re-aggregate every admin view.
    """
    if column not in PATCHABLE:
        raise ValueError(f"column {column!r} not patchable; allowed: {sorted(PATCHABLE)}")
    layer = spark.read.parquet(base_layer_path(warehouse)).filter(
        F.col("country") == country
    )
    patched = (
        layer.join(
            custom.select("tile_id", F.col("value").alias("__new")), "tile_id", "left"
        )
        .withColumn(column, F.coalesce(F.col("__new"), F.col(column)))
        .drop("__new")
    )
    # Materialize to a TEMP subtree first, then overwrite the base layer from
    # the re-read temp copy. persist()+count() is NOT a safe barrier here: if
    # a cached partition is evicted mid-write, recomputation would read the
    # half-overwritten source path (VERDICT r1 "What's wrong" #4). The temp
    # write fully severs lineage from the path being overwritten.
    tmp = os.path.join(warehouse, "tmp", f"patch_{country}_{column}")
    patched.write.mode("overwrite").parquet(tmp)
    write_view(
        spark.read.parquet(tmp), base_layer_path(warehouse), partition_cols=["country"]
    )
    # Hadoop FS delete (not shutil) so the cleanup works on any URI scheme
    jpath = spark._jvm.org.apache.hadoop.fs.Path(tmp)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)
    _write_admin_layer(spark, warehouse, country)
