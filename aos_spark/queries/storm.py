"""Storm-impact queries: the flagship chain and the SURVEY.md §2
S/F/J/A/W operators over the driver's tables.

The flagship runs F4 recency filter → A1 probability → A2 expected impact
→ A3/J9 rollup → A8 top-K. The facility and tile-probability queries
call the builders the forecast update writes with (`pipeline/jobs`
`member_hits`, `member_envelopes`, `facility_probe`, `facility_view`;
`ops/probability`), and the zone queries use the pipeline's zone dim
(`zones_df`), so the oracle gate checks the product's code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.io import raster
from aos_spark.io.readers import read_sf_table
from aos_spark.ops import (
    cci,
    filters,
    probability,
    rollup,
    severity,
    spatial_assign,
    topk,
    vulnerability,
    windows,
)
from aos_spark.ops.exact_round import round_ratio6_micro
from aos_spark.pipeline import jobs
from aos_spark.pipeline.jobs import ENSEMBLE_SIZE, ZONES, zones_df
from aos_spark.queries.common import dsum, dsum_sql
from aos_spark.registry import register


# --------------------------------------------------------------------------
# Flagship: the storm-impact pipeline in relational form (SURVEY §7.2 slice 0)
# events as the fact stream: user_id ~ zone, event_type ~ ensemble member,
# fixed denominator 8 ~ FULL_ENSEMBLE_SIZE=51 (impact_analysis.py:185-188).
# Chain: F4 recency filter → A1 probability (fixed denominator) → A2 expected
# impact → A3/J9 rollup with the null contract → A8 top-K.
# --------------------------------------------------------------------------

def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_sf_table(spark, sf_dir, "events")
    ev = filters.recency_filter(ev, "ts", "2024-02-15", 40)
    hits = ev.select("user_id", "event_type").distinct()
    prob = probability.member_probability(
        hits, ["user_id"], member_col="event_type", ensemble_size=ENSEMBLE_SIZE
    )
    base = ev.groupBy("user_id").agg(dsum("value").alias("exposure"))
    tiles = probability.attach_probability(base, prob, ["user_id"])
    tiles = probability.expected_impact(tiles, ["exposure"], keep=["user_id"])
    admin = tiles.withColumn("admin_id", F.col("user_id") % 10).withColumn(
        # exact decimal accumulation so the rollup sum is order-independent
        "E_exposure",
        F.col("E_exposure").cast("decimal(18,6)"),
    )
    rolled = rollup.agg_with_null_contract(
        admin, ["admin_id"], sum_cols=["E_exposure"], avg_cols=[], optional_sum_cols=[]
    )
    rolled = rolled.withColumn("E_exposure", F.round(F.col("E_exposure").cast("double"), 4))
    ranked = topk.topk_global(rolled, "E_exposure", "admin_id", k=5)
    return ranked.select("admin_id", "E_exposure", "rank_in_group")


ORACLE_FLAGSHIP = f"""
WITH ev AS (
  SELECT * FROM events
  WHERE date_diff('day', CAST(ts AS DATE), DATE '2024-02-15') < 40
),
prob AS (
  SELECT user_id,
         COUNT(DISTINCT event_type) / {float(ENSEMBLE_SIZE)} AS probability
  FROM ev GROUP BY user_id
),
base AS (
  SELECT user_id, {dsum_sql('value')} AS exposure FROM ev GROUP BY user_id
),
tiles AS (
  SELECT b.user_id, COALESCE(p.probability, 0.0) AS probability,
         b.exposure * COALESCE(p.probability, 0.0) AS E_exposure
  FROM base b LEFT JOIN prob p USING (user_id)
),
rolled AS (
  SELECT user_id % 10 AS admin_id,
         ROUND(COALESCE(CAST(SUM(CAST(E_exposure AS DECIMAL(18,6))) AS DOUBLE), 0.0), 4) AS E_exposure
  FROM tiles GROUP BY 1
)
SELECT admin_id, E_exposure,
       CAST(ROW_NUMBER() OVER (ORDER BY E_exposure DESC, admin_id ASC) AS INTEGER) AS rank_in_group
FROM rolled QUALIFY rank_in_group <= 5
"""
register("flagship_storm_impact", q_flagship, ORACLE_FLAGSHIP)

# NOTE on the flagship oracle: E_exposure per admin sums ~15 doubles; the
# decimal(18,6) re-cast before the rollup sum keeps both engines exact.
# The Spark side must match — see q_flagship's rollup using the same cast.


def q_catalog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S7/A11: catalog scan — COUNT(DISTINCT member) + latest-forecast probe."""
    ev = read_sf_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_members"),
        F.count(F.lit(1)).alias("n_rows"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("latest_ts"),
    )


ORACLE_CATALOG = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_members,
       COUNT(*) AS n_rows,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS latest_ts
FROM events GROUP BY event_type
"""
register("s1_catalog_scan", q_catalog_scan, ORACLE_CATALOG)


def q_recency_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F4: date filters relative to a fixed as-of."""
    ev = read_sf_table(spark, sf_dir, "events")
    ev = filters.recency_filter(ev, "ts", "2024-01-20", 7)
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_recent"))


ORACLE_RECENCY = """
SELECT event_type, COUNT(*) AS n_recent
FROM events
WHERE date_diff('day', CAST(ts AS DATE), DATE '2024-01-20') < 7
GROUP BY event_type
"""
register("f4_recency_filter", q_recency_filter, ORACLE_RECENCY)


def q_isin_or_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: OR-of-isin facility-type filter shape, on orders columns."""
    o = read_sf_table(spark, sf_dir, "orders")
    mask = filters.isin_any(
        {"o_orderstatus": ["F"], "o_orderpriority": ["1-URGENT", "2-HIGH"]}
    )
    return (
        o.filter(mask)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_value"))
    )


ORACLE_ISIN = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_value
FROM orders
WHERE o_orderstatus IN ('F') OR o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus, o_orderpriority
"""
register("f5_isin_or_filter", q_isin_or_filter, ORACLE_ISIN)


def q_antijoin_new_work(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: idempotency anti-join — customers with no orders, per nation."""
    c = read_sf_table(spark, sf_dir, "customer")
    processed = (
        read_sf_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    n = read_sf_table(spark, sf_dir, "nation")
    unprocessed = c.join(processed, "c_custkey", "left_anti")
    return (
        unprocessed.join(n, unprocessed.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_idle_customers"))
    )


ORACLE_ANTIJOIN = """
SELECT n_name, COUNT(*) AS n_idle_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
GROUP BY n_name
"""
register("f11_antijoin_new_work", q_antijoin_new_work, ORACLE_ANTIJOIN)


def q_cover_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-as-equi-join: broadcast the small filtered dim (the quadkey-cover
    pattern) and aggregate over the fact side."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    p = read_sf_table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_quantity").alias("sum_qty"),
    )


ORACLE_COVER_JOIN = f"""
SELECT p_brand, COUNT(*) AS n_lines, {dsum_sql('l_quantity')} AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size < 10
GROUP BY p_brand
"""
register("j1_cover_equi_join", q_cover_equi_join, ORACLE_COVER_JOIN)


def q_preserve_empty_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/A3 + the null contract: every nation appears; counts zero-filled,
    optional avg stays NULL for empty nations (impact_analysis.py:1493-1498)."""
    n = read_sf_table(spark, sf_dir, "nation")
    c = read_sf_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    agg = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_rich"),
        # engine-exact mean (ops/exact_round) — engine-native decimal AVG
        # tie-rounding (Spark HALF_UP-at-scale-6 division vs DuckDB double
        # division) is not pinned down by either engine's contract
        round_ratio6_micro(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")) * 1_000_000,
            F.count(F.lit(1)),
        ).alias("avg_bal"),
    )
    out = rollup.rollup_preserving_empty(
        n.select(F.col("n_nationkey").alias("c_nationkey"), "n_name"),
        agg,
        ["c_nationkey"],
        zero_fill_cols=["n_rich"],
    )
    return out.select("n_name", "n_rich", F.round("avg_bal", 6).alias("avg_bal"))


ORACLE_PRESERVE_EMPTY = """
WITH agg AS (
  SELECT c_nationkey, CAST(COUNT(*) AS DOUBLE) AS n_rich,
         CAST((CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 1000000 AS HUGEINT) * 2 + CAST(COUNT(*) AS HUGEINT)) // (CAST(COUNT(*) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS avg_bal
  FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
)
SELECT n_name, COALESCE(n_rich, 0.0) AS n_rich, ROUND(avg_bal, 6) AS avg_bal
FROM nation LEFT JOIN agg ON n_nationkey = c_nationkey
"""
register("j9_preserve_empty_regions", q_preserve_empty_regions, ORACLE_PRESERVE_EMPTY)


def q_probability_expected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 in isolation: fixed-denominator probability and E_ derivation."""
    ev = read_sf_table(spark, sf_dir, "events")
    hits = ev.select("user_id", "event_type").distinct()
    prob = probability.member_probability(
        hits, ["user_id"], member_col="event_type", ensemble_size=ENSEMBLE_SIZE
    )
    base = ev.groupBy("user_id").agg(dsum("value").alias("total_value"))
    tiles = probability.attach_probability(base, prob, ["user_id"])
    out = probability.expected_impact(tiles, ["total_value"], keep=["user_id"])
    return out.select(
        "user_id", "probability", F.round("E_total_value", 6).alias("E_total_value")
    )


ORACLE_PROB = f"""
WITH prob AS (
  SELECT user_id, COUNT(DISTINCT event_type) / {float(ENSEMBLE_SIZE)} AS probability
  FROM events GROUP BY user_id
),
base AS (
  SELECT user_id, {dsum_sql('value')} AS total_value FROM events GROUP BY user_id
)
SELECT b.user_id, COALESCE(p.probability, 0.0) AS probability,
       ROUND(b.total_value * COALESCE(p.probability, 0.0), 6) AS E_total_value
FROM base b LEFT JOIN prob p USING (user_id)
"""
register("a1_a2_probability_expected", q_probability_expected, ORACLE_PROB)


def q_report_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: ceil'd scalar totals + optional (NULL-on-empty) conditional sum."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.ceil(dsum("l_quantity")).alias("total_qty_ceil"),
        F.sum(
            F.when(F.col("l_discount") > 0.09, F.col("l_extendedprice").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("deep_discount_value"),
    )


ORACLE_REPORT_TOTALS = f"""
SELECT l_returnflag,
       CAST(CEIL({dsum_sql('l_quantity')}) AS BIGINT) AS total_qty_ceil,
       CAST(SUM(CASE WHEN l_discount > 0.09 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS deep_discount_value
FROM lineitem GROUP BY l_returnflag
"""
register("a6_report_totals", q_report_totals, ORACLE_REPORT_TOTALS)


def q_vulnerability_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8+A7: derived-ratio banding and conditional band sums."""
    c = read_sf_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "severe")
        .when(F.col("c_acctbal") < 1000, "vulnerable")
        .otherwise("stable")
    )
    out = vulnerability.band_sums(
        c.withColumn("acct", F.col("c_acctbal").cast("decimal(18,2)")),
        band,
        "band",
        ["acct"],
    )
    return out.select(
        "band",
        F.col("acct").cast("double").alias("band_balance"),
    )


ORACLE_VULN = """
SELECT CASE WHEN c_acctbal < 0 THEN 'severe'
            WHEN c_acctbal < 1000 THEN 'vulnerable'
            ELSE 'stable' END AS band,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS band_balance
FROM customer GROUP BY 1
"""
register("a7_vulnerability_bands", q_vulnerability_bands, ORACLE_VULN)


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: top-5 per group with deterministic tie-break (reports.py:705-736)."""
    o = read_sf_table(spark, sf_dir, "orders")
    out = topk.topk_per_group(o, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=5)
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice", "rank_in_group")


ORACLE_TOPK = """
SELECT o_orderpriority, o_orderkey, o_totalprice,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER)
         AS rank_in_group
FROM orders QUALIFY rank_in_group <= 5
"""
register("a8_topk_per_group", q_topk_per_group, ORACLE_TOPK)


def q_max_active_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: highest threshold with non-zero signal (reports.py:319-339)."""
    li = read_sf_table(spark, sf_dir, "lineitem").withColumn(
        "signal",
        F.when(F.col("l_discount") > 0.08, F.col("l_quantity")).otherwise(F.lit(0.0)),
    )
    return topk.max_active_threshold(
        li, threshold_col="l_linenumber", signal_col="signal", group_cols=["l_returnflag"]
    )


ORACLE_MAX_THRESHOLD = """
WITH per_th AS (
  SELECT l_returnflag, l_linenumber,
         SUM(CASE WHEN l_discount > 0.08 THEN l_quantity ELSE 0.0 END) AS sig
  FROM lineitem GROUP BY l_returnflag, l_linenumber
)
SELECT l_returnflag, MAX(l_linenumber) AS max_threshold
FROM per_th WHERE sig > 0 GROUP BY l_returnflag
"""
register("a9_max_active_threshold", q_max_active_threshold, ORACLE_MAX_THRESHOLD)


def q_first_match_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+A10: first qualifying row per member, then min/max/count stats
    (landfall shape, reports.py:256-312)."""
    ev = read_sf_table(spark, sf_dir, "events")
    firsts = windows.first_match(
        ev, ["user_id"], ["ts", "event_id"], F.col("event_type") == "error"
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_members_hit"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("earliest"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("latest"),
    )


ORACLE_FIRST_MATCH = """
WITH firsts AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'error'
)
SELECT COUNT(*) AS n_members_hit,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS earliest,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS latest
FROM firsts WHERE rn = 1
"""
register("a10_first_match_stats", q_first_match_stats, ORACLE_FIRST_MATCH)


def q_track_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: consecutive-point segments via lead (reports.py:224-254)."""
    ev = read_sf_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    seg = windows.lead_segments(ev, ["user_id"], "event_id", ["ts", "value"])
    return seg.select(
        "user_id",
        "event_id",
        "value",
        "value_next",
        (F.unix_timestamp("ts_next") - F.unix_timestamp("ts")).alias("gap_seconds"),
    )


ORACLE_SEGMENTS = """
WITH seg AS (
  SELECT user_id, event_id, ts, value,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS ts_next,
         LEAD(value) OVER (PARTITION BY user_id ORDER BY event_id) AS value_next
  FROM events
)
SELECT user_id, event_id, value, value_next,
       CAST(date_diff('second', ts, ts_next) AS BIGINT) AS gap_seconds
FROM seg WHERE ts_next IS NOT NULL
"""
register("w1_track_segments", q_track_segments, ORACLE_SEGMENTS)


def q_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3+W4: exceedance differencing + weighted CCI sum
    (impact_analysis.py:2617-2740 reshaped long)."""
    li = read_sf_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("zone_id"),
        F.col("l_linenumber").alias("wind_threshold"),
        F.col("l_quantity").alias("exposure"),
    )
    # one row per (zone, threshold): keep max exposure for duplicate lines
    long_df = li.groupBy("zone_id", "wind_threshold").agg(
        F.max("exposure").alias("exposure")
    )
    out = cci.cci_from_long(long_df, ["zone_id"], "wind_threshold", ["exposure"])
    return out.select("zone_id", F.round("cci_exposure", 6).alias("cci_exposure"))


ORACLE_CCI = """
WITH long_df AS (
  SELECT l_orderkey AS zone_id, l_linenumber AS wind_threshold,
         MAX(l_quantity) AS exposure
  FROM lineitem GROUP BY 1, 2
),
banded AS (
  -- mirrors ops/cci.exceedance_bands (r9): "no next ROW" subtracts 0,
  -- but a next row whose VALUE is no-data makes the band unknowable
  SELECT zone_id, wind_threshold,
         CASE WHEN exposure IS NULL
                OR (LEAD(1) OVER w IS NOT NULL AND LEAD(exposure) OVER w IS NULL)
              THEN NULL
              ELSE exposure - COALESCE(LEAD(exposure) OVER w, 0.0) END AS band
  FROM long_df
  WINDOW w AS (PARTITION BY zone_id ORDER BY wind_threshold ASC)
)
SELECT zone_id,
       ROUND(SUM(band * POW(CAST(wind_threshold AS DOUBLE), 2.0) * 1e-6), 6) AS cci_exposure
FROM banded GROUP BY zone_id
"""
register("w3_w4_cci", q_cci, ORACLE_CCI)


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: keep-first dedup with explicit order (impact_analysis.py:1031)."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    # (orderkey, linenumber) is NOT unique in the synthetic data — full
    # explicit ordering keeps "first" deterministic (the W5 contract)
    out = windows.dedup_keep_first(
        li, ["l_orderkey"], ["l_linenumber", "l_partkey", "l_quantity"]
    )
    return out.select("l_orderkey", "l_partkey", "l_quantity")


ORACLE_DEDUP_FIRST = """
SELECT l_orderkey, l_partkey, l_quantity
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
      FROM lineitem)
WHERE rn = 1
"""
register("w5_dedup_keep_first", q_dedup_keep_first, ORACLE_DEDUP_FIRST)


def q_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: argmax row per group (impact_analysis.py:1043)."""
    o = read_sf_table(spark, sf_dir, "orders")
    out = windows.argmax_per_group(o, ["o_custkey"], "o_totalprice", "o_orderkey")
    return out.select("o_custkey", "o_orderkey", "o_totalprice")


ORACLE_ARGMAX = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders)
WHERE rn = 1
"""
register("w6_argmax_per_group", q_argmax_per_group, ORACLE_ARGMAX)


def q_member_severity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J7+A5: per-member severity sums with optional-sum semantics."""
    ev = read_sf_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("member"),
        F.col("event_type").alias("threshold"),
        F.col("value").cast("decimal(18,2)").alias("exposure"),
    )
    out = severity.member_severity(
        ev, "member", "threshold", ["exposure"], count_col="threshold"
    )
    return out.select(
        "member",
        "threshold",
        F.col("total_exposure").cast("double").alias("total_exposure"),
        "n_zones",
    )


ORACLE_SEVERITY = """
SELECT user_id AS member, event_type AS threshold,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_exposure,
       COUNT(event_type) AS n_zones
FROM events GROUP BY 1, 2
"""
register("a5_member_severity", q_member_severity, ORACLE_SEVERITY)


def q_recode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 dict-map recode with NULL preservation (SMOD L2→L1 shape,
    impact_analysis.py:296-305) applied to p_size."""
    p = read_sf_table(spark, sf_dir, "part").withColumn(
        "smod_class", F.col("p_size").cast("double")
    )
    out = p.withColumn("smod_class_l1", filters.smod_l2_to_l1())
    return out.groupBy("smod_class_l1").agg(F.count(F.lit(1)).alias("n_parts"))


ORACLE_RECODE = """
SELECT CAST(CASE WHEN p_size IN (10, 11, 12, 13) THEN 1.0
                 WHEN p_size IN (21, 22, 23) THEN 2.0
                 WHEN p_size = 30 THEN 3.0 END AS DOUBLE) AS smod_class_l1,
       COUNT(*) AS n_parts
FROM part GROUP BY 1
"""
register("smod_recode_map", q_recode_map, ORACLE_RECODE)


# --------------------------------------------------------------------------
# Spatial-assignment tier (J2, J3→J5) over axis-aligned zones — the numeric
# core of the reference's spatial joins (tiles ARE boxes; SURVEY §4.3).
# Zones (pipeline.jobs.ZONES) are a fixed literal dim shared by Spark and
# the oracle VALUES list.
# --------------------------------------------------------------------------

_ZONES_SQL_VALUES = ", ".join(
    f"({zid}, {xmin}, {xmax}, {ymin}, {ymax})" for zid, xmin, xmax, ymin, ymax in ZONES
)


def _customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers as deterministic 2-D points: x = acctbal, y from the key."""
    c = read_sf_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("item_id"),
        F.col("c_acctbal").alias("x"),
        ((F.col("c_custkey") % 97) * 10.0).alias("y"),
    )


def q_point_zone_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J7: buffered point-in-zone count per point (150 m facility buffer
    analog, impact_analysis.py:1666-1686; zero-hit points kept at 0)."""
    pts = _customer_points(spark, sf_dir)
    return spatial_assign.count_points_in_zones(
        pts, zones_df(spark), ["item_id"], buffer=50.0
    )


ORACLE_POINT_ZONE = f"""
WITH zones(zone_id, xmin, xmax, ymin, ymax) AS (VALUES {_ZONES_SQL_VALUES}),
pts AS (SELECT c_custkey AS item_id, c_acctbal AS x, (c_custkey % 97) * 10.0 AS y
        FROM customer)
SELECT item_id, COUNT(zone_id) AS n_zones
FROM pts LEFT JOIN zones
  -- circular buffer (r9): exact Euclidean point-to-box distance, squared
  -- on both sides — mirrors count_points_in_zones; the reference's
  -- gpd .buffer() is a disc, not the Chebyshev square
  ON GREATEST(xmin - x, x - xmax, 0.0) * GREATEST(xmin - x, x - xmax, 0.0)
     + GREATEST(ymin - y, y - ymax, 0.0) * GREATEST(ymin - y, y - ymax, 0.0)
     <= 2500.0
GROUP BY item_id
"""
register("j2_point_zone_count", q_point_zone_count, ORACLE_POINT_ZONE)


def q_zone_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3→J4→J5: the 3-step zone assignment (center-within → argmax overlap
    → nearest) with deterministic tie-breaks (impact_analysis.py:990-1068)."""
    items = _customer_points(spark, sf_dir).select(
        "item_id",
        F.col("x").alias("cx"),
        F.col("y").alias("cy"),
        (F.col("x") - 50.0).alias("bxmin"),
        (F.col("x") + 50.0).alias("bxmax"),
        (F.col("y") - 50.0).alias("bymin"),
        (F.col("y") + 50.0).alias("bymax"),
    )
    return spatial_assign.assign_zones_3step(items, zones_df(spark))


ORACLE_ZONE_ASSIGN = f"""
WITH zones(zone_id, xmin, xmax, ymin, ymax) AS (VALUES {_ZONES_SQL_VALUES}),
items AS (
  SELECT c_custkey AS item_id, c_acctbal AS cx, (c_custkey % 97) * 10.0 AS cy,
         c_acctbal - 50.0 AS bxmin, c_acctbal + 50.0 AS bxmax,
         (c_custkey % 97) * 10.0 - 50.0 AS bymin, (c_custkey % 97) * 10.0 + 50.0 AS bymax
  FROM customer),
s1 AS (
  SELECT item_id, MIN(zone_id) AS zone_id FROM items JOIN zones
    ON cx >= xmin AND cx <= xmax AND cy >= ymin AND cy <= ymax
  GROUP BY item_id),
s2cand AS (
  SELECT i.item_id, z.zone_id,
         GREATEST(LEAST(bxmax, xmax) - GREATEST(bxmin, xmin), 0.0)
           * GREATEST(LEAST(bymax, ymax) - GREATEST(bymin, ymin), 0.0) AS area
  FROM items i, zones z
  WHERE i.item_id NOT IN (SELECT item_id FROM s1)),
s2 AS (
  SELECT item_id, zone_id FROM (
    SELECT item_id, zone_id,
           ROW_NUMBER() OVER (PARTITION BY item_id ORDER BY area DESC, zone_id) AS rn
    FROM s2cand WHERE area > 0)
  WHERE rn = 1),
s3 AS (
  SELECT item_id, zone_id FROM (
    SELECT i.item_id, z.zone_id,
           ROW_NUMBER() OVER (PARTITION BY i.item_id ORDER BY
             (cx - (xmin + xmax) / 2) * (cx - (xmin + xmax) / 2)
               + (cy - (ymin + ymax) / 2) * (cy - (ymin + ymax) / 2),
             z.zone_id) AS rn
    FROM items i, zones z
    WHERE i.item_id NOT IN (SELECT item_id FROM s1)
      AND i.item_id NOT IN (SELECT item_id FROM s2))
  WHERE rn = 1)
SELECT item_id, zone_id, 'center' AS method FROM s1
UNION ALL SELECT item_id, zone_id, 'overlap' AS method FROM s2
UNION ALL SELECT item_id, zone_id, 'nearest' AS method FROM s3
"""
register("j3_j5_zone_assignment", q_zone_assignment, ORACLE_ZONE_ASSIGN)


def q_facility_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2×4 + A12: the forecast update's facility probability view as a
    standalone oracle-checked query, built by the update's own builders
    (`pipeline/jobs`): member envelopes probed by disc-buffered facility
    points, probability = hit members / ENSEMBLE_SIZE, zero-hit facilities
    at 0.0. All coordinates are integer-valued, so Spark and DuckDB agree
    exactly."""
    hits = jobs.member_hits(read_sf_table(spark, sf_dir, "events"))
    probe = jobs.facility_probe(jobs.facilities(spark, sf_dir), jobs.member_envelopes(hits))
    return jobs.facility_view(probe)


ORACLE_FACILITY_PROB = """
WITH th(wind_threshold) AS (VALUES (50), (100), (150)),
hits AS (
  SELECT DISTINCT user_id AS tile_id, event_type AS member, wind_threshold
  FROM events, th WHERE value >= wind_threshold
),
env AS (
  SELECT member, wind_threshold,
         MIN((tile_id * 7) % 6000 - 50) AS xmin, MAX((tile_id * 7) % 6000 + 50) AS xmax,
         MIN((tile_id % 97) * 10 - 50) AS ymin, MAX((tile_id % 97) * 10 + 50) AS ymax
  FROM hits GROUP BY 1, 2
),
fac AS (
  SELECT c_custkey AS facility_id,
         CASE c_custkey % 4 WHEN 0 THEN 'schools' WHEN 1 THEN 'health_centers'
              WHEN 2 THEN 'shelters' ELSE 'wash' END AS kind,
         (c_custkey * 131) % 6000 AS fx, (c_custkey * 17) % 970 AS fy
  FROM customer
),
nhit AS (
  SELECT facility_id, wind_threshold, COUNT(DISTINCT member) AS n_members
  FROM fac JOIN env
    -- circular buffer (r9), mirrored from the Spark side: integer-exact
    ON GREATEST(xmin - fx, fx - xmax, 0) * GREATEST(xmin - fx, fx - xmax, 0)
       + GREATEST(ymin - fy, fy - ymax, 0) * GREATEST(ymin - fy, fy - ymax, 0) <= 4
  GROUP BY 1, 2
)
SELECT f.facility_id, f.kind, t.wind_threshold,
       COALESCE(n_members, 0) / 8.0 AS probability
FROM fac f CROSS JOIN th t
LEFT JOIN nhit n ON n.facility_id = f.facility_id AND n.wind_threshold = t.wind_threshold
"""
register("j2_facility_probability", q_facility_probability, ORACLE_FACILITY_PROB)


def q_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: small-dim lookup joins (dict .map → broadcast hash join), two
    hops: customer → nation → region (impact_analysis.py:1999-2000)."""
    c = read_sf_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    n = read_sf_table(spark, sf_dir, "nation")
    r = read_sf_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_LOOKUP = """
SELECT r_name, n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
WHERE c_acctbal > 5000
GROUP BY r_name, n_name
"""
register("j10_lookup_join", q_lookup_join, ORACLE_LOOKUP)


def q_prev_forecast_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: current-vs-previous-forecast join (reports.py:627-703) — daily
    per-user totals self-joined on day = prev_day + 1; inner join mirrors
    'previous report exists' semantics."""
    ev = read_sf_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(dsum("value").alias("day_value"))
    prev = daily.select(
        F.col("user_id").alias("p_user"),
        F.col("day").alias("prev_day"),
        F.col("day_value").alias("prev_value"),
    )
    cur = daily.join(
        prev,
        (daily.user_id == prev.p_user) & (daily.day == F.date_add(prev.prev_day, 1)),
    )
    return cur.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.round(F.col("day_value") - F.col("prev_value"), 6).alias("delta"),
    )


ORACLE_PREV_DELTA = f"""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, {dsum_sql('value')} AS day_value
  FROM events GROUP BY 1, 2
)
SELECT c.user_id, CAST(c.day AS VARCHAR) AS day,
       ROUND(c.day_value - p.day_value, 6) AS delta
FROM daily c JOIN daily p
  ON c.user_id = p.user_id AND c.day = p.day + INTERVAL 1 DAY
"""
register("j13_prev_forecast_delta", q_prev_forecast_delta, ORACLE_PREV_DELTA)


def q_cci_admin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: CCI admin rollup — per-zone CCI summed to the admin level with
    exact decimal accumulation (impact_analysis.py:2897-2917)."""
    li = read_sf_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("zone_id"),
        F.col("l_linenumber").alias("wind_threshold"),
        F.col("l_quantity").alias("exposure"),
    )
    long_df = li.groupBy("zone_id", "wind_threshold").agg(
        F.max("exposure").alias("exposure")
    )
    per_zone = cci.cci_from_long(long_df, ["zone_id"], "wind_threshold", ["exposure"])
    per_zone = per_zone.withColumn(
        "cci_exposure", F.round("cci_exposure", 6).cast("decimal(18,6)")
    )
    return (
        per_zone.withColumn("admin_id", F.col("zone_id") % 10)
        .groupBy("admin_id")
        .agg(F.sum("cci_exposure").cast("double").alias("admin_cci"))
    )


ORACLE_CCI_ADMIN = """
WITH long_df AS (
  SELECT l_orderkey AS zone_id, l_linenumber AS wind_threshold,
         MAX(l_quantity) AS exposure
  FROM lineitem GROUP BY 1, 2
),
banded AS (
  -- mirrors ops/cci.exceedance_bands (r9): "no next ROW" subtracts 0,
  -- but a next row whose VALUE is no-data makes the band unknowable
  SELECT zone_id, wind_threshold,
         CASE WHEN exposure IS NULL
                OR (LEAD(1) OVER w IS NOT NULL AND LEAD(exposure) OVER w IS NULL)
              THEN NULL
              ELSE exposure - COALESCE(LEAD(exposure) OVER w, 0.0) END AS band
  FROM long_df
  WINDOW w AS (PARTITION BY zone_id ORDER BY wind_threshold ASC)
),
per_zone AS (
  SELECT zone_id,
         CAST(ROUND(SUM(band * POW(CAST(wind_threshold AS DOUBLE), 2.0) * 1e-6), 6)
              AS DECIMAL(18,6)) AS cci_exposure
  FROM banded GROUP BY zone_id
)
SELECT zone_id % 10 AS admin_id, CAST(SUM(cci_exposure) AS DOUBLE) AS admin_cci
FROM per_zone GROUP BY 1
"""
register("a13_cci_admin_rollup", q_cci_admin_rollup, ORACLE_CCI_ADMIN)


def q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: value-counts diagnostics (impact_analysis.py:699)."""
    o = read_sf_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


ORACLE_VALUE_COUNTS = """
SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority
"""
register("a14_value_counts", q_value_counts, ORACLE_VALUE_COUNTS)


def q_first_landfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: first qualifying row per member — the landfall scan
    (reports.py:283-293): first event with value above threshold, by time."""
    ev = read_sf_table(spark, sf_dir, "events")
    out = windows.first_match(
        ev, ["user_id"], ["ts", "event_id"], F.col("value") > 147
    )
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.col("event_id").alias("first_event"),
    )


ORACLE_FIRST_LANDFALL = """
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts,
       event_id AS first_event
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE value > 147)
WHERE rn = 1
"""
register("w2_first_landfall", q_first_landfall, ORACLE_FIRST_LANDFALL)


def q_distinct_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: metadata probe — DISTINCT + ORDER BY (snowflake_utils.py:486-521).
    Order is asserted via an explicit rank column (the driver's compare is
    order-insensitive)."""
    ev = read_sf_table(spark, sf_dir, "events")
    d = ev.select("event_type").distinct()
    # rank by ordering self-join (ord = #distinct types <= this one): the
    # post-distinct cardinality is tiny so O(K²) is nil, and unlike a global
    # window this keeps every operator distributed (Spark 4 folds constant
    # partition keys, so there is no cheap non-empty partition spec).
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, F.col("b.event_type") <= F.col("a.event_type"))
        .groupBy("a.event_type")
        .agg(F.count(F.lit(1)).cast("int").alias("ord"))
        .select(F.col("event_type"), "ord")
    )


ORACLE_DISTINCT = """
SELECT event_type, CAST(ROW_NUMBER() OVER (ORDER BY event_type) AS INT) AS ord
FROM (SELECT DISTINCT event_type FROM events)
"""
register("s6_distinct_ordered", q_distinct_ordered, ORACLE_DISTINCT)


def q_raster_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: raster zonal ingestion — pre-chunked raster blocks → per-cell
    point explode (posexplode + affine transform, pure Catalyst) → zonal
    sum keyed by tile (impact_analysis.py:813-920's WorldPop semantics).
    Blocks are synthesized deterministically from the region table; tiling
    is the equirectangular grid (only +,-,*,/ and floor — bit-exact across
    engines; see io/raster.equirect_tile_xy). Production tiling is the
    Web-Mercator quadkey path (io/raster.zonal_sum_to_tiles)."""
    r = read_sf_table(spark, sf_dir, "region").select(F.col("r_regionkey").cast("int").alias("rid"))
    blocks = r.select(
        F.concat(F.lit("wp-"), F.col("rid").cast("string")).alias("raster_id"),
        (F.lit(-30.0) + F.col("rid") * 15.0).alias("x0"),
        (F.lit(20.0) - F.col("rid") * 7.0).alias("y0"),
        F.lit(0.1).alias("dx"),
        F.lit(0.1).alias("dy"),
        F.lit(16).alias("ncols"),
        F.transform(
            F.sequence(F.lit(0), F.lit(255)),
            lambda i: ((F.col("rid") * 997 + i * 131) % 100).cast("double"),
        ).alias("values"),
    )
    pts = raster.explode_block_cells(blocks)
    tx, ty = raster.equirect_tile_xy(F.col("lon"), F.col("lat"), 6)
    return (
        pts.select(tx.alias("tile_x"), ty.alias("tile_y"), "value")
        .groupBy("tile_x", "tile_y")
        .agg(
            F.sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )


# cell values are small ints, so the per-tile double sums are exact and
# order-independent; lon/lat/tile arithmetic uses the identical IEEE
# operation sequence in both engines
ORACLE_RASTER_ZONAL = """
WITH blocks AS (
  SELECT CAST(r_regionkey AS INT) AS rid FROM region
),
cells AS (
  SELECT rid, CAST(g AS INT) AS pos
  FROM blocks, generate_series(0, 255) AS t(g)
),
pts AS (
  SELECT CAST((rid * 997 + pos * 131) % 100 AS DOUBLE) AS value,
         (-30.0 + rid * 15.0) + ((pos % 16) + 0.5) * 0.1 AS lon,
         (20.0 - rid * 7.0) - (FLOOR(pos / 16.0) + 0.5) * 0.1 AS lat
  FROM cells
)
SELECT CAST(FLOOR((lon + 180.0) / 360.0 * 64.0) AS INT) AS tile_x,
       CAST(FLOOR((90.0 - lat) / 180.0 * 64.0) AS INT) AS tile_y,
       SUM(value) AS total_value,
       COUNT(*) AS n_cells
FROM pts
GROUP BY tile_x, tile_y
"""
register("s17_raster_zonal", q_raster_zonal, ORACLE_RASTER_ZONAL)
