"""Relational-surface queries: scalar functions, as-of and range
joins, cube/pivot/unpivot, set and bag operations, fuzzy matching, column
profiles, skew handling, SCD2/CDC/incremental maintenance, expectation
suites, reconciliation, interval unions, skylines, association rules and
the data-layout (Z-order) and shard-placement censuses.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aos_spark.io.readers import read_sf_table
from aos_spark.ops import asof, intervals, skew
from aos_spark.ops import incremental as I
from aos_spark.ops import validate as V
from aos_spark.ops.assoc import association_rules
from aos_spark.ops.exact_round import round_ratio6
from aos_spark.ops.intervals import interval_overlap_join, merge_intervals
from aos_spark.ops.layout import chunk_minmax_census, zorder_key, zorder_key_sql
from aos_spark.ops.reconcile import diff_buckets
from aos_spark.ops.scd import scd2_apply, snapshot_diff
from aos_spark.queries.common import dsum, dsum_sql
from aos_spark.registry import register


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 scalar families: compact timestamp format, ±6h offsets, datediff,
    regexp extraction, filename-style key construction."""
    ev = read_sf_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyyMMddHHmmss").alias("ts_compact"),
        F.date_format(F.col("ts") + F.expr("INTERVAL 6 HOURS"), "yyyy-MM-dd HH:mm:ss").alias(
            "ts_plus_6h"
        ),
        F.datediff(F.lit("2024-06-01").cast("date"), F.col("ts").cast("date")).alias(
            "days_to_jun"
        ),
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int").alias("k_value"),
        F.concat_ws(
            "_", F.lit("EVT"), F.col("event_type"), F.date_format("ts", "yyyyMMdd")
        ).alias("file_key"),
    )


ORACLE_SCALARS = r"""
SELECT event_id,
       strftime(ts, '%Y%m%d%H%M%S') AS ts_compact,
       strftime(ts + INTERVAL 6 HOUR, '%Y-%m-%d %H:%M:%S') AS ts_plus_6h,
       CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-06-01') AS INTEGER) AS days_to_jun,
       CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) AS k_value,
       concat_ws('_', 'EVT', event_type, strftime(ts, '%Y%m%d')) AS file_key
FROM events WHERE event_id < 2000
"""
register("scalar_functions", q_scalar_functions, ORACLE_SCALARS)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (ops/asof): every event matched to the user's most recent
    at-or-before 'purchase' signal. Spark side is the union-and-carry
    formulation (one key shuffle, linear — no per-key range blowup); the
    oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the gate checks our
    composition against a first-class engine implementation of the same
    semantics."""
    ev = read_sf_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signal"))
    )
    out = asof.asof_join(left, right, on="ts", by=["user_id"], value_cols=["signal"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "signal",
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("asof_ts"),
    )


ORACLE_ASOF = """
WITH r AS (
  SELECT user_id, ts, MAX(value) AS signal
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       r.signal AS signal,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS asof_ts
FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""
register("asof_join_events", q_asof_join, ORACLE_ASOF)


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (ops/intervals): events matched to the value intervals
    containing them, per-interval count + decimal-exact sum. Spark side is
    the bucketized equi-join (hash join keyed by bucket — the scale path;
    a raw BETWEEN join is a nested loop); the oracle is the plain range
    predicate join, checking the bucketization introduces no gain/loss at
    bucket boundaries."""
    ev = read_sf_table(spark, sf_dir, "events").select("event_id", "value")
    n = read_sf_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") * 7.0).alias("lo"),
        (F.col("n_nationkey") * 7.0 + 20.0).alias("hi"),
    )
    joined = intervals.bucketized_range_join(ev, n, "value", "lo", "hi", 16.0)
    return joined.groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 6).alias("sum_value"),
    )


ORACLE_RANGE_JOIN = f"""
SELECT n_nationkey, COUNT(*) AS n_events,
       {dsum_sql('value', 6)} AS sum_value
FROM nation JOIN events
  ON value >= n_nationkey * 7.0 AND value <= n_nationkey * 7.0 + 20.0
GROUP BY 1
"""
register("range_join_events", q_range_join, ORACLE_RANGE_JOIN)


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all 4 grouping combinations in ONE
    pass (one shuffle; Spark expands grouping sets map-side exactly like
    the reference's repeated pandas groupbys collapsed into one plan).
    grouping_id disambiguates subtotal rows from genuine NULL keys."""
    o = read_sf_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


ORACLE_CUBE = f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS revenue
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""
register("cube_order_stats", q_cube_order_stats, ORACLE_CUBE)


def q_pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot: revenue per priority × order-status. The pivot values
    are declared explicitly, so Spark skips the extra distinct-values job
    and the plan is a single partial-agg + final-agg pair — at 100 TB the
    pivot is exactly as cheap as the equivalent groupBy."""
    o = read_sf_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(dsum("o_totalprice"))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0.0)).alias("rev_f"),
        F.coalesce(F.col("O"), F.lit(0.0)).alias("rev_o"),
        F.coalesce(F.col("P"), F.lit(0.0)).alias("rev_p"),
    )


ORACLE_PIVOT = """
SELECT o_orderpriority,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) AS rev_f,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) AS rev_o,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P'), 0) AS DOUBLE) AS rev_p
FROM orders GROUP BY o_orderpriority
"""
register("pivot_status_revenue", q_pivot_status_revenue, ORACLE_PIVOT)


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form melt of three lineitem measures (DataFrame.unpivot —
    Catalyst Expand node: one scan, rows×3 output, zero shuffle). The
    narrow long layout is the same rewrite the CCI operator uses (W3)."""
    li = read_sf_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "value",
    )


ORACLE_UNPIVOT = """
WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM li
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM li
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM li
"""
register("unpivot_metrics", q_unpivot_metrics, ORACLE_UNPIVOT)


def q_set_ops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segmentation via set algebra: INTERSECT (placed urgent AND
    fulfilled orders) and EXCEPT (urgent only). Both compile to a single
    hash-partitioned distinct + join — no driver-side sets."""
    o = read_sf_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    fulfilled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = urgent.intersect(fulfilled).withColumn("segment", F.lit("both"))
    only = urgent.subtract(fulfilled).withColumn("segment", F.lit("urgent_only"))
    return both.unionByName(only)


ORACLE_SET_OPS = """
SELECT o_custkey, 'both' AS segment FROM (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
UNION ALL
SELECT o_custkey, 'urgent_only' AS segment FROM (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""
register("set_ops_segments", q_set_ops_segments, ORACLE_SET_OPS)


def q_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching with candidate generation: docs are
    blocked by (lang, 64-char length band) so the quadratic levenshtein
    kernel only runs within small buckets — never corpus × corpus. The
    banding is part of the operator contract (bounded candidates trade
    boundary-straddling recall, exactly like LSH banding) and the oracle
    mirrors it. The Spark side verifies with the THRESHOLD form of
    levenshtein — banded DP with early abandon, O(k·n) per pair instead
    of O(n²) — which returns -1 above the cutoff, filtered identically
    to the oracle's plain `lev <= k`."""
    d = read_sf_table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        "lang",
        F.expr("n_chars DIV 64").alias("lb"),
        F.substring("text", 1, 32).alias("pfx"),
    )
    cand = (
        b.alias("x")
        # merge hint: same corpus-sized-self-join discipline as the dedup
        # tier (llm/dedup.py) — the block frame must never be broadcast
        .join(b.alias("y").hint("merge"), ["lang", "lb"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
    )
    return (
        cand.select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.levenshtein("x.pfx", "y.pfx", 8).cast("int").alias("lev"),
        )
        .filter((F.col("lev") >= 0) & (F.col("lev") <= 8))
    )


ORACLE_FUZZY = """
WITH b AS (
  SELECT doc_id, lang, n_chars // 64 AS lb, substring(text, 1, 32) AS pfx
  FROM documents)
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       CAST(levenshtein(x.pfx, y.pfx) AS INTEGER) AS lev
FROM b x JOIN b y ON x.lang = y.lang AND x.lb = y.lb AND x.doc_id < y.doc_id
WHERE levenshtein(x.pfx, y.pfx) <= 8
"""
register("fuzzy_match_levenshtein", q_fuzzy_levenshtein, ORACLE_FUZZY)


def q_skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted COUNT(DISTINCT) (ops/skew.salted_distinct_count):
    the hot key's distinct set is split across 16 salt shards so no single
    task owns a whole hot key — the exact-aggregation answer to skew that
    AQE's skew-join handling can't give you for aggregates. Result is
    EXACT (disjoint shards), verified against a plain COUNT(DISTINCT)."""
    ev = read_sf_table(spark, sf_dir, "events")
    per_type = skew.salted_distinct_count(
        ev, ["event_type"], "user_id", out_col="n_users"
    )
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return per_type.join(totals, "event_type")


ORACLE_SKEW_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
"""
register("skew_salted_distinct", q_skew_salted_distinct, ORACLE_SKEW_DISTINCT)


def q_array_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: collect_set is unordered by
    definition, so the engine contract is array_sort(collect_set(...)) —
    the only shuffle-order-independent (hence scale-safe and
    cross-engine-exact) form of "aggregate to a list". Emitted joined
    to a string because the driver's pandas canonicalizer can't hash
    LIST cells (r4 verdict); the array form is covered by
    tests/test_relational_ops.py."""
    o = read_sf_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.array_sort(F.collect_set("o_orderstatus")), ","
        ).alias("statuses"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


ORACLE_ARRAY_AGG = """
SELECT o_orderpriority,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY o_orderpriority
"""
register("array_agg_sorted", q_array_agg_sorted, ORACLE_ARRAY_AGG)


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass (the validation step before any ingest): null
    count, distinct count, numeric/string min-max for every profiled
    column, assembled from two narrow aggregates.

    Shape matters here (r5 rewrite, 2.7 s → sub-second at sf0.1): putting
    five countDistinct's in ONE agg makes Catalyst Expand ×(k+1) and then
    SORT-aggregate the expanded frame on a 6-column key — string min/max
    buffers disqualify HashAggregate, so the whole expanded fact sorts
    twice. Instead: (a) distinct counts ride their own explode of
    (column_tag, value-as-string) → two HASH aggregates on a narrow
    2-column key (string group KEYS are hash-friendly; only string agg
    BUFFERS are not); (b) nulls/min/max/count ride one global agg — no
    Expand, 32 partial rows merge. Both scan the same parquet once each;
    at 100 TB two narrow scans beat one scan that sorts a 6× expansion.
    Numeric extremes stay numeric (double→string formatting differs
    across engines); the profiled-value strings feed only DISTINCT
    counting, where Spark's shortest-round-trip double formatting is
    injective."""
    o = read_sf_table(spark, sf_dir, "orders")
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    cols = num_cols + str_cols

    # (a) exact distinct counts: explode to (column, value) — narrow key,
    # hash-aggregate both phases, nulls excluded like countDistinct
    tagged = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.column", "s.val")
    distincts = (
        tagged.filter(F.col("val").isNotNull())
        .groupBy("column", "val")
        .agg(F.lit(1).alias("__one"))
        .groupBy("column")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )

    # (b) everything else in one global agg (no distinct → no Expand)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.isnull(c).cast("long")).alias(f"{c}__nulls"))
    for c in num_cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"{c}__min"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"{c}__max"))
    for c in str_cols:
        aggs.append(F.min(c).alias(f"{c}__min"))
        aggs.append(F.max(c).alias(f"{c}__max"))
    row = o.agg(*aggs)
    structs = []
    for c in cols:
        is_num = c in num_cols
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                (F.col(f"{c}__min") if is_num else F.lit(None).cast("double")).alias("min_num"),
                (F.col(f"{c}__max") if is_num else F.lit(None).cast("double")).alias("max_num"),
                (F.lit(None).cast("string") if is_num else F.col(f"{c}__min")).alias("min_str"),
                (F.lit(None).cast("string") if is_num else F.col(f"{c}__max")).alias("max_str"),
            )
        )
    long_form = row.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    return long_form.join(F.broadcast(distincts), "column").select(
        "column", "n_rows", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    )


def _profile_oracle() -> str:
    num_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    str_cols = ["o_orderstatus", "o_orderpriority"]
    aggs = ["COUNT(*) AS __n"]
    for c in num_cols + str_cols:
        aggs.append(
            f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS {c}__nulls"
        )
        aggs.append(f"COUNT(DISTINCT {c}) AS {c}__distinct")
    for c in num_cols:
        aggs.append(f"MIN(CAST({c} AS DOUBLE)) AS {c}__min")
        aggs.append(f"MAX(CAST({c} AS DOUBLE)) AS {c}__max")
    for c in str_cols:
        aggs.append(f"MIN({c}) AS {c}__min")
        aggs.append(f"MAX({c}) AS {c}__max")
    rows = []
    for c in num_cols:
        rows.append(
            f"SELECT '{c}' AS column, __n AS n_rows, {c}__nulls AS n_nulls,"
            f" {c}__distinct AS n_distinct, {c}__min AS min_num,"
            f" {c}__max AS max_num, CAST(NULL AS VARCHAR) AS min_str,"
            f" CAST(NULL AS VARCHAR) AS max_str FROM a"
        )
    for c in str_cols:
        rows.append(
            f"SELECT '{c}', __n, {c}__nulls, {c}__distinct,"
            f" CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),"
            f" {c}__min, {c}__max FROM a"
        )
    return (
        "WITH a AS (SELECT " + ", ".join(aggs) + " FROM orders)\n"
        + "\nUNION ALL\n".join(rows)
    )


register("profile_columns", q_profile_columns, _profile_oracle())


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (ops/scd.scd2_apply): the customer
    dimension opened at 1995-01-01 receives a snapshot where every 7th
    customer changed segment and every 13th disappeared — changed rows
    close + reopen, deletions close, the rest stay open. One full-outer
    join keyed on the business key; closed history never joins."""
    c = read_sf_table(spark, sf_dir, "customer")
    history = c.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    snapshot = c.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, "MOVED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    return scd2_apply(
        history, snapshot, ["c_custkey"], ["c_mktsegment"], "2000-01-01"
    )


ORACLE_SCD2 = """
WITH open_rows AS (
  SELECT c_custkey, c_mktsegment,
         DATE '1995-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM customer),
snap AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 13 <> 0),
kept AS (
  SELECT o.* FROM open_rows o JOIN snap s USING (c_custkey)
  WHERE o.c_mktsegment = s.c_mktsegment),
closing AS (
  SELECT o.c_custkey, o.c_mktsegment, o.valid_from, DATE '2000-01-01' AS valid_to
  FROM open_rows o LEFT JOIN snap s USING (c_custkey)
  WHERE s.c_custkey IS NULL OR o.c_mktsegment <> s.c_mktsegment),
opening AS (
  SELECT s.c_custkey, s.c_mktsegment,
         DATE '2000-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM snap s JOIN open_rows o USING (c_custkey)
  WHERE o.c_mktsegment <> s.c_mktsegment)
SELECT * FROM kept UNION ALL SELECT * FROM closing UNION ALL SELECT * FROM opening
"""
register("scd2_dimension_history", q_scd2_history, ORACLE_SCD2)


def q_incremental_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (ops/incremental): lineitem
    arrives as two batches (pre/post 1998); each builds a per-returnflag
    state, states merge, finalize. The oracle is the SINGLE-PASS batch
    aggregate — passing proves incremental == batch bit-for-bit (decimal
    states make the equality exact, not approximate)."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    b1 = li.filter(F.col("l_shipdate") < F.lit("1998-01-01"))
    b2 = li.filter(F.col("l_shipdate") >= F.lit("1998-01-01"))
    s1 = I.agg_state(b1, ["l_returnflag"], "l_extendedprice")
    s2 = I.agg_state(b2, ["l_returnflag"], "l_extendedprice")
    return I.finalize(I.merge_states(s1, s2, ["l_returnflag"]), ["l_returnflag"])


ORACLE_INCREMENTAL = """
SELECT l_returnflag,
       COUNT(l_extendedprice) AS n,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 4) AS total,
       -- signed mean, mirroring round_ratio6_micro_signed (r9): the
       -- unsigned idiom on |sum| with the sign restored
       CASE WHEN SUM(CAST(l_extendedprice AS DECIMAL(28,6))) >= 0 THEN
       CAST((CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) * 1000000 AS HUGEINT) * 2 + CAST(COUNT(l_extendedprice) AS HUGEINT)) // (CAST(COUNT(l_extendedprice) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0
       ELSE
       -(CAST((CAST(-SUM(CAST(l_extendedprice AS DECIMAL(28,6))) * 1000000 AS HUGEINT) * 2 + CAST(COUNT(l_extendedprice) AS HUGEINT)) // (CAST(COUNT(l_extendedprice) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0)
       END AS avg,
       ROUND(CAST(MIN(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 4) AS min_value,
       ROUND(CAST(MAX(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 4) AS max_value
FROM lineitem GROUP BY l_returnflag
"""
register("incremental_agg_merge", q_incremental_revenue, ORACLE_INCREMENTAL)


def q_validation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style expectation suite (ops/validate): nullability, key
    uniqueness, accepted values, and two referential-integrity checks
    across three tables, unioned into one (check, n_failed) report."""
    o = read_sf_table(spark, sf_dir, "orders")
    li = read_sf_table(spark, sf_dir, "lineitem")
    c = read_sf_table(spark, sf_dir, "customer")
    return V.run_suite(
        [
            V.check_not_null(o, "o_custkey"),
            V.check_unique(o, ["o_orderkey"]),
            V.check_accepted_values(o, "o_orderstatus", ["P", "O", "F"]),
            V.check_referential(li, o, "l_orderkey", "o_orderkey"),
            V.check_referential(o, c, "o_custkey", "c_custkey"),
        ]
    )


ORACLE_VALIDATION = """
SELECT 'not_null:o_custkey' AS check,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_failed FROM orders
UNION ALL
SELECT 'unique:o_orderkey',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM (
         SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
UNION ALL
SELECT 'accepted_values:o_orderstatus',
       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('P','O','F') OR o_orderstatus IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) FROM orders
UNION ALL
SELECT 'referential:l_orderkey->o_orderkey', COUNT(*)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'referential:o_custkey->c_custkey', COUNT(*)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
"""
register("validation_suite", q_validation_suite, ORACLE_VALIDATION)


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured tier: parse the events.props JSON column with an
    explicit schema (from_json — JVM-side Jackson, no Python) and roll up
    the extracted field per event type. At scale the parse is a codegen'd
    projection; schema-on-read instead of a second ETL pass."""
    ev = read_sf_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "__p", F.from_json("props", T.StructType([T.StructField("k", T.IntegerType())]))
    ).withColumn("k", F.col("__p.k"))
    return parsed.groupBy("event_type").agg(
        F.count("k").alias("n"),
        F.sum(F.col("k").cast("long")).alias("sum_k"),
        F.countDistinct("k").alias("n_distinct_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


ORACLE_JSON_PROPS = """
SELECT event_type,
       COUNT(k) AS n, CAST(SUM(CAST(k AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(DISTINCT k) AS n_distinct_k, MIN(k) AS min_k, MAX(k) AS max_k
FROM (SELECT event_type, CAST(props->>'k' AS INT) AS k FROM events)
GROUP BY event_type
"""
register("json_props_stats", q_json_props_stats, ORACLE_JSON_PROPS)


def q_rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(year, month) over order totals — the time-hierarchy subtotal
    ladder (grand total → per-year → per-month) in ONE aggregate pass via
    Expand, with grouping_id distinguishing the levels."""
    o = read_sf_table(spark, sf_dir, "orders")
    return (
        o.rollup(F.year("o_orderdate").alias("o_year"), F.month("o_orderdate").alias("o_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_price"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


ORACLE_ROLLUP = """
SELECT o_year, o_month, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price,
       CAST(GROUPING(o_year) * 2 + GROUPING(o_month) AS INT) AS gid
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         CAST(EXTRACT(month FROM o_orderdate) AS INT) AS o_month,
         o_totalprice
  FROM orders)
GROUP BY ROLLUP (o_year, o_month)
"""
register("rollup_time_hierarchy", q_rollup_time_hierarchy, ORACLE_ROLLUP)


def q_bag_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag (multiset) semantics, distinct from the §2.6
    distinct set ops: shipments per supplier in 1997 minus 1998 AS BAGS,
    so a supplier with 5 early and 2 late shipments survives 3 times.
    Spark plans exceptAll as a counted anti-semantics generate — no
    driver sets."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    a = li.filter(F.year("l_shipdate") == 1997).select("l_suppkey")
    b = li.filter(F.year("l_shipdate") == 1998).select("l_suppkey")
    return (
        a.exceptAll(b)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("surplus_shipments"))
    )


ORACLE_BAG_DIFF = """
SELECT l_suppkey, COUNT(*) AS surplus_shipments
FROM (
  SELECT l_suppkey FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1997
  EXCEPT ALL
  SELECT l_suppkey FROM lineitem WHERE EXTRACT(year FROM l_shipdate) = 1998)
GROUP BY l_suppkey
"""
register("bag_difference_except_all", q_bag_difference, ORACLE_BAG_DIFF)


def q_reconcile_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy reconciliation (ops/reconcile.diff_buckets): orders vs
    a perturbed copy (totalprice bumped for ~1% of customers, ~0.1% of
    rows deleted). Each side reduces to 256 (bucket, count, checksum)
    rows; the diff is a bucket-frame join — the 100 TB story is that the
    tables never ship, only the fixed-size checksum frames do."""
    o = read_sf_table(spark, sf_dir, "orders")
    perturbed = o.filter(F.col("o_orderkey") % 997 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_custkey") % 101 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    return diff_buckets(o.select(*cols), perturbed.select(*cols), "o_orderkey")


ORACLE_RECONCILE = """
WITH a AS (
  SELECT CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
           % 256 AS bucket,
         COUNT(*) AS n_rows,
         SUM(CAST('0x' || substring(md5(
               concat_ws(chr(31),
                 COALESCE(CAST(o_orderkey AS VARCHAR), chr(0) || 'null'),
                 COALESCE(CAST(o_custkey AS VARCHAR), chr(0) || 'null'),
                 COALESCE(o_orderstatus, chr(0) || 'null'),
                 COALESCE(CAST(o_totalprice AS VARCHAR), chr(0) || 'null'))),
             1, 8) AS BIGINT)) AS checksum
  FROM orders GROUP BY 1),
p AS (
  SELECT CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)
           % 256 AS bucket,
         COUNT(*) AS n_rows,
         SUM(CAST('0x' || substring(md5(
               concat_ws(chr(31),
                 COALESCE(CAST(o_orderkey AS VARCHAR), chr(0) || 'null'),
                 COALESCE(CAST(o_custkey AS VARCHAR), chr(0) || 'null'),
                 COALESCE(o_orderstatus, chr(0) || 'null'),
                 COALESCE(CAST(tp AS VARCHAR), chr(0) || 'null'))),
             1, 8) AS BIGINT)) AS checksum
  FROM (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_custkey % 101 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS tp
    FROM orders WHERE o_orderkey % 997 <> 0)
  GROUP BY 1)
SELECT COALESCE(a.bucket, p.bucket) AS bucket,
       COALESCE(a.n_rows, 0) AS n_rows_a,
       COALESCE(p.n_rows, 0) AS n_rows_b,
       (COALESCE(a.n_rows, 0) = COALESCE(p.n_rows, 0)
        AND COALESCE(a.checksum, 0) = COALESCE(p.checksum, 0)) AS match
FROM a FULL OUTER JOIN p ON a.bucket = p.bucket
"""
register("reconcile_tables", q_reconcile_tables, ORACLE_RECONCILE)


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two order snapshots (ops/scd.snapshot_diff): the same
    perturbation as reconcile_tables (price bump for ~1% of customers,
    ~0.1% of rows deleted), summarized per op. Reconcile answers WHERE
    tables differ from fixed-size checksums; this emits WHAT changed —
    feed size tracks the change rate, never the table size."""
    o = read_sf_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 997 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_custkey") % 101 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    feed = snapshot_diff(o, new, ["o_orderkey"], ["o_custkey", "o_totalprice"])
    return feed.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_checksum"),
    )


ORACLE_CDC = """
WITH new AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_custkey % 101 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 997 <> 0),
feed AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.o_totalprice <> n.o_totalprice
                   OR o.o_custkey <> n.o_custkey THEN 'update' END AS op,
         COALESCE(n.o_orderkey, o.o_orderkey) AS k
  FROM orders o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
SELECT op, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS key_checksum
FROM feed WHERE op IS NOT NULL GROUP BY op
"""
register("cdc_snapshot_diff", q_cdc_snapshot_diff, ORACLE_CDC)


def q_overlapping_order_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-customer order pairs whose 7-day windows overlap
    (ops/intervals.interval_overlap_join keyed by custkey): the join
    shuffles on (customer, time-bucket) — never a per-customer cross
    product — and multi-bucket pairs dedup by a pure filter."""
    o = read_sf_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("double")
        .alias("d0"),
    ).withColumn("d1", F.col("d0") + 7.0)
    pairs = interval_overlap_join(
        o, o, "d0", "d1", "d0", "d1", bucket_width=8.0, by=["o_custkey"]
    )
    return (
        pairs.filter(F.col("a.o_orderkey") < F.col("b.o_orderkey"))
        .groupBy(F.col("a.o_custkey").alias("o_custkey"))
        .agg(F.count(F.lit(1)).alias("n_overlapping_pairs"))
    )


ORACLE_OVERLAP_WINDOWS = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS DOUBLE) AS d0,
         CAST(CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS DOUBLE) + 7.0 AS d1
  FROM orders)
SELECT a.o_custkey, COUNT(*) AS n_overlapping_pairs
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.d0 < b.d1 AND b.d0 < a.d1
GROUP BY a.o_custkey
"""
register(
    "overlapping_order_windows", q_overlapping_order_windows, ORACLE_OVERLAP_WINDOWS
)


_SKEW_COLS = ["l_suppkey", "l_partkey", "l_orderkey"]


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return skew.key_distribution_profile(
        read_sf_table(spark, sf_dir, "lineitem"), _SKEW_COLS
    )


def _skew_oracle(cols: list[str]) -> str:
    parts = []
    for c in cols:
        parts.append(f"""
SELECT '{c}' AS key_col,
       COUNT(*) AS n_keys,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       MAX(c) AS max_count,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_share,
       CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT) AS selfjoin_rows,
       ROUND((CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) * CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE))
             / CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DOUBLE), 6) AS eff_keys,
       ROUND((CAST(MAX(c) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))
             / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE), 6) AS skew_factor
FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY {c})""")
    return "\nUNION ALL\n".join(parts)


register("key_skew_profile", q_key_skew_profile, _skew_oracle(_SKEW_COLS))


def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event opens a 1-hour activity interval; overlapping/touching
    intervals union into islands per user. Output: per-user island count,
    total covered seconds, and the densest island's event count — the
    'effective active time' metric sessionization approximates from the
    other direction."""
    ev = read_sf_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("ivl_start"),
        (F.unix_timestamp("ts") + F.lit(3600)).alias("ivl_end"),
    )
    islands = merge_intervals(iv, ["user_id"], "ivl_start", "ivl_end")
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias(
            "covered_seconds"
        ),
        F.max("n_intervals").alias("max_island_events"),
    )


ORACLE_INTERVAL_COVERAGE = """
WITH iv AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         CAST(FLOOR(epoch(ts)) AS BIGINT) + 3600 AS e
  FROM events),
m AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv),
g AS (
  SELECT user_id, s, e,
         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m),
isl AS (
  SELECT user_id, island,
         MIN(s) AS island_start, MAX(e) AS island_end,
         COUNT(*) AS n_intervals
  FROM g GROUP BY 1, 2)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(island_end - island_start) AS BIGINT) AS covered_seconds,
       CAST(MAX(n_intervals) AS BIGINT) AS max_island_events
FROM isl GROUP BY user_id
"""
register("interval_union_coverage", q_interval_union_coverage, ORACLE_INTERVAL_COVERAGE)


def q_assoc_rules_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over per-order brand baskets: which part brands
    are bought together more often than independence predicts. Brand dim
    broadcasts onto lineitem; the pair self-join is order-keyed
    (fan-out ≤ brands-per-order², never corpus²); support cut at 1% of
    baskets via integer cross-multiply."""
    li = read_sf_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = read_sf_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return association_rules(
        baskets, "l_orderkey", "p_brand", min_support_pct=1
    )


ORACLE_ASSOC = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey),
tot AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM ob),
item_n AS (SELECT item, COUNT(*) AS item_n FROM ob GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS pair_n
  FROM ob a JOIN ob b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2),
directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, pair_n FROM pairs
  UNION ALL
  SELECT item_b AS antecedent, item_a AS consequent, pair_n FROM pairs)
SELECT d.antecedent, d.consequent,
       CAST(d.pair_n AS BIGINT) AS pair_n,
       CAST(ia.item_n AS BIGINT) AS ant_n,
       CAST(ic.item_n AS BIGINT) AS con_n,
       CAST(t.n_baskets AS BIGINT) AS n_baskets,
       CAST((CAST(d.pair_n AS HUGEINT) * 1000000 * 2 + CAST(t.n_baskets AS HUGEINT)) // (CAST(t.n_baskets AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS support,
       CAST((CAST(d.pair_n AS HUGEINT) * 1000000 * 2 + CAST(ia.item_n AS HUGEINT)) // (CAST(ia.item_n AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS confidence,
       CAST((CAST(d.pair_n AS HUGEINT) * CAST(t.n_baskets AS HUGEINT) * 1000000 * 2 + CAST(ia.item_n AS HUGEINT) * CAST(ic.item_n AS HUGEINT)) // (CAST(ia.item_n AS HUGEINT) * CAST(ic.item_n AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS lift
FROM directed d
JOIN item_n ia ON d.antecedent = ia.item
JOIN item_n ic ON d.consequent = ic.item
CROSS JOIN tot t
WHERE d.pair_n * 100 >= 1 * t.n_baskets
"""
register("assoc_rules_brands", q_assoc_rules_brands, ORACLE_ASSOC)


# --------------------------------------------------- above_nation_avg_customers
def q_above_nation_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: how many customers place more than 2× the nation's
    average order count. The correlated-subquery classic, decorrelated
    into nation-partitioned window totals; the comparison cross-multiplies
    (cnt * n_customers > 2 * total_orders) so it stays in exact integers —
    no float average to tie-break. Customers with zero orders count in the
    denominator (left join + coalesce)."""
    o = read_sf_table(spark, sf_dir, "orders")
    c = read_sf_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_sf_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    cust = (
        c.join(per_cust, c["c_custkey"] == per_cust["o_custkey"], "left")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    w = Window.partitionBy("nation")
    flagged = cust.select(
        "nation",
        "cnt",
        F.count(F.lit(1)).over(w).alias("n_customers"),
        F.sum("cnt").over(w).alias("total_orders"),
    )
    return (
        flagged.groupBy("nation")
        .agg(
            F.max("n_customers").alias("n_customers"),
            F.max("total_orders").alias("total_orders"),
            F.sum(
                F.when(
                    F.col("cnt") * F.col("n_customers")
                    > F.lit(2) * F.col("total_orders"),
                    1,
                ).otherwise(0)
            ).alias("n_above"),
        )
        .select("nation", "n_customers", "total_orders", "n_above")
    )


ORACLE_ABOVE_NATION_AVG = """
WITH per_cust AS (
  SELECT c_custkey, c_nationkey,
         (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS cnt
  FROM customer),
named AS (
  SELECT n_name AS nation, CAST(cnt AS BIGINT) AS cnt
  FROM per_cust JOIN nation ON c_nationkey = n_nationkey),
flagged AS (
  SELECT nation, cnt,
         CAST(COUNT(*) OVER (PARTITION BY nation) AS BIGINT) AS n_customers,
         CAST(SUM(cnt) OVER (PARTITION BY nation) AS BIGINT) AS total_orders
  FROM named)
SELECT nation,
       MAX(n_customers) AS n_customers,
       MAX(total_orders) AS total_orders,
       CAST(SUM(CASE WHEN cnt * n_customers > 2 * total_orders
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM flagged GROUP BY nation
"""
register(
    "above_nation_avg_customers", q_above_nation_avg_customers, ORACLE_ABOVE_NATION_AVG
)


# ---------------------------------------------------- customer_skyline_frontier
def q_customer_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Pareto frontier of customers on (total spend, order
    count) under strict dominance (B dominates A iff BOTH strictly
    greater). The skyline trick: group to one row per (nation, spend)
    keeping the group-max count, sort spend DESC, and take the running
    max of count over STRICTLY-GREATER spend rows (rowsBetween
    unboundedPreceding, -1 on the deduped frame) — frontier iff that
    prefix max doesn't strictly exceed the customer's count. O(n log n)
    sort vs the O(n²) dominance self-join; both windows ride the nation
    partitioning."""
    o = read_sf_table(spark, sf_dir, "orders")
    c = read_sf_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_sf_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_custkey").alias("custkey"),
            "spend",
            "n_orders",
        )
    )
    grp = per.groupBy("nation", "spend").agg(
        F.max("n_orders").alias("grp_max")
    )
    w = (
        Window.partitionBy("nation")
        .orderBy(F.desc("spend"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = grp.withColumn("run_max", F.max("grp_max").over(w)).select(
        "nation", "spend", "run_max"
    )
    return (
        per.join(run, ["nation", "spend"])
        .filter(
            F.col("run_max").isNull()
            | (F.col("run_max") <= F.col("n_orders"))
        )
        .select(
            "nation",
            "custkey",
            F.col("spend").cast("double").alias("total_spend"),
            "n_orders",
        )
    )


ORACLE_SKYLINE = """
WITH per AS (
  SELECT n_name AS nation, o_custkey AS custkey,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
grp AS (
  SELECT nation, spend, MAX(n_orders) AS grp_max
  FROM per GROUP BY 1, 2),
run AS (
  SELECT nation, spend,
         MAX(grp_max) OVER (PARTITION BY nation ORDER BY spend DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS run_max
  FROM grp)
SELECT p.nation, p.custkey, CAST(p.spend AS DOUBLE) AS total_spend, p.n_orders
FROM per p JOIN run r ON p.nation = r.nation AND p.spend = r.spend
WHERE r.run_max IS NULL OR r.run_max <= p.n_orders
"""
register("customer_skyline_frontier", q_customer_skyline, ORACLE_SKYLINE)


# -------------------------------------------------------- zorder_skipping_census
# Two layouts over the same (x, y) = (l_partkey % 64, l_suppkey % 64)
# point set, 16 chunks each: "linear" chunks by x alone (perfect x
# pruning, none on y), "zorder" chunks by the top 4 bits of the 12-bit
# Morton key (balanced pruning on both). The census reports the summed
# per-chunk min-max width per dimension — exactly the parquet footer
# stats a scan planner would consult.
_ZBITS = 6


def q_zorder_skipping_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_sf_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.pmod(F.col("l_partkey"), F.lit(64)).alias("x"),
        F.pmod(F.col("l_suppkey"), F.lit(64)).alias("y"),
    )
    dims = {"x": F.col("x"), "y": F.col("y")}
    linear = chunk_minmax_census(
        pts, F.shiftright(F.col("x").cast("long"), 2), dims, "linear"
    )
    zorder = chunk_minmax_census(
        pts,
        F.shiftright(zorder_key(F.col("x"), F.col("y"), _ZBITS), 8),
        dims,
        "zorder",
    )
    return linear.unionByName(zorder)


def _zorder_census_oracle() -> str:
    zexpr = zorder_key_sql("x", "y", _ZBITS)
    return f"""
WITH pts AS (
  SELECT l_partkey % 64 AS x, l_suppkey % 64 AS y FROM lineitem),
lin AS (
  SELECT x >> 2 AS chunk, MAX(x) - MIN(x) + 1 AS w_x,
         MAX(y) - MIN(y) + 1 AS w_y, CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1),
zo AS (
  SELECT ({zexpr}) >> 8 AS chunk, MAX(x) - MIN(x) + 1 AS w_x,
         MAX(y) - MIN(y) + 1 AS w_y, CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 1)
SELECT 'linear' AS layout, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(w_x) AS BIGINT) AS sum_width_x,
       CAST(SUM(w_y) AS BIGINT) AS sum_width_y
FROM lin
UNION ALL
SELECT 'zorder', CAST(COUNT(*) AS BIGINT), CAST(SUM(n) AS BIGINT),
       CAST(SUM(w_x) AS BIGINT), CAST(SUM(w_y) AS BIGINT)
FROM zo
"""


register("zorder_skipping_census", q_zorder_skipping_census, _zorder_census_oracle())


# ------------------------------------------------------------ shard_rebalance_churn
_N_SHARDS = 8
_N_VNODES = 32  # virtual nodes per shard


def _ring_rows(n_shards: int) -> list[tuple[int, int]]:
    """Deterministic hash ring: (vnode_hash, shard) for n_shards × 32
    virtual nodes; vnode_hash = first-8-hex-of-md5('<shard>:<i>') (e.g.
    md5('0:5')) — the same 32-bit space the doc keys hash into,
    mirrorable literally in SQL."""
    rows = []
    for s in range(n_shards):
        for i in range(_N_VNODES):
            h = int(hashlib.md5(f"{s}:{i}".encode()).hexdigest()[:8], 16)
            rows.append((h, s))
    return rows


def _ring_shard_col(n_shards: int) -> F.Column:
    """Consistent-hash assignment as a PURE per-row EXPRESSION over the
    hash column ``h``: the clockwise successor of h on the ring is the
    FIRST element of the (vhash, shard)-sorted ring with vhash >= h, i.e.
    the element at index count(vhash < h), wrapping to ring element 0.

    r15 shape (guide §2.4 "remove shuffles outright", §1.2 step 1): the
    historical _ring_assign crossJoined the corpus with the broadcast
    256-row ring (×256 row expansion) and re-aggregated it back to one
    row per doc with a (doc_id, h)-keyed min-struct groupBy — one FULL
    corpus shuffle per ring, plus a (doc_id, h) join to line the two
    rings up again. The assignment is a pure function of h, so all of
    that collapses into this expression: zero joins, zero shuffles, and
    both rings evaluated in the same projection.

    The ring ships as TWO single-Literal arrays (parallel vhash/shard
    lists via F.lit(list)) — a first cut used a 256-element
    array(struct(lit, lit)) whose ~1k-node Catalyst tree was measurably
    SLOWER end-to-end than the crossJoin it replaced (optimizer walks +
    codegen dwarfed the saved exchanges at bench scale; isolated
    warm_min 4.7 s vs 3.0 s). Equivalence with the aggregate form's
    F.min(struct(vhash, shard)): rows are sorted by (vhash, shard), so
    counting strictly-smaller vhashes indexes the first row with
    vhash >= h — at duplicate vhashes that is exactly the min-shard row,
    and the empty-filter wrap target is row 0, the global min struct."""
    rows = sorted(_ring_rows(n_shards))
    vhashes = F.lit([vh for vh, _ in rows])
    shards = F.lit([s for _, s in rows])
    idx = F.size(F.filter(vhashes, lambda v: v < F.col("h")))
    return F.when(
        idx < F.lit(len(rows)), F.element_at(shards, idx + F.lit(1))
    ).otherwise(F.lit(rows[0][1]))


def q_shard_rebalance_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB re-sharding story, measured: fraction of documents that
    MOVE when one shard is added, under mod-hashing (shard = h % N —
    moves ~N/(N+1) of all data) vs a consistent-hash ring with 32
    virtual nodes per shard (moves ~1/(N+1); Karger et al., STOC'97).
    Everything is deterministic md5 arithmetic: both engines compute
    identical assignments, and the output is two rows of exact counts
    plus one final division."""
    d = read_sf_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.concat(F.lit("shard"),
                                          F.col("doc_id").cast("string"))), 1, 8),
               16, 10).cast("long").alias("h"),
    )
    # Both hashing schemes are pure functions of h, so all four
    # assignments ride ONE projection over ONE scan, and each method is
    # a single global aggregate — no crossJoin expansion, no per-ring
    # groupBy shuffles, no (doc_id, h) realignment join (see
    # _ring_shard_col; plans/r15/shard_rebalance_churn_{before,after}.txt).
    assigned = docs.select(
        F.pmod("h", F.lit(_N_SHARDS)).alias("m_old"),
        F.pmod("h", F.lit(_N_SHARDS + 1)).alias("m_new"),
        _ring_shard_col(_N_SHARDS).alias("r_old"),
        _ring_shard_col(_N_SHARDS + 1).alias("r_new"),
    )
    mod = assigned.agg(
        F.lit("mod").alias("method"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("m_old") != F.col("m_new")).cast("long")).alias("n_moved"),
    )
    ring = assigned.agg(
        F.lit("ring").alias("method"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("r_old") != F.col("r_new")).cast("long")).alias("n_moved"),
    )
    return mod.unionByName(ring).select(
        "method",
        "n_docs",
        "n_moved",
        round_ratio6(F.col("n_moved"), F.col("n_docs")).alias("moved_share"),
    )


def _shard_rebalance_oracle() -> str:
    def ring_values(n_shards: int) -> str:
        return ", ".join(f"({h}, {s})" for h, s in _ring_rows(n_shards))

    def ring_cte(tag: str, n_shards: int) -> str:
        return f"""
ring_{tag} AS (SELECT * FROM (VALUES {ring_values(n_shards)}) r(vhash, shard)),
asg_{tag} AS (
  SELECT d.doc_id, d.h,
         COALESCE(
           MIN(CASE WHEN r.vhash >= d.h THEN [r.vhash, r.shard] END),
           MIN([r.vhash, r.shard]))[2] AS shard
  FROM docs d CROSS JOIN ring_{tag} r
  GROUP BY d.doc_id, d.h)"""

    return f"""
WITH docs AS (
  SELECT doc_id,
         CAST('0x' || substring(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
  FROM documents),
{ring_cte("old", _N_SHARDS)},
{ring_cte("new", _N_SHARDS + 1)}
SELECT 'mod' AS method, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN h % {_N_SHARDS} <> h % {_N_SHARDS + 1} THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       CAST((CAST(SUM(CASE WHEN h % {_N_SHARDS} <> h % {_N_SHARDS + 1} THEN 1 ELSE 0 END) AS HUGEINT) * 1000000 * 2 + CAST(COUNT(*) AS HUGEINT)) // (CAST(COUNT(*) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS moved_share
FROM docs
UNION ALL
SELECT 'ring', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o.shard <> n.shard THEN 1 ELSE 0 END) AS BIGINT),
       CAST((CAST(SUM(CASE WHEN o.shard <> n.shard THEN 1 ELSE 0 END) AS HUGEINT) * 1000000 * 2 + CAST(COUNT(*) AS HUGEINT)) // (CAST(COUNT(*) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0
FROM asg_old o JOIN asg_new n USING (doc_id, h)
"""


register("shard_rebalance_churn", q_shard_rebalance_churn, _shard_rebalance_oracle())
