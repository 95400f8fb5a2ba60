"""Core query definitions: the storm-impact flagship, the SURVEY.md §2
operator tier, TPC-H staples and the first LLM-pipeline tier.

Every query maps one (or a tight cluster) of SURVEY.md §2 operators onto the
driver's deterministic test tables and carries an ANSI-SQL oracle that DuckDB
executes on the same parquet files. Cross-engine exactness rules used
throughout (so order-insensitive value-hashes match bit-for-bit):

- SUMs over doubles go through DECIMAL(18,s) so accumulation order cannot
  change the result; the final value is CAST back to DOUBLE.
- Per-row double arithmetic (products, ratios, cosines) is identical IEEE754
  in both engines, so it stays raw; outputs that chain multiple aggregates
  are rounded to 6 decimals in BOTH.
- Every computed column is aliased identically in the Spark plan and the SQL.
- DuckDB `regexp_replace` gets the 'g' flag (Spark replaces all by default),
  `ceil`/`len`/`row_number` results are cast to match Spark's output types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aos_spark.cache import persist_tracked
from aos_spark.llm import dedup as D
from aos_spark.llm import similarity as SIM
from aos_spark.llm import text as TX
from aos_spark.ops.exact_round import round_micro_cents, round_ratio6_micro
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
from aos_spark.pipeline import jobs
from aos_spark.pipeline.jobs import ENSEMBLE_SIZE, ZONES, zones_df
from aos_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from aos_spark.io.readers import read_sf_table

    return read_sf_table(spark, sf_dir, name)


def dsum(col: str, scale: int = 2) -> F.Column:
    """Order-independent sum of a double column (exact decimal accumulation)."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double")


def _dsum_sql(col: str, scale: int = 2) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,{scale}))) AS DOUBLE)"


# --------------------------------------------------------------------------
# Flagship: the storm-impact pipeline in relational form (SURVEY §7.2 slice 0)
# events as the fact stream: user_id ~ zone, event_type ~ ensemble member,
# fixed denominator 8 ~ FULL_ENSEMBLE_SIZE=51 (impact_analysis.py:185-188).
# Chain: F4 recency filter → A1 probability (fixed denominator) → A2 expected
# impact → A3/J9 rollup with the null contract → A8 top-K.
# --------------------------------------------------------------------------

def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
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
  SELECT user_id, {_dsum_sql('value')} AS exposure FROM ev GROUP BY user_id
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


# --------------------------------------------------------------------------
# Relational tier
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the agg-dict family A3/A6 with exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    # Decimal-DOMAIN arithmetic (not cast-after-double-multiply): the source
    # columns are 2-decimal-valued doubles, so casting each FACTOR to decimal
    # is tie-free in both engines, and every subsequent multiply/sum is exact
    # decimal — eliminating the Spark-vs-DuckDB tie-rounding divergence that
    # a per-row CAST(double_product AS DECIMAL) hits (VERDICT r1 #1).
    e = F.col("l_extendedprice").cast("decimal(14,2)")
    disc1 = (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)")
    tax1 = (F.lit(1) + F.col("l_tax").cast("decimal(4,2)")).cast("decimal(4,2)")
    disc_price = e * disc1          # decimal(19,4), exact
    charge = (e * disc1) * tax1     # decimal(24,6), exact
    # ONE decimal sum buffer per column: the sums feed both the sum_* output
    # (cast to double) and the engine-exact averages (derived in the post-agg
    # projection, which Catalyst fuses into the final HashAggregate's result
    # expressions — no extra stage). Both columns are 2-decimal-valued, so
    # the decimal(18,2) sum equals the old dedicated decimal(18,6) avg
    # numerator exactly; ROUND(double_sum/count, 6) of an arbitrary quotient
    # stays cross-engine knife-edge unsafe, hence round_ratio6_micro
    # (ops/exact_round) on the micro-scaled exact sums.
    micro = F.lit(1_000_000).cast("decimal(7,0)")  # keeps the product ≤ p38
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # ALL four sums are micro-unit integer sums (r13, ADVICE):
            # sum_qty/sum_base_price used to publish via a direct
            # decimal(18,2)->double cast — the same DuckDB double-rounding
            # hazard class as the money products, with only ~2 digits of
            # headroom left at sf1. One idiom for every total now; the
            # micro sums also feed the averages, so the agg buffer count
            # is unchanged.
            F.sum(
                (F.col("l_quantity").cast("decimal(18,2)") * micro)
                .cast("decimal(28,0)")
            ).alias("__sqm"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * micro)
                .cast("decimal(28,0)")
            ).alias("__spm"),
            # money sums publish at CENTS via exact micro-unit integer
            # sums + the integral-division half-up idiom
            # (exact_round.round_micro_cents): a scale-6 decimal total
            # passes 16 significant digits by sf0.1 and DuckDB's
            # decimal->double cast double-rounds (1 ulp off Spark's
            # correctly rounded cast at sf1 — BENCH_SF1_DIAG r12), while
            # a decimal(x,2) downcast truncates in DuckDB vs HALF_UP in
            # Spark. Micro sums keep every step exact-integer on both
            # engines; the only rounding is the shared /100 on a < 2^53
            # cents value.
            F.sum((disc_price * micro).cast("decimal(28,0)"))
            .alias("__sdm"),
            F.sum((charge * micro).cast("decimal(28,0)"))
            .alias("__scm"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            round_micro_cents(F.col("__sqm")).alias("sum_qty"),
            round_micro_cents(F.col("__spm")).alias("sum_base_price"),
            round_micro_cents(F.col("__sdm")).alias("sum_disc_price"),
            round_micro_cents(F.col("__scm")).alias("sum_charge"),
            "count_order",
            round_ratio6_micro(
                F.col("__sqm"), F.col("count_order")
            ).alias("avg_qty"),
            round_ratio6_micro(
                F.col("__spm"), F.col("count_order")
            ).alias("avg_price"),
        )
    )
    return out


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST((__sqm * 2 + 10000) // 20000 AS DOUBLE) / 100.0 AS sum_qty,
       CAST((__spm * 2 + 10000) // 20000 AS DOUBLE) / 100.0 AS sum_base_price,
       CAST((__sdm * 2 + 10000) // 20000 AS DOUBLE) / 100.0 AS sum_disc_price,
       CAST((__scm * 2 + 10000) // 20000 AS DOUBLE) / 100.0 AS sum_charge,
       count_order,
       CAST((__sqm * 2 + CAST(count_order AS HUGEINT)) // (CAST(count_order AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS avg_qty,
       CAST((__spm * 2 + CAST(count_order AS HUGEINT)) // (CAST(count_order AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS avg_price
FROM (
  SELECT l_returnflag, l_linestatus,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 1000000 AS HUGEINT)) AS __sqm,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 1000000 AS HUGEINT)) AS __spm,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2))
                  * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                  * 1000000 AS HUGEINT)) AS __sdm,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2))
                  * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                  * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))
                  * 1000000 AS HUGEINT)) AS __scm,
         COUNT(*) AS count_order
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus)
"""
register("q1_pricing_summary", q_pricing_summary, ORACLE_PRICING)


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + revenue agg + top-K — the
    multi-join planning path (join reordering + broadcast of the filtered
    dim) that the storm pipeline's country × storm × view joins exercise."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    out = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
    # top-10 via orderBy().limit() = TakeOrderedAndProject — a distributed
    # per-partition top-K + driver merge, NOT a single-task global window
    # (which would funnel the whole agg output through one task at scale).
    # Rank over the 10 survivors by ordering self-join (rank = #rows at or
    # before this one): O(K²) on K=10 rows, zero window operators — a
    # partition-less WindowExec would single-task even this tiny frame, and
    # Spark 4 folds away constant partition keys (EliminateWindowPartitions).
    # persist the 10-row frame so the upstream join+agg runs once, not once
    # per self-join side
    top = persist_tracked(
        out.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)
    )
    a, b = top.alias("a"), top.alias("b")
    precedes = (F.col("b.revenue") > F.col("a.revenue")) | (
        (F.col("b.revenue") == F.col("a.revenue"))
        & (F.col("b.l_orderkey") <= F.col("a.l_orderkey"))
    )
    return (
        a.join(b, precedes)
        .groupBy("a.l_orderkey", "a.o_orderpriority", "a.revenue")
        .agg(F.count(F.lit(1)).cast("int").alias("rank"))
        .select(
            F.col("l_orderkey"),
            F.col("o_orderpriority"),
            F.round("revenue", 4).alias("revenue"),
            "rank",
        )
    )


ORACLE_Q3 = """
WITH out AS (
  SELECT l_orderkey, o_orderpriority,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1995-03-15'
    AND l_shipdate > TIMESTAMP '1995-03-15'
  GROUP BY l_orderkey, o_orderpriority
)
SELECT l_orderkey, o_orderpriority, ROUND(revenue, 4) AS revenue,
       CAST(ROW_NUMBER() OVER (ORDER BY revenue DESC, l_orderkey) AS INT) AS rank
FROM out QUALIFY rank <= 10
"""
register("q3_shipping_priority", q_shipping_priority, ORACLE_Q3)


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way snowflake join (fact + 4 dims, dims broadcast)
    with a co-location predicate — the deepest join tree in the gate."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    out = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )
    return out.select("n_name", F.round("revenue", 4).alias("revenue"))


ORACLE_Q5 = """
SELECT n_name,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""
register("q5_regional_revenue", q_regional_revenue, ORACLE_Q5)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch face of the stateful streaming
    operator): lag → session-start flags → running-sum session ids →
    per-session aggregates. 6-hour gap on the events stream."""
    ev = _t(spark, sf_dir, "events")
    out = windows.sessionize(
        ev, ["user_id"], ts_col="ts", gap_seconds=6 * 3600, value_col="value"
    )
    return out.select(
        "user_id",
        "session_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "total_value",
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         -- fractional epoch seconds (micros / 1e6 — exactly representable
         -- doubles, bit-identical to Spark's unix_micros treatment): the
         -- r9 review found the batch operator truncated to whole seconds,
         -- merging sessions whose true gap just exceeds the threshold
         -- while the streaming face split them; operator and oracle were
         -- converted to sub-second-exact gaps in lockstep
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - LAG(epoch(ts)) OVER w > 21600
              THEN 1 ELSE 0 END AS start_flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sid AS (
  SELECT user_id, ts, value,
         CAST(SUM(start_flag) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sid GROUP BY user_id, session_id
"""
register("sessionize_events", q_sessionize, ORACLE_SESSIONIZE)


def q_catalog_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S7/A11: catalog scan — COUNT(DISTINCT member) + latest-forecast probe."""
    ev = _t(spark, sf_dir, "events")
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
    ev = _t(spark, sf_dir, "events")
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
    o = _t(spark, sf_dir, "orders")
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
       {_dsum_sql('o_totalprice')} AS total_value
FROM orders
WHERE o_orderstatus IN ('F') OR o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderstatus, o_orderpriority
"""
register("f5_isin_or_filter", q_isin_or_filter, ORACLE_ISIN)


def q_antijoin_new_work(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: idempotency anti-join — customers with no orders, per nation."""
    c = _t(spark, sf_dir, "customer")
    processed = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    n = _t(spark, sf_dir, "nation")
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
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_quantity").alias("sum_qty"),
    )


ORACLE_COVER_JOIN = f"""
SELECT p_brand, COUNT(*) AS n_lines, {_dsum_sql('l_quantity')} AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size < 10
GROUP BY p_brand
"""
register("j1_cover_equi_join", q_cover_equi_join, ORACLE_COVER_JOIN)


def q_preserve_empty_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/A3 + the null contract: every nation appears; counts zero-filled,
    optional avg stays NULL for empty nations (impact_analysis.py:1493-1498)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
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
    ev = _t(spark, sf_dir, "events")
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
  SELECT user_id, {_dsum_sql('value')} AS total_value FROM events GROUP BY user_id
)
SELECT b.user_id, COALESCE(p.probability, 0.0) AS probability,
       ROUND(b.total_value * COALESCE(p.probability, 0.0), 6) AS E_total_value
FROM base b LEFT JOIN prob p USING (user_id)
"""
register("a1_a2_probability_expected", q_probability_expected, ORACLE_PROB)


def q_report_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: ceil'd scalar totals + optional (NULL-on-empty) conditional sum."""
    li = _t(spark, sf_dir, "lineitem")
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
       CAST(CEIL({_dsum_sql('l_quantity')}) AS BIGINT) AS total_qty_ceil,
       CAST(SUM(CASE WHEN l_discount > 0.09 THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
         AS deep_discount_value
FROM lineitem GROUP BY l_returnflag
"""
register("a6_report_totals", q_report_totals, ORACLE_REPORT_TOTALS)


def q_vulnerability_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8+A7: derived-ratio banding and conditional band sums."""
    c = _t(spark, sf_dir, "customer")
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
    o = _t(spark, sf_dir, "orders")
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
    li = _t(spark, sf_dir, "lineitem").withColumn(
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
    ev = _t(spark, sf_dir, "events")
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
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
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
    li = _t(spark, sf_dir, "lineitem").select(
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
    li = _t(spark, sf_dir, "lineitem")
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
    o = _t(spark, sf_dir, "orders")
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
    ev = _t(spark, sf_dir, "events").select(
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


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 scalar families: compact timestamp format, ±6h offsets, datediff,
    regexp extraction, filename-style key construction."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
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


def q_recode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 dict-map recode with NULL preservation (SMOD L2→L1 shape,
    impact_analysis.py:296-305) applied to p_size."""
    p = _t(spark, sf_dir, "part").withColumn(
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
# LLM-data-pipeline tier (documents / embeddings)
# --------------------------------------------------------------------------


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", TX.token_count().alias("n_tokens"))


ORACLE_TOKENS = r"""
SELECT doc_id, lang,
       CAST(CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_tokens
FROM documents
"""
register("text_token_count", q_text_tokens, ORACLE_TOKENS)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    out = TX.quality_features(d)
    out = out.withColumn("quality", TX.quality_score())
    return out.select(
        "doc_id", "n_tokens", "alpha_ratio", "punct_ratio", "stopword_ratio", "quality"
    )


ORACLE_QUALITY = r"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^.,;:!?''"()\[\]]', '', 'g')) AS n_punct,
         CAST(CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
         -- greatest/coalesce: NULL text must read 0 hits, mirroring
         -- marker_hits' r9 guard (non-null text always yields len >= 1)
         GREATEST(COALESCE(len(string_split_regex(lower(text), '\b(and|is|of|the|to)\b')) - 1, 0), 0) AS stop_hits
  FROM documents
),
ratios AS (
  SELECT doc_id, n_tokens,
         CAST((CAST(n_alpha AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_chars, 1) AS HUGEINT)) // (CAST(GREATEST(n_chars, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS alpha_ratio,
         CAST((CAST(n_punct AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_chars, 1) AS HUGEINT)) // (CAST(GREATEST(n_chars, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS punct_ratio,
         CAST((CAST(stop_hits AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_tokens, 1) AS HUGEINT)) // (CAST(GREATEST(n_tokens, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS stopword_ratio
  FROM feats
)
SELECT doc_id, n_tokens, alpha_ratio, punct_ratio, stopword_ratio,
       ROUND((CASE WHEN punct_ratio > 0.3 THEN 0.5 ELSE 1.0 END *
             (0.4 * LEAST(stopword_ratio * 4, 1.0)
              + 0.4 * alpha_ratio
              + 0.2 * LEAST(n_tokens / 100.0, 1.0))) * 1000000.0, 0) / 1000000.0 AS quality
FROM ratios
"""
register("text_quality_score", q_text_quality, ORACLE_QUALITY)


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), TX.detect_language().alias("detected_lang")
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang in sorted(TX.LANG_MARKERS):
        pat = r"\b(" + "|".join(TX.LANG_MARKERS[lang]) + r")\b"
        score_cols.append(f"len(string_split_regex(lower(text), '{pat}')) - 1 AS s_{lang}")
    langs = sorted(TX.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = f"CASE WHEN {best} <= 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH scores AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM documents)
SELECT doc_id, lang AS labeled_lang, {case} AS detected_lang FROM scores
"""


register("text_language_id", q_text_langid, _langid_oracle())


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint().alias("fingerprint"))


ORACLE_FINGERPRINT = """
SELECT doc_id,
       substring(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))), 1, 16)
         AS fingerprint
FROM documents
"""
register("text_fingerprint", q_text_fingerprint, ORACLE_FINGERPRINT)


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (llm/text.pii_features). The synthetic
    corpus is digit-free, so deterministic PII derived from doc_id is
    prepended first — the gate then checks the regex COUNTS and the md5 of
    the fully REDACTED text, so a single mis-replaced character fails."""
    d = _t(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 "),
            F.col("text"),
        ).alias("text"),
    )
    return TX.pii_features(seeded).select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_ssn",
        "n_phone",
        F.substring(F.md5("redacted"), 1, 16).alias("redacted_fp"),
    )


def _pii_oracle() -> str:
    p = TX.PII_PATTERNS  # single source of truth for the patterns
    redacted = "text"
    for kind in p:
        redacted = f"regexp_replace({redacted}, '{p[kind]}', '<{kind.upper()}>', 'g')"
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{p[k]}')) AS n_{k}" for k in p
    )
    return f"""
WITH seeded AS (
  SELECT doc_id,
         'user' || CAST(doc_id AS VARCHAR) || '@example.com call 555-' ||
         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789 ' ||
         text AS text
  FROM documents)
SELECT doc_id,
       {counts},
       substring(md5({redacted}), 1, 16) AS redacted_fp
FROM seeded
"""


register("text_pii_scrub", q_text_pii_scrub, _pii_oracle())


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (llm/text.repetition_stats):
    top-2-gram occurrence fraction and duplicate-5-gram fraction per doc."""
    d = _t(spark, sf_dir, "documents")
    return TX.repetition_stats(d)


ORACLE_REPETITION = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
  FROM documents),
g2 AS (
  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
           THEN list_transform(range(len(t) - 1), i -> array_to_string(t[i+1:i+2], ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM t),
g5 AS (
  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
           THEN list_transform(range(len(t) - 4), i -> array_to_string(t[i+1:i+5], ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM t),
c2 AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total
       FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
c5 AS (SELECT doc_id, COUNT(*) AS n_distinct, SUM(c) AS total
       FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g5 GROUP BY 1, 2) GROUP BY 1)
SELECT d.doc_id,
       COALESCE(CAST((CAST(c2.top_c AS HUGEINT) * 1000000 * 2 + CAST(c2.total AS HUGEINT)) // (CAST(c2.total AS HUGEINT) * 2) AS DOUBLE) / 1000000.0, 0.0) AS top_2gram_frac,
       COALESCE(CAST((CAST(c5.total - c5.n_distinct AS HUGEINT) * 1000000 * 2 + CAST(c5.total AS HUGEINT)) // (CAST(c5.total AS HUGEINT) * 2) AS DOUBLE) / 1000000.0, 0.0) AS dup_5gram_frac
FROM documents d
LEFT JOIN c2 ON d.doc_id = c2.doc_id
LEFT JOIN c5 ON d.doc_id = c5.doc_id
"""
register("text_repetition_stats", q_text_repetition, ORACLE_REPETITION)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.exact_dedup(d)


ORACLE_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
       MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""
register("dedup_exact", q_dedup_exact, ORACLE_DEDUP_EXACT)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, n=3, threshold=0.35)


_SHINGLES_SQL = r"""
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
           ELSE [array_to_string(t, ' ')] END) AS shingles
  FROM (SELECT doc_id,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
        FROM documents)
"""

ORACLE_NGRAM_JACCARD = f"""
WITH sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS jaccard
FROM inter WHERE CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= 0.35
"""
register("dedup_ngram_jaccard", q_ngram_jaccard, ORACLE_NGRAM_JACCARD)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, num_hashes=16, bands=4, n=3, threshold=0.3)


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.3) -> str:
    rows = num_hashes // bands
    prime = D.MINHASH_PRIME
    sig_items = ", ".join(
        f"list_aggregate(list_transform(hashed, h -> (h * {a} + {b}) % {prime}), 'min')"
        for a, b in D.minhash_params(num_hashes)
    )
    band_structs = ", ".join(
        f"struct_pack(band := {bi}, "
        f"band_key := array_to_string(sig[{bi * rows + 1}:{bi * rows + rows}], '|'))"
        for bi in range(bands)
    )
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
hashed_t AS (
  SELECT doc_id, shingles,
         list_transform(shingles,
           s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)) AS hashed
  FROM sh),
sig AS (SELECT doc_id, shingles, [{sig_items}] AS sig FROM hashed_t),
banded AS (
  SELECT doc_id, shingles, UNNEST([{band_structs}], recursive := true) FROM sig
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         x.shingles AS sh_a, y.shingles AS sh_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
),
verified AS (
  SELECT id_a, id_b,
         len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS n_inter,
         len(sh_a) + len(sh_b) - len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS n_union
  FROM cand
)
SELECT id_a, id_b, CAST((CAST(n_inter AS HUGEINT) * 1000000 * 2 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS jaccard
FROM verified WHERE CAST((CAST(n_inter AS HUGEINT) * 1000000 * 2 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= {threshold}
"""


register("dedup_minhash_lsh", q_minhash_lsh, _minhash_oracle())


def q_sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.brute_force_topk(e, queries, k=10)


ORACLE_SIM_BRUTE = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
           AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= 10
"""
register("sim_bruteforce_topk", q_sim_bruteforce, ORACLE_SIM_BRUTE)


def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.lsh_topk(e, queries, k=10, n_planes=6)


def _sim_lsh_oracle(n_planes: int = 6, seed: int = 7, dim: int = 64, k: int = 10) -> str:
    planes = SIM._hyperplanes(dim, n_planes, seed)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in p)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bucketed AS (SELECT vec_id, v, {bucket_terms} AS bucket FROM vecs),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.qv, c.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM q JOIN bucketed c USING (bucket) WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= {k}
"""


register("sim_lsh_topk", q_sim_lsh, _sim_lsh_oracle())


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_dups(e, threshold=0.2, n_planes=4)


def _embedding_neardup_oracle(threshold: float = 0.2, n_planes: int = 4, seed: int = 7, dim: int = 64) -> str:
    planes = SIM._hyperplanes(dim, n_planes, seed)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in p)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bucketed AS (SELECT vec_id, v, {bucket_terms} AS bucket FROM vecs),
pairs AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         ROUND(list_dot_product(x.v, y.v)
           / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
  FROM bucketed x JOIN bucketed y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {threshold}
"""


register("dedup_embedding_cosine", q_embedding_neardup, _embedding_neardup_oracle())


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return D.simhash_near_dups(d, max_hamming=3, band_bits=16)


def _simhash_oracle(max_hamming: int = 3) -> str:
    """DuckDB reproduction of the 64-bit simhash: per-token md5 (first 8
    bytes, big-endian = first 16 hex chars), bit-majority accumulation,
    band-bucket candidate join, popcount verification. Docs with no tokens
    get signature 0 (they band together), matching the UDF."""
    return f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
  FROM documents),
toks AS (
  SELECT doc_id, unnest(string_split_regex(nt, '\\s+')) AS tok
  FROM norm WHERE nt <> ''),
th AS (SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 16) AS UBIGINT) AS h FROM toks),
bits AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS bit) b
  GROUP BY doc_id, b.bit),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN CAST(CAST(1 AS UBIGINT) << bit AS HUGEINT)
                  ELSE 0 END) AS hsig
  FROM bits GROUP BY doc_id),
sigall AS (
  SELECT d.doc_id, CAST(COALESCE(s.hsig, 0) AS UBIGINT) AS ush
  FROM documents d LEFT JOIN sig s USING (doc_id)),
banded AS (
  SELECT doc_id, ush, b.band, CAST((ush >> (b.band * 16)) & 65535 AS BIGINT) AS band_key
  FROM sigall CROSS JOIN (SELECT unnest(range(4)) AS band) b),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.ush AS ua, y.ush AS ub
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(ua, ub)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ua, ub)) <= {max_hamming}
"""


register("dedup_simhash", q_simhash, _simhash_oracle())


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the DRIVER GATE: binary payload column →
    Arrow-batched mapInPandas feature extraction (deterministic fake decode
    kernel — the real decoder is a stubbed import, aos_spark/llm/multimodal.py).
    The oracle reproduces the fake kernel (md5-derived features), proving the
    batch plumbing end-to-end, not just in unit tests."""
    from aos_spark.llm import multimodal as MM

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("image/fake").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("double").alias("duration_s"),
    )
    return MM.extract_image_features(media, fake=True)


ORACLE_MULTIMODAL = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
       CAST('0x' || substring(md5(COALESCE(text, '')), 1, 2) AS INT) / 255.0 AS mean_luma,
       substring(md5(COALESCE(text, '')), 1, 16) AS phash
FROM documents
"""
register("multimodal_image_features", q_multimodal_features, ORACLE_MULTIMODAL)


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (rows below 20% of their
    group's average), planned as an aggregate + self-join re-use of the
    fact table; the subquery decorrelation path in Catalyst."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        (F.avg(F.col("l_quantity").cast("decimal(18,2)")) * 0.2)
        .cast("double")
        .alias("qty_cut")
    )
    out = (
        li.join(avg_qty, li.l_partkey == avg_qty.p_key)
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) / 7.0)
            .cast("double")
            .alias("avg_yearly")
        )
    )
    return out.select(F.round("avg_yearly", 4).alias("avg_yearly"))


ORACLE_Q17 = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) / 7.0 AS DOUBLE), 4) AS avg_yearly
FROM lineitem l
WHERE l_quantity < (
  SELECT CAST(AVG(CAST(l_quantity AS DECIMAL(18,2))) * 0.2 AS DOUBLE)
  FROM lineitem WHERE l_partkey = l.l_partkey
)
"""
register("q17_small_quantity_revenue", q_small_quantity_revenue, ORACLE_Q17)


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token count (letter/digit/punct runs) next to the
    whitespace count — the LLM token-budget proxy."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("ws_tokens"),
        TX.bpe_ish_token_count("text").alias("bpe_tokens"),
    )


ORACLE_BPE_TOKENS = rf"""
SELECT doc_id,
       CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS ws_tokens,
       CAST(COALESCE(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')), 0) AS INT) AS bpe_tokens
FROM documents
"""
register("text_bpe_tokens", q_bpe_tokens, ORACLE_BPE_TOKENS)


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint over token
    hashes (vs the md5 content fingerprint, which is order-insensitive to
    nothing but formatting)."""
    d = _t(spark, sf_dir, "documents")
    toks = D.ensure_min_partitions(d).select(
        "doc_id", D.tokens().alias("__tokens")
    )
    hashed = toks.select(
        "doc_id", F.transform("__tokens", D.shingle_hash).alias("__hashed")
    )
    return hashed.select(
        "doc_id", TX.rolling_fingerprint(F.col("__hashed")).alias("rolling_fp")
    )


ORACLE_ROLLING_FP = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents),
hashed AS (
  SELECT doc_id,
         list_transform(t, s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)) AS h
  FROM toks)
SELECT doc_id,
       CASE WHEN len(h) = 0 THEN 0
            ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), h),
                             (acc, x) -> (acc * {TX.ROLLING_BASE} + x) % {TX.ROLLING_PRIME})
       END AS rolling_fp
FROM hashed
"""
register("text_rolling_fingerprint", q_rolling_fingerprint, ORACLE_ROLLING_FP)


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: corpus pre-assigned to inverted lists (nearest of k
    deterministic centroids), queries probe nprobe lists. The third ANN
    tier next to brute force (exact) and hyperplane LSH."""
    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk(e, queries, k=10, n_centroids=8, nprobe=2)


ORACLE_SIM_IVF = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS vnorm
  FROM embeddings),
cents AS (
  SELECT vec_id AS centroid_id, v AS cvec, vnorm AS cnorm
  FROM vecs ORDER BY vec_id LIMIT 8),
assign AS (
  SELECT vec_id, v, vnorm, centroid_id FROM (
    SELECT x.vec_id, x.v, x.vnorm, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.cvec) / (x.vnorm * c.cnorm) DESC,
                      c.centroid_id) AS rn
    FROM vecs x CROSS JOIN cents c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, vnorm AS qn FROM vecs WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, qn, centroid_id FROM (
    SELECT q.query_id, q.qv, q.qn, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, c.cvec) / (q.qn * c.cnorm) DESC,
                      c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_dot_product(p.qv, a.v) / (p.qn * a.vnorm) AS cosine
  FROM assign a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored QUALIFY rank <= 10
"""
register("sim_ivf_topk", q_sim_ivf, ORACLE_SIM_IVF)


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
    c = _t(spark, sf_dir, "customer")
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
    hits = jobs.member_hits(_t(spark, sf_dir, "events"))
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
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
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
    ev = _t(spark, sf_dir, "events")
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
  SELECT user_id, CAST(ts AS DATE) AS day, {_dsum_sql('value')} AS day_value
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
    li = _t(spark, sf_dir, "lineitem").select(
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
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


ORACLE_VALUE_COUNTS = """
SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority
"""
register("a14_value_counts", q_value_counts, ORACLE_VALUE_COUNTS)


def q_first_landfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: first qualifying row per member — the landfall scan
    (reports.py:283-293): first event with value above threshold, by time."""
    ev = _t(spark, sf_dir, "events")
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
    ev = _t(spark, sf_dir, "events")
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
    from aos_spark.io import raster

    r = _t(spark, sf_dir, "region").select(F.col("r_regionkey").cast("int").alias("rid"))
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


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected-component clusters (llm/dedup.dup_clusters):
    the end-to-end "which docs are the same group" resolution over the
    n-gram Jaccard pair generator. Iterative min-label propagation on the
    Spark side; the oracle computes the same closure with a recursive CTE."""
    d = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.35)
    return D.dup_clusters(pairs)


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2, 3, 4
),
pairs AS (
  SELECT id_a, id_b FROM inter
  WHERE CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= 0.35
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
"""
register("dedup_clusters", q_dedup_clusters, ORACLE_DEDUP_CLUSTERS)


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (llm/sampling): per
    (split, lang) doc counts and char totals. Assignment is a pure function
    of doc_id, so the same rows land in the same split in any engine."""
    from aos_spark.llm import sampling

    d = _t(spark, sf_dir, "documents")
    out = sampling.deterministic_split(d, "doc_id")
    return out.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


ORACLE_SAMPLE_SPLIT = """
WITH b AS (
  SELECT lang, n_chars,
         CAST('0x' || substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1, 2
"""
register("sample_split_stats", q_sample_split, ORACLE_SAMPLE_SPLIT)


def q_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → LEFT SEMI join with an extra
    non-equi predicate (late-shipping lineitems), then a count per
    priority. Exercises Catalyst's semi-join planning: the equi key drives
    a hash semi-join, the date inequality rides along as a join condition —
    no subquery materialization. (The synthetic lineitem lacks
    commit/receipt dates, so "late" = shipped >70 days after order date.)"""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 70 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORACLE_PRIORITY_SEMIJOIN = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 70 DAY)
GROUP BY o_orderpriority
"""
register("q4_priority_semijoin", q_priority_semijoin, ORACLE_PRIORITY_SEMIJOIN)


def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-subquery HAVING (orders whose total
    quantity exceeds a threshold) joined back to orders + a broadcast
    customer dim. The heavy agg runs ONCE over lineitem and its survivors
    drive the join — no correlated re-aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


ORACLE_LARGE_VOLUME = f"""
WITH big AS (
  SELECT l_orderkey, {_dsum_sql('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {_dsum_sql('l_quantity')} > 250.0
)
SELECT c_name, o_orderkey, o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
"""
register("q18_large_volume_orders", q_large_volume_orders, ORACLE_LARGE_VOLUME)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (ops/asof): every event matched to the user's most recent
    at-or-before 'purchase' signal. Spark side is the union-and-carry
    formulation (one key shuffle, linear — no per-key range blowup); the
    oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the gate checks our
    composition against a first-class engine implementation of the same
    semantics."""
    from aos_spark.ops import asof

    ev = _t(spark, sf_dir, "events")
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
    from aos_spark.ops import intervals

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    n = _t(spark, sf_dir, "nation").select(
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
       {_dsum_sql('value', 6)} AS sum_value
FROM nation JOIN events
  ON value >= n_nationkey * 7.0 AND value <= n_nationkey * 7.0 + 20.0
GROUP BY 1
"""
register("range_join_events", q_range_join, ORACLE_RANGE_JOIN)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus report composing the text tier: doc counts,
    whitespace + BPE-ish token totals, decimal-exact mean quality, and the
    high-quality share — the summary a curation pipeline emits per corpus
    snapshot. One partial-agg'd groupBy over a single codegen'd scan."""
    d = _t(spark, sf_dir, "documents")
    scored = (
        TX.quality_features(d)
        .withColumn("quality", TX.quality_score())
        .withColumn("bpe", TX.bpe_ish_token_count())
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("bpe").cast("bigint").alias("total_bpe_tokens"),
        round_ratio6_micro(
            F.sum(F.col("quality").cast("decimal(18,6)")) * 1_000_000,
            F.count(F.lit(1)),
        ).alias("mean_quality"),
        F.sum(F.when(F.col("quality") >= 0.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_high_quality"),
    )


ORACLE_CORPUS_STATS = rf"""
WITH feats AS (
  SELECT doc_id, lang,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^.,;:!?''"()\[\]]', '', 'g')) AS n_punct,
         CAST(CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
         -- greatest/coalesce: NULL text must read 0 hits, mirroring
         -- marker_hits' r9 guard (non-null text always yields len >= 1)
         GREATEST(COALESCE(len(string_split_regex(lower(text), '\b(and|is|of|the|to)\b')) - 1, 0), 0) AS stop_hits,
         COALESCE(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')), 0) AS bpe
  FROM documents
),
ratios AS (
  SELECT lang, n_tokens, bpe,
         CAST((CAST(n_alpha AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_chars, 1) AS HUGEINT)) // (CAST(GREATEST(n_chars, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS alpha_ratio,
         CAST((CAST(n_punct AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_chars, 1) AS HUGEINT)) // (CAST(GREATEST(n_chars, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS punct_ratio,
         CAST((CAST(stop_hits AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_tokens, 1) AS HUGEINT)) // (CAST(GREATEST(n_tokens, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS stopword_ratio
  FROM feats
),
scored AS (
  SELECT lang, n_tokens, bpe,
         ROUND((CASE WHEN punct_ratio > 0.3 THEN 0.5 ELSE 1.0 END *
               (0.4 * LEAST(stopword_ratio * 4, 1.0)
                + 0.4 * alpha_ratio
                + 0.2 * LEAST(n_tokens / 100.0, 1.0))) * 1000000.0, 0) / 1000000.0 AS quality
  FROM ratios
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens,
       CAST((CAST(SUM(CAST(quality AS DECIMAL(18,6))) * 1000000 AS HUGEINT) * 2 + CAST(COUNT(*) AS HUGEINT)) // (CAST(COUNT(*) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS mean_quality,
       CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high_quality
FROM scored GROUP BY lang
"""
register("corpus_language_stats", q_corpus_stats, ORACLE_CORPUS_STATS)


def q_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (ops/sketches): build the d×w=4×64 sketch over
    event_type in one map-combined shuffle, then estimate each distinct
    key's frequency (min over its d counters). Deterministic md5 hashing
    makes the whole sketch reproducible in the oracle — the gate checks
    counter-for-counter equality of a probabilistic data structure."""
    from aos_spark.ops import sketches

    ev = _t(spark, sf_dir, "events")
    sk = sketches.cms_build(ev, "event_type")
    keys = ev.select("event_type").distinct()
    return sketches.cms_estimate(sk, keys, "event_type")


ORACLE_CMS = """
WITH ex AS (
  SELECT event_type AS key, CAST(g AS INT) AS hrow
  FROM events, generate_series(0, 3) t(g)
),
sketch AS (
  SELECT hrow,
         CAST('0x' || substring(md5(CAST(hrow AS VARCHAR) || ':' || key), 1, 8) AS BIGINT)
           % 64 AS bucket,
         COUNT(*) AS counter
  FROM ex GROUP BY 1, 2
),
pr AS (
  SELECT key, CAST(g AS INT) AS hrow,
         CAST('0x' || substring(md5(CAST(g AS VARCHAR) || ':' || key), 1, 8) AS BIGINT)
           % 64 AS bucket
  FROM (SELECT DISTINCT event_type AS key FROM events), generate_series(0, 3) t(g)
)
SELECT key AS event_type,
       CAST(MIN(COALESCE(counter, 0)) AS BIGINT) AS est_count
FROM pr LEFT JOIN sketch USING (hrow, bucket)
GROUP BY 1
"""
register("sketch_cms_estimate", q_cms_estimate, ORACLE_CMS)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc (llm/text.top_terms_tfidf) —
    tf·idf with the rational BM25-style idf so scores are exact cross-
    engine; broadcast vocabulary join, per-doc (never global) window."""
    d = _t(spark, sf_dir, "documents")
    return TX.top_terms_tfidf(d, k=3)


ORACLE_TFIDF = r"""
WITH t AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS term
  FROM documents),
terms AS (SELECT doc_id, term FROM t WHERE term IS NOT NULL AND term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         -- tf·((N−df+0.5)/(df+0.5)) as the IDENTICAL fixed double
         -- sequence top_terms_tfidf runs, then the certified
         -- scaled-round (r10: replaces the r9 integral-division form —
         -- same cross-engine guarantee, double-speed per corpus row)
         ROUND((CAST(tf AS DOUBLE) * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))) * 1000000.0, 0) / 1000000.0 AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank
  FROM scored)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""
register("tfidf_top_terms", q_tfidf_top_terms, ORACLE_TFIDF)


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (llm/packing.pack_into_chunks): documents →
    fixed-capacity training chunks in 8 parallel hash shards; windows are
    partitioned by shard, never global. All-integer arithmetic — the
    oracle reproduces the exact layout."""
    from aos_spark.llm import packing

    d = _t(spark, sf_dir, "documents")
    return packing.pack_into_chunks(d, capacity=512, n_shards=8)


def _pack_oracle(capacity: int = 512, n_shards: int = 8) -> str:
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')) AS BIGINT) AS n_tokens,
         CAST('0x' || substring(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % {n_shards} AS shard
  FROM documents),
off AS (
  SELECT doc_id, n_tokens, shard,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_tokens AS BIGINT) AS tok_start,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS tok_end
  FROM base)
SELECT doc_id, n_tokens, shard,
       CAST(tok_start // {capacity} AS BIGINT) AS chunk_in_shard,
       tok_start, tok_end
FROM off
"""


register("pack_context_chunks", q_pack_chunks, _pack_oracle())


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct estimate (ops/sketches.hll_*) over
    lineitem.l_orderkey, registers + estimate checked against the oracle
    bit-for-bit (md5 hashing, integer-CASE ρ, shift-based 2^−M — no
    transcendental in the fired branch: l_orderkey cardinality fills all
    64 registers, so v_zero = 0 and the ln correction is dormant).
    Calibration against the exact count lives in tests/test_sketches.py —
    NOT here: at scale the exact count is the scan the sketch exists to
    avoid, so the measured path is sketch-only (VERDICT r3 #5)."""
    from aos_spark.ops import sketches

    li = _t(spark, sf_dir, "lineitem")
    return sketches.hll_estimate(li, "l_orderkey")


def _hll_oracle(p: int = 6) -> str:
    from aos_spark.ops import sketches

    m, q = 1 << p, 32 - p
    rho = sketches.rho_case_sql("w", q)  # same CASE text as the Spark plan
    alpha = 0.7213 / (1 + 1.079 / m)
    _TWO32 = float(1 << 32)  # large-range correction domain (32-bit hash)
    return f"""
WITH h AS (
  SELECT CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 8) AS BIGINT) AS h
  FROM lineitem),
words AS (SELECT h >> {q} AS register, h & {(1 << q) - 1} AS w FROM h),
regs AS (SELECT register, MAX({rho}) AS max_rho FROM words GROUP BY 1),
agg AS (
  SELECT SUM(1.0 / CAST(1 << max_rho AS DOUBLE)) AS present_inv,
         COUNT(*) AS n_present
  FROM regs),
est AS (
  SELECT {m} - n_present AS v_zero,
         CAST({alpha!r} AS DOUBLE) * {m} * {m}
           / (present_inv + CAST({m} - n_present AS DOUBLE)) AS raw
  FROM agg)
SELECT {m} AS m, v_zero, ROUND(raw, 6) AS raw_estimate,
       ROUND(CASE WHEN raw <= CAST({2.5 * m!r} AS DOUBLE) AND v_zero > 0
                  THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / v_zero)
                  WHEN raw > CAST({_TWO32 / 30.0!r} AS DOUBLE)
                       AND raw < CAST({_TWO32!r} AS DOUBLE)
                  THEN -CAST({_TWO32!r} AS DOUBLE)
                       * ln(1.0 - raw / CAST({_TWO32!r} AS DOUBLE))
                  ELSE raw END, 6) AS estimate
FROM est
"""


register("sketch_hll_distinct", q_hll_distinct, _hll_oracle())


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (llm/dedup.cross_contamination_pairs):
    split the corpus by the deterministic hash bucket (train = the large
    side, held-out = the small side), then find held-out docs leaking into
    train via the banded-LSH cross join. The held-out banded frame
    broadcasts; the training corpus never shuffles."""
    from aos_spark.llm import sampling

    d = _t(spark, sf_dir, "documents")
    b = sampling.hash_bucket("doc_id", 100, "split")
    corpus = d.filter(b < 80)
    heldout = d.filter(b >= 80)
    return D.cross_contamination_pairs(corpus, heldout, threshold=0.3)


def _contamination_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.3) -> str:
    rows = num_hashes // bands
    prime = D.MINHASH_PRIME
    sig_items = ", ".join(
        f"list_aggregate(list_transform(hashed, h -> (h * {a} + {b}) % {prime}), 'min')"
        for a, b in D.minhash_params(num_hashes)
    )
    band_structs = ", ".join(
        f"struct_pack(band := {bi}, "
        f"band_key := array_to_string(sig[{bi * rows + 1}:{bi * rows + rows}], '|'))"
        for bi in range(bands)
    )
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
split AS (
  SELECT doc_id,
         CAST('0x' || substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS bucket
  FROM documents
),
hashed_t AS (
  SELECT doc_id, shingles,
         list_transform(shingles,
           s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)) AS hashed
  FROM sh),
sig AS (SELECT doc_id, shingles, [{sig_items}] AS sig FROM hashed_t),
banded AS (
  SELECT doc_id, shingles, UNNEST([{band_structs}], recursive := true) FROM sig
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         x.shingles AS sh_a, y.shingles AS sh_b
  FROM banded x
  JOIN split sx ON x.doc_id = sx.doc_id AND sx.bucket < 80
  JOIN banded y ON x.band = y.band AND x.band_key = y.band_key
  JOIN split sy ON y.doc_id = sy.doc_id AND sy.bucket >= 80
),
verified AS (
  SELECT id_a, id_b,
         len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS n_inter,
         len(sh_a) + len(sh_b) - len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS n_union
  FROM cand
)
SELECT id_a, id_b, CAST((CAST(n_inter AS HUGEINT) * 1000000 * 2 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS jaccard
FROM verified WHERE CAST((CAST(n_inter AS HUGEINT) * 1000000 * 2 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= {threshold}
"""


register("decontamination_pairs", q_contamination, _contamination_oracle())


# --------------------------------------------------------------------------
# Round 3: relational-surface breadth (cube/pivot/unpivot/rolling/rank/
# histogram/set-ops), the streaming batch face (tumbling windows), and two
# training-pipeline ops (corpus length percentiles, int8 embedding
# quantization). Each is a single declarative plan — Catalyst picks
# partial-agg + single-shuffle physical shapes; no Python in any hot path.
# --------------------------------------------------------------------------


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status): all 4 grouping combinations in ONE
    pass (one shuffle; Spark expands grouping sets map-side exactly like
    the reference's repeated pandas groupbys collapsed into one plan).
    grouping_id disambiguates subtotal rows from genuine NULL keys."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


ORACLE_CUBE = f"""
SELECT o_orderpriority, o_orderstatus,
       CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
       COUNT(*) AS n_orders,
       {_dsum_sql('o_totalprice')} AS revenue
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""
register("cube_order_stats", q_cube_order_stats, ORACLE_CUBE)


def q_pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot: revenue per priority × order-status. The pivot values
    are declared explicitly, so Spark skips the extra distinct-values job
    and the plan is a single partial-agg + final-agg pair — at 100 TB the
    pivot is exactly as cheap as the equivalent groupBy."""
    o = _t(spark, sf_dir, "orders")
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
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
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


def q_rolling_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer rolling 4-order spend (ROWS BETWEEN 3 PRECEDING AND
    CURRENT ROW) — partitioned window, decimal accumulation so the moving
    sum is independent of partitioning. The (date, orderkey) sort key is
    unique per customer, so the frame is deterministic."""
    o = _t(spark, sf_dir, "orders")
    ord_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    roll = ord_w.rowsBetween(-3, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(ord_w).cast("int").alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(roll)
        .cast("double")
        .alias("rolling_spend_4"),
        F.count(F.lit(1)).over(roll).cast("int").alias("window_n"),
    )


ORACLE_ROLLING = """
SELECT o_custkey, o_orderkey,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS order_seq,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_spend_4,
       CAST(COUNT(*) OVER (
              PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS INTEGER) AS window_n
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""
register("rolling_customer_spend", q_rolling_customer_spend, ORACLE_ROLLING)


def q_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile/percent-rank/cume-dist assignment per priority class —
    partitioned ranking windows with a unique (price, orderkey) sort key,
    so peer groups are singletons and every rank function is exact and
    identical across engines (percent_rank's division is one IEEE754 op)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


ORACLE_RANK_DIST = """
SELECT o_orderpriority, o_orderkey,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""
register("rank_distribution", q_rank_distribution, ORACLE_RANK_DIST)


def q_histogram_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (width 5) of l_quantity with per-bucket
    revenue — floor-divide bucketing is pure integer-exact arithmetic
    (no transcendental), one hash aggregation, map-side combine."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / F.lit(5.0)).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("bucket_revenue"),
        )
        .withColumn("lo", (F.col("bucket") * 5).cast("double"))
        .withColumn("hi", ((F.col("bucket") + 1) * 5).cast("double"))
    )


ORACLE_HISTOGRAM = f"""
SELECT CAST(FLOOR(l_quantity / 5.0) AS BIGINT) AS bucket,
       COUNT(*) AS n_items,
       {_dsum_sql('l_extendedprice')} AS bucket_revenue,
       CAST(CAST(FLOOR(l_quantity / 5.0) AS BIGINT) * 5 AS DOUBLE) AS lo,
       CAST((CAST(FLOOR(l_quantity / 5.0) AS BIGINT) + 1) * 5 AS DOUBLE) AS hi
FROM lineitem GROUP BY 1
"""
register("histogram_quantity", q_histogram_quantity, ORACLE_HISTOGRAM)


def q_tumbling_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event windows per type — the BATCH face of the
    Structured-Streaming job (streaming/jobs.windowed_member_counts runs
    the same F.window aggregation over readStream with a watermark;
    epoch-aligned tumbling windows ≡ date_trunc('hour'))."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 6).alias("sum_value"),
    )
    return g.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
    )


ORACLE_TUMBLING = f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       {_dsum_sql('value', 6)} AS sum_value
FROM events GROUP BY 1, 2
"""
register("tumbling_event_windows", q_tumbling_event_windows, ORACLE_TUMBLING)


def q_set_ops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segmentation via set algebra: INTERSECT (placed urgent AND
    fulfilled orders) and EXCEPT (urgent only). Both compile to a single
    hash-partitioned distinct + join — no driver-side sets."""
    o = _t(spark, sf_dir, "orders")
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


def q_corpus_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quartiles with PERCENTILE_DISC
    semantics (smallest value whose cume_dist ≥ p) — built from a
    partitioned cume_dist window + conditional min, so the selected value
    is an actual corpus element (integer — bit-exact cross-engine, unlike
    interpolated quantiles). The shape every corpus-curation cut
    (length filtering) needs before choosing thresholds."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    cd = d.select("lang", "n_chars", F.cume_dist().over(w).alias("cd"))
    return cd.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.when(F.col("cd") >= 0.25, F.col("n_chars"))).alias("p25_chars"),
        F.min(F.when(F.col("cd") >= 0.50, F.col("n_chars"))).alias("p50_chars"),
        F.min(F.when(F.col("cd") >= 0.75, F.col("n_chars"))).alias("p75_chars"),
        F.max("n_chars").alias("max_chars"),
    )


ORACLE_LENGTH_PCTL = """
WITH cd AS (
  SELECT lang, n_chars,
         CUME_DIST() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS cd
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       MIN(n_chars) FILTER (WHERE cd >= 0.25) AS p25_chars,
       MIN(n_chars) FILTER (WHERE cd >= 0.50) AS p50_chars,
       MIN(n_chars) FILTER (WHERE cd >= 0.75) AS p75_chars,
       MAX(n_chars) AS max_chars
FROM cd GROUP BY lang
"""
register("corpus_length_percentiles", q_corpus_length_percentiles, ORACLE_LENGTH_PCTL)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — per-vector
    scale 127/max|x|, floor-clamped components. All-arithmetic (float→
    double promotion, one division, floor) so the quantized vectors are
    bit-identical cross-engine; at scale this is the storage/ANN-probe
    compression step and runs as one whole-stage-codegen projection.
    maxabs is materialized as a column BEFORE the transform lambda
    (Catalyst does not CSE across higher-order-function boundaries).
    The quantized vector is emitted as a comma-joined string — the
    driver's pandas canonicalizer can't hash LIST cells (r4 verdict);
    the array form stays under test in tests/test_relational_ops.py."""
    e = _t(spark, sf_dir, "embeddings")
    df = e.withColumn(
        "maxabs",
        F.array_max(F.transform("embedding", lambda x: F.abs(x))).cast("double"),
    ).withColumn(
        "scale",
        F.when(F.col("maxabs") > 0, F.lit(127.0) / F.col("maxabs")).otherwise(
            F.lit(0.0)
        ),
    )
    q8 = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127), F.floor(x.cast("double") * F.col("scale")).cast("int")
            ),
        ),
    )
    return df.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform(q8, lambda v: v.cast("string")), ","
        ).alias("q_int8"),
    )


ORACLE_QUANTIZE = """
WITH m AS (
  SELECT vec_id, embedding,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS maxabs
  FROM embeddings),
s AS (
  SELECT vec_id, embedding,
         CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale
  FROM m)
SELECT vec_id, scale,
       array_to_string(list_transform(embedding,
         x -> CAST(GREATEST(-127, LEAST(127,
                CAST(FLOOR(CAST(x AS DOUBLE) * scale) AS INTEGER))) AS VARCHAR)),
         ',') AS q_int8
FROM s
"""
register("embedding_quantize", q_embedding_quantize, ORACLE_QUANTIZE)


def q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (the hypertable-resample shape): build the
    dense hourly spine per event type with sequence()+explode — generated
    distributed, never on the driver — left-join the hourly rollup onto
    it, and forward-fill through gaps with a partitioned
    last-ignore-nulls window. Missing hours report 0 events and carry the
    previous hour's value."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 6).alias("sum_value"))
        .select(F.col("w.start").alias("h"), "event_type", "n_events", "sum_value")
    )
    bounds = ev.agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("h0"),
        F.max(F.date_trunc("hour", F.col("ts"))).alias("h1"),
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    filled = spine.join(hourly, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        "event_type",
        F.col("h").alias("window_start"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.last(F.col("sum_value"), True).over(w).alias("ffill_sum_value"),
    )


ORACLE_GAPFILL = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n_events,
         {_dsum_sql('value', 6)} AS sum_value
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT MIN(date_trunc('hour', ts)) AS h0, MAX(date_trunc('hour', ts)) AS h1
  FROM events),
spine AS (
  SELECT t.event_type, UNNEST(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h
  FROM (SELECT DISTINCT event_type FROM events) t, bounds b)
SELECT event_type, h AS window_start,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(sum_value, 0.0) AS sum_value,
       LAST_VALUE(sum_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_sum_value
FROM spine LEFT JOIN hourly USING (event_type, h)
"""
register("gapfill_hourly_events", q_gapfill_hourly, ORACLE_GAPFILL)


def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (PERCENTILE_CONT) p50/p90 of l_quantity per return
    flag WITHOUT sorting to the driver — and (r16, guide §2.5) without
    the group-partitioned rank window the historical form used, whose
    per-group sort put each flag's full row set on ONE task (a
    guaranteed straggler for 3 groups over a 100 TB fact).

    l_quantity is integer-valued in [1, 50], so the corpus collapses to
    a per-(flag, value) HISTOGRAM first (one map-combined shuffle,
    ≤ 50 rows per flag); cumulative counts over the bounded histogram
    locate the two bracketing ranks — the value at rank r is the
    histogram row with cum−cnt < r ≤ cum, identical to the row_number
    form for ANY tie order because rank-r VALUES are tiebreak-
    insensitive. The index arithmetic p·(n−1) and the interpolation
    v_lo + frac·(v_hi − v_lo) are the same single IEEE754 ops as
    before, so the result stays bit-identical cross-engine (unlike
    engine-native quantile implementations, whose tie/rounding
    conventions differ)."""
    li = _t(spark, sf_dir, "lineitem")
    h = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("__c")
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cw = Window.partitionBy("l_returnflag")
    d = (
        h.withColumn("cum", F.sum("__c").over(wcum))
        .withColumn("n", F.sum("__c").over(cw))
        .withColumn("cb", F.col("cum") - F.col("__c"))
    )
    aggs = [F.min("n").alias("n_items")]
    post = []
    for tag, p in (("p50", 0.5), ("p90", 0.9)):
        idx = F.lit(p) * (F.col("n") - 1).cast("double")
        lo = F.floor(idx).cast("bigint") + 1  # 1-based rank
        hi = F.least(lo + 1, F.col("n"))
        aggs.append(
            F.min(
                F.when(
                    (F.col("cb") < lo) & (lo <= F.col("cum")),
                    F.col("l_quantity"),
                )
            ).alias(f"__v_lo_{tag}")
        )
        aggs.append(
            F.min(
                F.when(
                    (F.col("cb") < hi) & (hi <= F.col("cum")),
                    F.col("l_quantity"),
                )
            ).alias(f"__v_hi_{tag}")
        )
        # frac is a function of n alone — constant per group
        idx_n = F.lit(p) * (F.col("n_items") - 1).cast("double")
        post.append(
            (
                F.col(f"__v_lo_{tag}")
                + (idx_n - F.floor(idx_n))
                * (F.col(f"__v_hi_{tag}") - F.col(f"__v_lo_{tag}"))
            ).alias(tag)
        )
    return d.groupBy("l_returnflag").agg(*aggs).select(
        "l_returnflag", "n_items", *post
    )


ORACLE_PCTL_CONT = """
WITH d AS (
  SELECT l_returnflag, l_quantity,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem),
e AS (
  SELECT l_returnflag, l_quantity, rn, n,
         0.5 * CAST(n - 1 AS DOUBLE) AS idx50,
         0.9 * CAST(n - 1 AS DOUBLE) AS idx90
  FROM d)
SELECT l_returnflag, COUNT(*) AS n_items,
       MIN(l_quantity) FILTER (WHERE rn = CAST(FLOOR(idx50) AS BIGINT) + 1)
         + MIN(idx50 - FLOOR(idx50)) FILTER (WHERE rn = CAST(FLOOR(idx50) AS BIGINT) + 1)
           * (MIN(l_quantity) FILTER (WHERE rn = LEAST(CAST(FLOOR(idx50) AS BIGINT) + 2, n))
              - MIN(l_quantity) FILTER (WHERE rn = CAST(FLOOR(idx50) AS BIGINT) + 1)) AS p50,
       MIN(l_quantity) FILTER (WHERE rn = CAST(FLOOR(idx90) AS BIGINT) + 1)
         + MIN(idx90 - FLOOR(idx90)) FILTER (WHERE rn = CAST(FLOOR(idx90) AS BIGINT) + 1)
           * (MIN(l_quantity) FILTER (WHERE rn = LEAST(CAST(FLOOR(idx90) AS BIGINT) + 2, n))
              - MIN(l_quantity) FILTER (WHERE rn = CAST(FLOOR(idx90) AS BIGINT) + 1)) AS p90
FROM e GROUP BY l_returnflag
"""
register("percentile_cont_interp", q_percentile_cont, ORACLE_PCTL_CONT)


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
    d = _t(spark, sf_dir, "documents")
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


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation accounting: per language, how much the exact-dedup
    pass saves — one hash aggregation by content digest (the same
    single-shuffle shape as dedup_exact), then a per-language rollup.
    Integer-only outputs, bit-exact."""
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy("lang", F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("chars"),  # identical text → identical length
    )
    return g.groupBy("lang").agg(
        F.sum("n_copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.col("n_copies") * F.col("chars")).alias("chars_total"),
        F.sum((F.col("n_copies") - 1) * F.col("chars")).alias("chars_removed"),
    )


ORACLE_DEDUP_SAVINGS = """
WITH g AS (
  SELECT lang, md5(text) AS h, COUNT(*) AS n_copies, MIN(n_chars) AS chars
  FROM documents GROUP BY 1, 2)
SELECT lang, CAST(SUM(n_copies) AS BIGINT) AS n_docs, COUNT(*) AS n_unique,
       CAST(SUM(n_copies * chars) AS BIGINT) AS chars_total,
       CAST(SUM((n_copies - 1) * chars) AS BIGINT) AS chars_removed
FROM g GROUP BY lang
"""
register("dedup_storage_savings", q_dedup_savings, ORACLE_DEDUP_SAVINGS)


def q_skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted COUNT(DISTINCT) (ops/skew.salted_distinct_count):
    the hot key's distinct set is split across 16 salt shards so no single
    task owns a whole hot key — the exact-aggregation answer to skew that
    AQE's skew-join handling can't give you for aggregates. Result is
    EXACT (disjoint shards), verified against a plain COUNT(DISTINCT)."""
    from aos_spark.ops import skew

    ev = _t(spark, sf_dir, "events")
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
    o = _t(spark, sf_dir, "orders")
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
    o = _t(spark, sf_dir, "orders")
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


def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the
    distinct-over-window rewrite: windows can't host COUNT(DISTINCT), so
    reduce each (type, user) to its FIRST day (one shuffle), count new
    users per day, and run an ordinary running sum. Linear, partitioned,
    and exact — the form that survives 100 TB where a per-day distinct
    recount is quadratic in history length."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = first.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "event_type", "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


ORACLE_CUM_DISTINCT = """
WITH first AS (
  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
  FROM events GROUP BY 1, 2),
daily AS (
  SELECT event_type, day, COUNT(*) AS new_users FROM first GROUP BY 1, 2)
SELECT event_type, day, new_users,
       CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM daily
"""
register("cumulative_distinct_users", q_cumulative_distinct_users, ORACLE_CUM_DISTINCT)


def q_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact-moment correlation/covariance/stddev
    (ops/stats.grouped_correlation): decimal moment sums make the result
    independent of partitioning AND engine — native corr()/stddev()
    streaming accumulators can't be cross-engine exact. sqrt is IEEE754
    correctly-rounded, so even the derived chain is bit-identical."""
    from aos_spark.llm.dedup import ensure_min_partitions
    from aos_spark.ops import stats

    li = _t(spark, sf_dir, "lineitem")
    # the exact-decimal moment map side is the expensive part of this
    # query and runs at the SCAN's parallelism (3 row-group tasks at
    # sf0.1) — spread it before aggregating (r16, guide §2.5; explains
    # the old 8-core≈32-core scaling). A scaled-int64 rewrite of the
    # DECIMAL(38,12) products was considered (VERDICT r15 #7) and is
    # moot once the map side parallelizes: the query is scan-bound.
    return stats.grouped_correlation(
        ensure_min_partitions(
            li.select("l_returnflag", "l_quantity", "l_extendedprice")
        ),
        ["l_returnflag"],
        "l_quantity",
        "l_extendedprice",
    )


ORACLE_STATS_CORR = """
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_x,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_y,
         CAST(ROUND(SUM(CAST(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6)) AS DECIMAL(38,12))), 0) AS DOUBLE) AS sum_xy,
         CAST(ROUND(SUM(CAST(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6)) AS DECIMAL(38,12))), 0) AS DOUBLE) AS sum_xx,
         CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6)) AS DECIMAL(38,12))), 0) AS DOUBLE) AS sum_yy
  FROM lineitem
  -- pairwise deletion, mirroring moment_aggs (r9): a pair contributes to
  -- all six aggregates or to none
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY l_returnflag)
SELECT l_returnflag, n, sum_x, sum_y, sum_xy, sum_xx, sum_yy,
       CASE WHEN n >= 2 THEN
       ROUND((sum_xy - sum_x * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 6) END AS covar_xy,
       CASE WHEN n >= 2 AND (sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) >= 0 THEN
       ROUND(SQRT((sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6) END AS stddev_x,
       CASE WHEN n >= 2 AND (sum_yy - sum_y * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) >= 0 THEN
       ROUND(SQRT((sum_yy - sum_y * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6) END AS stddev_y,
       CASE WHEN n >= 2 AND (sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
                        AND (sum_yy - sum_y * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0 THEN
       ROUND(((sum_xy - sum_x * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
             / SQRT(((sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
                    * ((sum_yy - sum_y * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))), 6) END AS corr_xy
FROM m
"""
register("stats_correlation", q_stats_correlation, ORACLE_STATS_CORR)


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer — lineitem
    filtered to returns, joined to orders in a date window, rolled up per
    customer, nation attached BROADCAST, top-20 via TakeOrdered (never a
    global window). Decimal revenue so the top-20 cut is deterministic."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("revenue")
        )
    )
    out = (
        rev.join(F.broadcast(c), rev["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "c_custkey", "c_name", "n_name", "c_acctbal", "revenue"
        )
    )
    return out.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


ORACLE_Q10 = """
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(28,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
     JOIN customer ON o_custkey = c_custkey
     JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""
register("q10_returned_item_customers", q_returned_item_customers, ORACLE_Q10)


def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation — per return flag, how many
    lineitems belong to high- vs low-priority orders (CASE inside SUM, one
    join + one map-side-combined aggregate)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(hi.cast("long")).alias("high_line_count"),
            F.sum((~hi).cast("long")).alias("low_line_count"),
        )
    )


ORACLE_Q12 = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""
register("q12_shipmode_priority", q_shipmode_priority, ORACLE_Q12)


def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (llm/packing.sliding_window_chunks): the
    RAG/eval-prep step that turns each document into overlapping token
    windows. Pure per-row fan-out — no shuffle until a consumer
    aggregates; integer span arithmetic is engine-exact."""
    from aos_spark.llm import packing

    d = _t(spark, sf_dir, "documents")
    return packing.sliding_window_chunks(d, window_tokens=64, stride=48)


def _chunk_sliding_oracle(window: int = 64, stride: int = 48) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents),
base AS (
  SELECT doc_id, t, len(t) AS n_tokens,
         CASE WHEN len(t) <= {window} THEN 0
              ELSE CAST(CEIL(CAST(len(t) - {window} AS DOUBLE) / {stride}) AS INT)
         END AS n_starts
  FROM toks),
chunks AS (
  SELECT doc_id, n_tokens, t,
         UNNEST(range(n_starts + 1)) AS chunk_idx
  FROM base)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(chunk_idx * {stride} AS INTEGER) AS tok_start,
       CAST(GREATEST(LEAST({window}, n_tokens - chunk_idx * {stride}), 0) AS INTEGER) AS tok_len,
       array_to_string(t[chunk_idx * {stride} + 1 : chunk_idx * {stride} + LEAST({window}, n_tokens - chunk_idx * {stride})], ' ') AS chunk_text
FROM chunks
WHERE LEAST({window}, n_tokens - chunk_idx * {stride}) > 0 OR n_tokens = 0
"""


register("chunk_sliding_window", q_chunk_sliding, _chunk_sliding_oracle())


def q_decontamination_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 13-gram decontamination (llm/dedup.exact_ngram_contamination)
    over the same deterministic train/held-out split as the fuzzy LSH
    variant — the two tiers a real pretraining pipeline runs together."""
    from aos_spark.llm import sampling

    d = _t(spark, sf_dir, "documents")
    b = sampling.hash_bucket("doc_id", 100, "split")
    corpus = d.filter(b < 80)
    heldout = d.filter(b >= 80)
    return D.exact_ngram_contamination(corpus, heldout, n=13)


ORACLE_13GRAM = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(t) - 12),
                                      i -> array_to_string(t[i+1:i+13], ' '))) AS g
  FROM t WHERE len(t) >= 13),
split AS (
  SELECT doc_id,
         CAST('0x' || substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS b
  FROM t),
ex AS (SELECT doc_id, unnest(g) AS g FROM sh)
SELECT tr.doc_id AS train_id, ho.doc_id AS heldout_id, COUNT(*) AS n_shared_ngrams
FROM ex tr
JOIN split st ON tr.doc_id = st.doc_id AND st.b < 80
JOIN ex ho ON tr.g = ho.g
JOIN split s2 ON ho.doc_id = s2.doc_id AND s2.b >= 80
GROUP BY 1, 2
"""
register("decontamination_13gram", q_decontamination_13gram, ORACLE_13GRAM)

