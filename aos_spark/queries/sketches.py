"""Sketch queries over ops/sketches and ops/bloom: count-min,
HyperLogLog (single, grouped and merged per week), histogram quantiles,
the Bloom-filtered semi-join, and the error of each sketch against its
exact answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.ops import bloom as B
from aos_spark.ops import sketches
from aos_spark.queries.stats import ORACLE_PCTL_CONT, q_percentile_cont
from aos_spark.registry import register


def q_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (ops/sketches): build the d×w=4×64 sketch over
    event_type in one map-combined shuffle, then estimate each distinct
    key's frequency (min over its d counters). Deterministic md5 hashing
    makes the whole sketch reproducible in the oracle — the gate checks
    counter-for-counter equality of a probabilistic data structure."""
    ev = read_sf_table(spark, sf_dir, "events")
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


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct estimate (ops/sketches.hll_*) over
    lineitem.l_orderkey, registers + estimate checked against the oracle
    bit-for-bit (md5 hashing, integer-CASE ρ, shift-based 2^−M — no
    transcendental in the fired branch: l_orderkey cardinality fills all
    64 registers, so v_zero = 0 and the ln correction is dormant).
    Calibration against the exact count lives in tests/test_sketches.py —
    NOT here: at scale the exact count is the scan the sketch exists to
    avoid, so the measured path is sketch-only (VERDICT r3 #5)."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    return sketches.hll_estimate(li, "l_orderkey")


def _hll_oracle(p: int = 6) -> str:
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


def q_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL distinct-customer estimate over orders by status
    (ops/sketches.hll_estimate_grouped) — one pass for all groups; every
    group's cardinality (~1.4k) is far past 2.5·m, so the estimate is the
    bit-exact raw branch in both engines (no transcendental fires)."""
    o = read_sf_table(spark, sf_dir, "orders")
    return sketches.hll_estimate_grouped(o, "o_custkey", ["o_orderstatus"])


def _hll_grouped_oracle(p: int = 6) -> str:
    m, q = 1 << p, 32 - p
    rho = sketches.rho_case_sql("w", q)
    alpha = 0.7213 / (1 + 1.079 / m)
    _TWO32 = float(1 << 32)  # large-range correction domain (32-bit hash)
    return f"""
WITH h AS (
  SELECT o_orderstatus,
         CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) AS h
  FROM orders),
words AS (SELECT o_orderstatus, h >> {q} AS register, h & {(1 << q) - 1} AS w FROM h),
regs AS (SELECT o_orderstatus, register, MAX({rho}) AS max_rho
         FROM words GROUP BY 1, 2),
agg AS (
  SELECT o_orderstatus,
         SUM(1.0 / CAST(1 << max_rho AS DOUBLE)) AS present_inv,
         COUNT(*) AS n_present
  FROM regs GROUP BY 1),
est AS (
  SELECT o_orderstatus, {m} - n_present AS v_zero,
         CAST({alpha!r} AS DOUBLE) * {m} * {m}
           / (present_inv + CAST({m} - n_present AS DOUBLE)) AS raw,
         n_present
  FROM agg)
SELECT o_orderstatus, {m} AS m, v_zero, ROUND(raw, 6) AS raw_estimate,
       ROUND(CASE WHEN raw <= CAST({2.5 * m!r} AS DOUBLE) AND v_zero > 0
                  THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / v_zero)
                  WHEN raw > CAST({_TWO32 / 30.0!r} AS DOUBLE)
                       AND raw < CAST({_TWO32!r} AS DOUBLE)
                  THEN -CAST({_TWO32!r} AS DOUBLE)
                       * ln(1.0 - raw / CAST({_TWO32!r} AS DOUBLE))
                  ELSE raw END, 6) AS estimate
FROM est
"""


register("sketch_hll_grouped", q_hll_grouped, _hll_grouped_oracle())


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch over lineitem.l_extendedprice
    (ops/sketches.quantile_sketch): p50/p90/p99 from a 256-bin mergeable
    state — the streaming-friendly complement to the exact percentile
    tier."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    sk = sketches.quantile_sketch(li, "l_extendedprice", lo=0.0, hi=120_000.0)
    return sketches.quantile_estimate(sk, [0.5, 0.9, 0.99], 0.0, 120_000.0)


def _quantile_sketch_oracle(
    lo: float = 0.0, hi: float = 120_000.0, n_bins: int = 256
) -> str:
    w = (hi - lo) / n_bins
    qs_sql = ", ".join(f"({q})" for q in (0.5, 0.9, 0.99))
    return f"""
WITH sk AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((l_extendedprice - {lo}) / {w}) AS INT), 0),
               {n_bins - 1}) AS bin,
         COUNT(*) AS n
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
cum AS (
  SELECT bin, SUM(n) OVER (ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         (SELECT SUM(n) FROM sk) AS total
  FROM sk)
SELECT CAST(q AS DOUBLE) AS q,
       ROUND(CAST({lo} + (b + 1) * {w} AS DOUBLE), 6) AS value_at_q
FROM (
  SELECT q.q, MIN(bin) AS b
  FROM (VALUES {qs_sql}) q(q) JOIN cum ON c >= total * q.q
  GROUP BY q.q)
"""


register("sketch_quantile_histogram", q_quantile_sketch, _quantile_sketch_oracle())


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders placed by BUILDING-segment customers, via an explicit Bloom
    pre-filter feeding the exact semi-join (ops/bloom.bloom_semijoin). The
    bitset probe sits in the orders scan, so at scale the exchange feeding
    the semi-join sees only matching + false-positive rows. Result is
    bit-identical to the plain semi-join the oracle runs."""
    orders = read_sf_table(spark, sf_dir, "orders")
    build = read_sf_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    kept = B.bloom_semijoin(orders, "o_custkey", build, "c_custkey")
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"),
            4,
        ).alias("total_price"),
    )


ORACLE_BLOOM_SEMIJOIN = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_price
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
"""
register("bloom_semijoin_prune", q_bloom_semijoin, ORACLE_BLOOM_SEMIJOIN)


# ------------------------------------------------------ sketch_hll_merge_weekly
def q_hll_merge_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct (user, event_type) engagement pairs, computed the
    way a 100 TB pipeline must: per-DAY register frames (ops/sketches
    .hll_registers_grouped — one map-side-combined shuffle bounded by
    days × 2^p rows), merged up to weeks by groupBy-max over the tiny
    register frame, estimated by hll_estimate_from_registers. The raw
    data is touched exactly once; any coarser rollup (month, quarter,
    all-time) reuses the same daily registers. Oracle computes the weekly
    registers directly — max-merge over day partitions is identical to a
    direct weekly max, which is the lossless-merge property under test."""
    ev = read_sf_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.concat_ws(
            ":", F.col("user_id").cast("string"), F.col("event_type")
        ).alias("pair"),
    )
    daily = sketches.hll_registers_grouped(keyed, "pair", ["day"])
    weekly_regs = (
        daily.withColumn("week", F.date_trunc("week", F.col("day")))
        .groupBy("week", "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    return sketches.hll_estimate_from_registers(weekly_regs, ["week"])


def _hll_weekly_oracle(p: int = sketches.HLL_P) -> str:
    m, q = 1 << p, sketches.HLL_HASH_BITS - p
    rho = sketches.rho_case_sql("w", q)
    alpha = 0.7213 / (1 + 1.079 / m)
    _TWO32 = float(1 << 32)  # large-range correction domain (32-bit hash)
    return f"""
WITH h AS (
  SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':' || event_type), 1, 8) AS BIGINT) AS h
  FROM events),
words AS (SELECT week, h >> {q} AS register, h & {(1 << q) - 1} AS w FROM h),
regs AS (SELECT week, register, MAX({rho}) AS max_rho FROM words GROUP BY 1, 2),
agg AS (
  SELECT week,
         SUM(1.0 / CAST(1 << max_rho AS DOUBLE)) AS present_inv,
         COUNT(*) AS n_present
  FROM regs GROUP BY week),
est AS (
  SELECT week, CAST({m} - n_present AS BIGINT) AS v_zero,
         CAST({alpha!r} AS DOUBLE) * {m} * {m}
           / (present_inv + CAST({m} - n_present AS DOUBLE)) AS raw,
         n_present
  FROM agg)
SELECT week, {m} AS m, v_zero, ROUND(raw, 6) AS raw_estimate,
       ROUND(CASE WHEN raw <= CAST({2.5 * m!r} AS DOUBLE) AND v_zero > 0
                  THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / v_zero)
                  WHEN raw > CAST({_TWO32 / 30.0!r} AS DOUBLE)
                       AND raw < CAST({_TWO32!r} AS DOUBLE)
                  THEN -CAST({_TWO32!r} AS DOUBLE)
                       * ln(1.0 - raw / CAST({_TWO32!r} AS DOUBLE))
                  ELSE raw END, 6) AS estimate
FROM est
"""


register("sketch_hll_merge_weekly", q_hll_merge_weekly, _hll_weekly_oracle())


# ------------------------------------------------------------ cms_error_eval
def q_cms_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality measurement for the count-min sketch, the
    ann_recall_eval pattern applied to frequency sketches: per-key
    estimated minus EXACT count. CMS can only overestimate, so the gate
    asserts the invariant (overestimate >= 0) cell-for-cell against the
    oracle, and the summary makes the d×w accuracy trade-off readable
    from the engine's own output. Both sides are production operators;
    the exact counts are one map-combined rollup."""
    ev = read_sf_table(spark, sf_dir, "events")
    sk = sketches.cms_build(ev, "event_type")
    keys = ev.select("event_type").distinct()
    est = sketches.cms_estimate(sk, keys, "event_type")
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_count",
        "est_count",
        (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
    )


def _cms_error_oracle() -> str:
    return f"""
WITH est AS ({ORACLE_CMS}),
exact AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_count
          FROM events GROUP BY 1)
SELECT est.event_type, exact.exact_count, est.est_count,
       est.est_count - exact.exact_count AS overestimate
FROM est JOIN exact USING (event_type)
"""


register("cms_error_eval", q_cms_error_eval, _cms_error_oracle())


# ------------------------------------------------------------ hll_error_eval
def q_hll_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality measurement for HyperLogLog, completing the eval
    triptych (ann_recall_eval for ANN, cms_error_eval for CMS): per-group
    HLL distinct estimate vs the EXACT count-distinct, with the signed
    relative error. The production trade-off this reads out: the sketch
    side is ONE pass and m registers per group; the exact side shuffles
    the full (group, key) domain — at 100 TB you run the left column and
    this query is the evidence for how much accuracy that buys."""
    o = read_sf_table(spark, sf_dir, "orders")
    est = sketches.hll_estimate_grouped(o, "o_custkey", ["o_orderstatus"]).select(
        "o_orderstatus", "estimate"
    )
    exact = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return est.join(exact, "o_orderstatus").select(
        "o_orderstatus",
        "exact_distinct",
        "estimate",
        F.round(
            (F.col("estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_error"),
    )


def _hll_error_oracle() -> str:
    return f"""
WITH est AS ({_hll_grouped_oracle()}),
exact AS (SELECT o_orderstatus,
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
          FROM orders GROUP BY 1)
SELECT est.o_orderstatus, exact.exact_distinct, est.estimate,
       ROUND((est.estimate - exact.exact_distinct) / exact.exact_distinct, 6)
         AS rel_error
FROM est JOIN exact USING (o_orderstatus)
"""


register("hll_error_eval", q_hll_error_eval, _hll_error_oracle())


# ------------------------------------------------------------ quantile_error_eval
def q_quantile_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group histogram-sketch quantile error vs the EXACT interpolated
    percentile — the third sketch eval (with cms_error_eval and
    hll_error_eval). Sketch side: 64 unit-width bins per return flag
    (one map-combined rollup, mergeable states, cum window over the
    BOUNDED bin frame partitioned by flag); exact side: the
    percentile_cont_interp machinery (flag-partitioned rank window). A
    histogram upper-edge estimate can only sit at or above the exact
    value minus one bin width — the gate pins both numbers."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    # sketch tier: quantity is integer-valued in [1, 50]; w=1, 64 bins
    binned = li.select(
        "l_returnflag",
        F.least(
            F.greatest(F.floor(F.col("l_quantity")).cast("int"), F.lit(0)),
            F.lit(63),
        ).alias("bin"),
    ).groupBy("l_returnflag", "bin").agg(F.count(F.lit(1)).alias("n"))
    cw = (
        Window.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tw = Window.partitionBy("l_returnflag")
    cum = binned.select(
        "l_returnflag",
        "bin",
        F.sum("n").over(cw).alias("c"),
        F.sum("n").over(tw).alias("total"),
    )
    ests = []
    for tag, p in (("est_p50", 0.5), ("est_p90", 0.9)):
        ests.append(
            F.min(
                F.when(
                    F.col("c") >= F.col("total") * F.lit(p), F.col("bin")
                )
            ).alias(f"__b_{tag}")
        )
    sk = cum.groupBy("l_returnflag").agg(*ests).select(
        "l_returnflag",
        *[
            (F.col(f"__b_est_p{q}") + F.lit(1)).cast("double").alias(f"est_p{q}")
            for q in (50, 90)
        ],
    )
    # exact tier: reuse the gate-verified interpolated-percentile query

    exact = q_percentile_cont(spark, sf_dir).select(
        "l_returnflag", "p50", "p90"
    )
    return sk.join(exact, "l_returnflag").select(
        "l_returnflag",
        "p50",
        "est_p50",
        F.round(F.col("est_p50") - F.col("p50"), 6).alias("err_p50"),
        "p90",
        "est_p90",
        F.round(F.col("est_p90") - F.col("p90"), 6).alias("err_p90"),
    )


def _quantile_error_oracle() -> str:
    return f"""
WITH exact AS ({ORACLE_PCTL_CONT}),
sk AS (
  SELECT l_returnflag,
         LEAST(GREATEST(CAST(FLOOR(l_quantity) AS INT), 0), 63) AS bin,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT l_returnflag, bin,
         SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         SUM(n) OVER (PARTITION BY l_returnflag) AS total
  FROM sk),
est AS (
  SELECT l_returnflag,
         CAST(MIN(CASE WHEN c >= total * 0.5 THEN bin END) + 1 AS DOUBLE) AS est_p50,
         CAST(MIN(CASE WHEN c >= total * 0.9 THEN bin END) + 1 AS DOUBLE) AS est_p90
  FROM cum GROUP BY 1)
SELECT est.l_returnflag, exact.p50, est.est_p50,
       ROUND(est.est_p50 - exact.p50, 6) AS err_p50,
       exact.p90, est.est_p90,
       ROUND(est.est_p90 - exact.p90, 6) AS err_p90
FROM est JOIN exact USING (l_returnflag)
"""


register("quantile_error_eval", q_quantile_error_eval, _quantile_error_oracle())
