"""Statistical queries over ops/stats: correlation, interpolated
percentiles, histograms, z-score/MAD/CUSUM outliers, autocorrelation,
trimmed and winsorized means, trends, Gini, KS drift, seasonal anomalies,
Welch's t-test, Benford, EWMA and diversity indexes.

Moments accumulate in exact DECIMAL and end in one IEEE division whose
operand order the oracle mirrors; no libm transcendental reaches an
output column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.llm.dedup import ensure_min_partitions
from aos_spark.ops import stats as ST
from aos_spark.ops.exact_round import round_ratio6, scaled_round
from aos_spark.ops.stats import grouped_gini, grouped_winsorized_mean, ks_two_sample
from aos_spark.queries.common import dsum, dsum_sql
from aos_spark.registry import register


def q_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile/percent-rank/cume-dist assignment per priority class —
    partitioned ranking windows with a unique (price, orderkey) sort key,
    so peer groups are singletons and every rank function is exact and
    identical across engines (percent_rank's division is one IEEE754 op)."""
    o = read_sf_table(spark, sf_dir, "orders")
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
    li = read_sf_table(spark, sf_dir, "lineitem")
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
       {dsum_sql('l_extendedprice')} AS bucket_revenue,
       CAST(CAST(FLOOR(l_quantity / 5.0) AS BIGINT) * 5 AS DOUBLE) AS lo,
       CAST((CAST(FLOOR(l_quantity / 5.0) AS BIGINT) + 1) * 5 AS DOUBLE) AS hi
FROM lineitem GROUP BY 1
"""
register("histogram_quantity", q_histogram_quantity, ORACLE_HISTOGRAM)


def q_corpus_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quartiles with PERCENTILE_DISC
    semantics (smallest value whose cume_dist ≥ p) — built from a
    partitioned cume_dist window + conditional min, so the selected value
    is an actual corpus element (integer — bit-exact cross-engine, unlike
    interpolated quantiles). The shape every corpus-curation cut
    (length filtering) needs before choosing thresholds."""
    d = read_sf_table(spark, sf_dir, "documents")
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
    li = read_sf_table(spark, sf_dir, "lineitem")
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


def q_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact-moment correlation/covariance/stddev
    (ops/stats.grouped_correlation): decimal moment sums make the result
    independent of partitioning AND engine — native corr()/stddev()
    streaming accumulators can't be cross-engine exact. sqrt is IEEE754
    correctly-rounded, so even the derived chain is bit-identical."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    # the exact-decimal moment map side is the expensive part of this
    # query and runs at the SCAN's parallelism (3 row-group tasks at
    # sf0.1) — spread it before aggregating (r16, guide §2.5; explains
    # the old 8-core≈32-core scaling). A scaled-int64 rewrite of the
    # DECIMAL(38,12) products was considered (VERDICT r15 #7) and is
    # moot once the map side parallelizes: the query is scan-bound.
    return ST.grouped_correlation(
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


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier counts over events.value: mean/variance
    from EXACT decimal moments (one agg pass), stddev via IEEE sqrt
    (correctly rounded in both engines → bit-stable), outlier flags in a
    second pass against the broadcast per-group stats."""
    ev = read_sf_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = F.col("value")
    stats = ev.groupBy("event_type").agg(
        F.count(v).alias("n"),
        (F.sum(v.cast("decimal(28,10)")).cast("double") / F.count(v)).alias("__mu"),
        (F.sum((v * v).cast("decimal(28,10)")).cast("double") / F.count(v)).alias(
            "__m2"
        ),
    )
    stats = stats.withColumn(
        "__sigma", F.sqrt(F.col("__m2") - F.col("__mu") * F.col("__mu"))
    )
    flagged = ev.join(F.broadcast(stats), "event_type").filter(
        F.abs(v - F.col("__mu")) > 3.0 * F.col("__sigma")
    )
    counts = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_outliers")
    )
    return (
        stats.join(counts, "event_type", "left")
        .select(
            "event_type",
            "n",
            F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
            F.round("__mu", 6).alias("mean_value"),
            F.round("__sigma", 6).alias("stddev_value"),
        )
    )


ORACLE_ZSCORE = """
WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
stats AS (
  SELECT event_type, COUNT(value) AS n,
         CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / COUNT(value) AS mu,
         CAST(SUM(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) / COUNT(value) AS m2
  FROM ev GROUP BY 1),
s2 AS (SELECT *, SQRT(m2 - mu * mu) AS sigma FROM stats),
fl AS (
  SELECT e.event_type, COUNT(*) AS n_outliers
  FROM ev e JOIN s2 USING (event_type)
  WHERE ABS(e.value - s2.mu) > 3.0 * s2.sigma
  GROUP BY 1)
SELECT event_type, n, COALESCE(n_outliers, 0) AS n_outliers,
       ROUND(mu, 6) AS mean_value, ROUND(sigma, 6) AS stddev_value
FROM s2 LEFT JOIN fl USING (event_type)
"""
register("zscore_outliers", q_zscore_outliers, ORACLE_ZSCORE)


def q_order_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily average order value, per year.

    The daily mean is computed as EXACT integer micro-units (1e-6
    currency), floor(1e6 * Σprice / n), via integral division — Spark
    ``div`` and DuckDB ``//`` both truncate-toward-zero on positive
    exact decimals — then scaled back to currency with an exact decimal
    multiply. The series therefore has scale-6 decimal values that every
    engine represents identically BEFORE the moment machinery's
    decimal(18,6) cast, closing the round-8 divergence: computing the
    mean as a double and letting each engine cast double→decimal(18,6)
    is knife-edge unsafe (Spark correctly rounds via BigDecimal; DuckDB
    scales by 10^6 in double space first — a double-rounding), which
    flipped sum_xy by one unit in 3 year-groups at sf0.1 (see
    MISMATCH_LOG.jsonl round-9 entry). All intermediates are decimal —
    Σprice·10^6 fits DECIMAL(36,2) — so no int64 overflow at any scale."""
    o = read_sf_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.date_trunc("day", F.col("o_orderdate")).alias("day"),
        )
        .agg(
            F.expr(
                "(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(36,2))"
                " * 1000000) div COUNT(*)"
            ).alias("micro")
        )
        .select(
            "yr",
            "day",
            F.expr(
                "CAST(micro AS DECIMAL(18,0)) * CAST(0.000001 AS DECIMAL(7,6))"
            ).alias("avg_price"),
        )
    )
    return ST.lagged_autocorrelation(daily, ["yr"], "day", "avg_price", lag=1)


ORACLE_AUTOCORR = """
WITH micro AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
         date_trunc('day', o_orderdate) AS day,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
              * 1000000 AS HUGEINT) // COUNT(*) AS m
  FROM orders GROUP BY 1, 2),
daily AS (
  SELECT yr, day,
         CAST(m AS DECIMAL(18,0)) * CAST(0.000001 AS DECIMAL(7,6)) AS avg_price
  FROM micro),
lagged AS (
  SELECT yr, avg_price AS x, LAG(avg_price) OVER (PARTITION BY yr ORDER BY day) AS y
  FROM daily),
m AS (
  SELECT yr,
         COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_x,
         CAST(ROUND(SUM(CAST(y AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_y,
         CAST(ROUND(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))), 0) AS DOUBLE) AS sum_xy,
         CAST(ROUND(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)) AS DECIMAL(38,12))), 0) AS DOUBLE) AS sum_xx,
         CAST(ROUND(SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))), 0) AS DOUBLE) AS sum_yy
  FROM lagged
  -- pairwise deletion, mirroring moment_aggs (r9)
  WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY yr)
SELECT yr, n, sum_x, sum_y, sum_xy, sum_xx, sum_yy,
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
register("order_autocorrelation", q_order_autocorrelation, ORACLE_AUTOCORR)


def q_mad_outlier_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.mad_outliers(
        read_sf_table(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        "o_totalprice",
        ["o_orderkey"],
        k=1.5,
        # window shape (bucket_width=None): the range-partitioned
        # selection was measured at +1.0-1.5 s here (two sequential
        # selections = ~20 AQE jobs vs 6 — see mad_outliers docstring);
        # pass bucket_width (e.g. 256.0 for o_totalprice's domain) to
        # trade that latency for the no-straggler shape at scale
    )


def _mad_oracle(k: float = 1.5) -> str:
    lo = "CAST(FLOOR(0.5 * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1"
    hi = f"LEAST({lo} + 1, n)"
    frac = "0.5 * CAST(n - 1 AS DOUBLE) - FLOOR(0.5 * CAST(n - 1 AS DOUBLE))"

    def p50(v: str) -> str:
        return (
            f"MIN({v}) FILTER (WHERE rn = {lo})"
            f" + MIN({frac}) FILTER (WHERE rn = {lo})"
            f" * (MIN({v}) FILTER (WHERE rn = {hi}) - MIN({v}) FILTER (WHERE rn = {lo}))"
        )

    return f"""
WITH r1 AS (
  SELECT o_orderpriority AS g, o_totalprice AS v,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders),
med AS (SELECT g, {p50('v')} AS med FROM r1 GROUP BY g),
d AS (
  SELECT o.o_orderpriority AS g, ABS(o.o_totalprice - m.med) AS dev,
         m.med, o.o_orderkey AS k2
  FROM orders o JOIN med m ON o.o_orderpriority = m.g),
r2 AS (
  SELECT g, dev, med,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev, k2) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM d),
madt AS (SELECT g, {p50('dev')} AS mad FROM r2 GROUP BY g),
f AS (
  SELECT d.g, d.dev, d.med, madt.mad, (d.dev > {k!r} * madt.mad) AS is_out
  FROM d JOIN madt USING (g))
SELECT g AS o_orderpriority, COUNT(*) AS n_rows,
       ROUND(MIN(med), 6) AS median, ROUND(MIN(mad), 6) AS mad,
       CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(COUNT(*) AS DOUBLE), 6) AS outlier_frac
FROM f GROUP BY g
"""


register("mad_outlier_bounds", q_mad_outlier_bounds, _mad_oracle())


def q_trimmed_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value per priority: rank within group,
    drop the floor(0.05·n) lowest and highest ranks (EXACT integer
    bounds — no interpolation, so the trim is engine-trivial), decimal
    mean of the survivors. The robust-aggregation sibling of
    mad_outlier_bounds; same group-ranked shape and caveat."""
    o = read_sf_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    cw = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    ).withColumn("cut", F.floor(F.col("n") * 0.05).cast("long"))
    kept = ranked.filter(
        (F.col("rn") > F.col("cut")) & (F.col("rn") <= F.col("n") - F.col("cut"))
    )
    return kept.groupBy("o_orderpriority").agg(
        F.min("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_kept"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("trimmed_mean"),
    )


ORACLE_TRIMMED_MEAN = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders),
cutoff AS (SELECT *, CAST(FLOOR(n * 0.05) AS BIGINT) AS cut FROM ranked),
kept AS (SELECT * FROM cutoff WHERE rn > cut AND rn <= n - cut)
SELECT o_orderpriority,
       CAST(MIN(n) AS BIGINT) AS n_rows,
       COUNT(*) AS n_kept,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
FROM kept GROUP BY o_orderpriority
"""
register("trimmed_mean_prices", q_trimmed_mean_prices, ORACLE_TRIMMED_MEAN)


def q_revenue_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend of the daily average order value per customer nation
    (is a market heating up?): broadcast dims → (nation, day) decimal
    rollup → exact-moment regression (ops/stats.grouped_linregress),
    x = integer day index (exact), y = the exactly-converted daily
    mean — the same determinism recipe as order_autocorrelation."""
    o = read_sf_table(spark, sf_dir, "orders")
    c = read_sf_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_sf_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.datediff(
                F.date_trunc("day", F.col("o_orderdate")),
                F.lit("1995-01-01").cast("date"),
            ).alias("day_idx"),
        )
        .agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_price")
        )
    )
    return ST.grouped_linregress(
        daily.withColumn("day_d", F.col("day_idx").cast("double")),
        ["nation"],
        "day_d",
        "avg_price",
    )


ORACLE_TREND = """
WITH daily AS (
  SELECT n_name AS nation,
         CAST(date_diff('day', DATE '1995-01-01',
                        CAST(date_trunc('day', o_orderdate) AS DATE)) AS DOUBLE) AS x,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS y
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
m AS (
  SELECT nation,
         COUNT(*) AS n,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_x,
         CAST(ROUND(SUM(CAST(y AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_y,
         CAST(ROUND(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))), 0) AS DOUBLE) AS sum_xy,
         CAST(ROUND(SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)) AS DECIMAL(38,12))), 0) AS DOUBLE) AS sum_xx,
         CAST(ROUND(SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))), 0) AS DOUBLE) AS sum_yy
  FROM daily
  -- pairwise deletion, mirroring moment_aggs (r9)
  WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY nation)
SELECT nation, n,
       CASE WHEN n >= 2 AND (sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0 THEN
       ROUND(((sum_xy - sum_x * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
             / ((sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6) END AS slope,
       CASE WHEN n >= 2 AND (sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0 THEN
       ROUND((sum_y - (((sum_xy - sum_x * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
                       / ((sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))) * sum_x)
             / CAST(n AS DOUBLE), 6) END AS intercept,
       CASE WHEN n >= 2 AND (sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
                        AND (sum_yy - sum_y * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0 THEN
       ROUND(((sum_xy - sum_x * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
             / SQRT(((sum_xx - sum_x * sum_x / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
                    * ((sum_yy - sum_y * sum_y / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))), 6) END AS r
FROM m
"""
register("revenue_trend_by_nation", q_revenue_trend_by_nation, ORACLE_TREND)


def q_gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation: exact decimal rank moments over
    per-customer order totals. Shuffles: custkey rollup → nation-keyed
    rank window (grouped_gini reuses that exchange for its rollup);
    customer joins on its own key, nation broadcasts."""
    o = read_sf_table(spark, sf_dir, "orders")
    c = read_sf_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_sf_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_rev = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(14,2)")
            .alias("rev")
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "o_custkey", "rev")
    )
    g = grouped_gini(cust_rev, ["nation"], "rev", order_cols=["o_custkey"])
    return g.select(
        "nation",
        F.col("n").alias("n_customers"),
        F.round("total_value", 2).alias("total_rev"),
        "gini",
    )


ORACLE_GINI = """
WITH cust_rev AS (
  SELECT n_name AS nation, o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(14,2)) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
ranked AS (
  SELECT nation, rev,
         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY rev, o_custkey) AS i
  FROM cust_rev),
m AS (
  SELECT nation,
         COUNT(*) AS n,
         SUM(rev) AS s,
         SUM(CAST(i AS DECIMAL(20,0)) * rev) AS s1
  FROM ranked GROUP BY nation)
SELECT nation,
       CAST(n AS BIGINT) AS n_customers,
       ROUND(CAST(s AS DOUBLE), 2) AS total_rev,
       ROUND((2.0 * CAST(s1 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS gini
FROM m
"""
register("gini_revenue_by_nation", q_gini_revenue_by_nation, ORACLE_GINI)


def q_simpson_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language diversity per corpus source: Simpson's index
    1 − Σc²/n² on exact counts — a rational diversity measure (Shannon
    entropy needs ln(), which diverges across libm implementations; the
    tf-idf/key-skew precedent). One (source, lang) rollup, then a
    source-sized re-aggregate: two map-combined shuffles, output
    |sources| rows."""
    d = read_sf_table(spark, sf_dir, "documents")
    by_lang = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    c18 = F.col("c").cast("decimal(18,0)")
    agg = by_lang.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(c18 * c18).alias("sum_c2"),
    )
    n18 = F.col("n_docs").cast("decimal(18,0)")
    return agg.select(
        "source",
        "n_docs",
        "n_langs",
        F.round(
            F.lit(1.0)
            - F.col("sum_c2").cast("double") / (n18 * n18).cast("double"),
            6,
        ).alias("simpson_diversity"),
    )


ORACLE_SIMPSON = """
WITH by_lang AS (
  SELECT source, lang, COUNT(*) AS c
  FROM documents GROUP BY 1, 2),
agg AS (
  SELECT source,
         SUM(c) AS n_docs,
         COUNT(*) AS n_langs,
         SUM(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))) AS sum_c2
  FROM by_lang GROUP BY source)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_langs AS BIGINT) AS n_langs,
       ROUND(1.0 - CAST(sum_c2 AS DOUBLE)
                   / CAST(CAST(n_docs AS DECIMAL(18,0)) * CAST(n_docs AS DECIMAL(18,0)) AS DOUBLE),
             6) AS simpson_diversity
FROM agg
"""
register("simpson_diversity_by_source", q_simpson_diversity_by_source, ORACLE_SIMPSON)


def q_ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between the 'en' and 'zh' slices of the
    corpus: exact two-sample KS statistic over document lengths
    (ops/stats.ks_two_sample). The corpus reduces to a length histogram
    before any window runs — the windows order a bounded dim frame."""
    d = read_sf_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return ks_two_sample(d, "lang", "n_chars", "en", "zh")


ORACLE_KS_DRIFT = """
WITH h AS (
  SELECT n_chars,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS cb
  FROM documents WHERE lang IN ('en', 'zh') GROUP BY n_chars),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM h),
cum AS (
  SELECT n_chars, na, nb,
         SUM(ca) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM h CROSS JOIN tot),
d AS (
  SELECT n_chars, na, nb,
         ABS(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE)) AS dd
  FROM cum),
top AS (
  SELECT na, nb, n_chars, dd,
         ROW_NUMBER() OVER (ORDER BY dd DESC, n_chars) AS rk
  FROM d)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       n_chars AS ks_at, ROUND(dd, 6) AS ks_stat
FROM top WHERE rk = 1
"""
register("ks_length_drift", q_ks_length_drift, ORACLE_KS_DRIFT)


def q_seasonal_dow_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal baseline over daily event volume: each day is
    compared against its weekday's average via integer cross-multiply
    (cnt·n_days·100 > 105·total ⇔ ratio > 1.05 — float-free flagging);
    the reported ratio is ONE division of exact ints. Two tiny rollups:
    corpus → 365·years daily rows → 7-row baseline broadcast back."""
    ev = read_sf_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # 1992-01-06 is a Monday: dow 0=Mon..6=Sun, engine-neutral integer math
    daily = daily.withColumn(
        "dow",
        F.pmod(F.datediff("day", F.lit("1992-01-06").cast("date")), F.lit(7)),
    )
    base = daily.groupBy("dow").agg(
        F.sum("cnt").alias("dow_total"), F.count(F.lit(1)).alias("dow_days")
    )
    j = daily.join(F.broadcast(base), "dow")
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dow",
        "cnt",
        F.round(
            (F.col("cnt") * F.col("dow_days")).cast("double")
            / F.col("dow_total").cast("double"),
            6,
        ).alias("ratio_to_dow_avg"),
        (
            F.col("cnt") * F.col("dow_days") * F.lit(100)
            > F.lit(105) * F.col("dow_total")
        ).alias("is_anomaly"),
    )


ORACLE_SEASONAL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1),
dw AS (
  SELECT day, cnt,
         ((date_diff('day', DATE '1992-01-06', day) % 7) + 7) % 7 AS dow
  FROM daily),
b AS (
  SELECT dow, SUM(cnt) AS dow_total, COUNT(*) AS dow_days
  FROM dw GROUP BY dow)
SELECT strftime(dw.day, '%Y-%m-%d') AS day,
       CAST(dw.dow AS INTEGER) AS dow,
       CAST(dw.cnt AS BIGINT) AS cnt,
       ROUND(CAST(dw.cnt * b.dow_days AS DOUBLE) / CAST(b.dow_total AS DOUBLE), 6)
         AS ratio_to_dow_avg,
       dw.cnt * b.dow_days * 100 > 105 * b.dow_total AS is_anomaly
FROM dw JOIN b USING (dow)
"""
register("seasonal_dow_anomaly", q_seasonal_dow_anomaly, ORACLE_SEASONAL)


def q_winsorized_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clamped, not trimmed) mean of extended price per
    return flag: exact-rank 5% bounds on the decimal column, clamped decimal
    sum, one final division (ops/stats.grouped_winsorized_mean)."""
    li = read_sf_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(14,2)").alias("price"),
    )
    return grouped_winsorized_mean(
        li,
        ["l_returnflag"],
        "price",
        tail_pct=5,
        # l_extendedprice spans ~[900, 105k] at any TPC-H SF (domain-
        # fixed): 64-unit buckets keep the rank histogram ~1.6k
        # rows/group; width only tunes bucket counts, never correctness
        bucket_width=64.0,
    )


ORACLE_WINSOR = """
WITH ranked AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(14,2)) AS price,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY CAST(l_extendedprice AS DECIMAL(14,2)),
                                     l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem),
rk AS (
  SELECT *,
         GREATEST(CAST(CEIL(n * 5 / 100) AS BIGINT), 1) AS lo_rk
  FROM ranked),
bounds AS (
  SELECT l_returnflag,
         MIN(CASE WHEN rn = lo_rk THEN price END) AS p_lo,
         MAX(CASE WHEN rn = n - lo_rk + 1 THEN price END) AS p_hi
  FROM rk WHERE rn = lo_rk OR rn = n - lo_rk + 1
  GROUP BY l_returnflag),
clamped AS (
  SELECT r.l_returnflag,
         CASE WHEN r.price < b.p_lo THEN b.p_lo
              WHEN r.price > b.p_hi THEN b.p_hi
              ELSE r.price END AS w
  FROM rk r JOIN bounds b USING (l_returnflag))
SELECT c.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(b.p_lo) AS DOUBLE) AS lo_bound,
       CAST(MIN(b.p_hi) AS DOUBLE) AS hi_bound,
       ROUND(CAST(SUM(c.w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS winsorized_mean
FROM clamped c JOIN bounds b USING (l_returnflag)
GROUP BY c.l_returnflag
"""
register("winsorized_mean_prices", q_winsorized_mean_prices, ORACLE_WINSOR)


def q_welch_ttest_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic comparing order totals between
    '1-URGENT' and '5-LOW' priorities — the A/B-test primitive, from the
    SAME exact-decimal-moment discipline as stats_correlation: sums are
    exact decimals, every derived quantity is a fixed IEEE sequence the
    oracle mirrors literally. One conditional-aggregate pass, 1 row out."""
    o = read_sf_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    m = o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).agg(
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", price)
        ).cast("double").alias("s1"),
        F.sum(
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                (price * price).cast("decimal(38,4)"),
            )
        ).cast("double").alias("ss1"),
        F.sum(F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("o_orderpriority") == "5-LOW", price))
        .cast("double")
        .alias("s2"),
        F.sum(
            F.when(
                F.col("o_orderpriority") == "5-LOW",
                (price * price).cast("decimal(38,4)"),
            )
        ).cast("double").alias("ss2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("s1") / n1d
    m2 = F.col("s2") / n2d
    v1 = (F.col("ss1") - F.col("s1") * F.col("s1") / n1d) / (n1d - F.lit(1.0))
    v2 = (F.col("ss2") - F.col("s2") * F.col("s2") / n2d) / (n2d - F.lit(1.0))
    se2 = v1 / n1d + v2 / n2d
    t = (m1 - m2) / F.sqrt(se2)
    dfw = (se2 * se2) / (
        (v1 / n1d) * (v1 / n1d) / (n1d - F.lit(1.0))
        + (v2 / n2d) * (v2 / n2d) / (n2d - F.lit(1.0))
    )
    return m.select(
        "n1",
        "n2",
        scaled_round(m1, 4).alias("mean_urgent"),
        scaled_round(m2, 4).alias("mean_low"),
        scaled_round(m1 - m2, 4).alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(dfw, 2).alias("welch_df"),
    )


ORACLE_WELCH = """
WITH m AS (
  SELECT
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s1,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS DOUBLE) AS ss1,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s2,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS DOUBLE) AS ss2
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
SELECT n1, n2,
       ROUND((s1 / CAST(n1 AS DOUBLE)) * 10000.0, 0) / 10000.0 AS mean_urgent,
       ROUND((s2 / CAST(n2 AS DOUBLE)) * 10000.0, 0) / 10000.0 AS mean_low,
       ROUND((s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE)) * 10000.0, 0) / 10000.0 AS mean_diff,
       ROUND((s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE))
             / SQRT(((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
                    + ((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)),
             6) AS t_stat,
       ROUND(
         (((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
          + ((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
         * (((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
            + ((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
         / ((((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE))
            * (((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE))
            / (CAST(n1 AS DOUBLE) - 1.0)
            + (((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
              * (((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
              / (CAST(n2 AS DOUBLE) - 1.0)),
         2) AS welch_df
FROM m
"""
register("welch_ttest_priorities", q_welch_ttest_priorities, ORACLE_WELCH)


def q_cusum_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact CUSUM change-point detection over daily order volume:
    cum_k = Σ_{i≤k}(x_i·n_days − N) (BIGINT — the deviation-from-mean
    running sum scaled by n_days so no float ever accumulates), change
    point = the earliest day where |cum| peaks. The cumulative windows run
    over the DAILY frame (|days| rows, bounded dim — TPC-H spans ~2.4k
    days at any SF), after a single corpus rollup."""
    o = read_sf_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    tot = daily.agg(
        F.sum("x").alias("n_orders"), F.count(F.lit(1)).alias("n_days")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "cusum",
            F.sum(F.col("x") * F.col("n_days") - F.col("n_orders")).over(w_cum),
        )
    )
    w_top = Window.orderBy(F.abs(F.col("cusum")).desc(), F.col("day"))
    return (
        cum.withColumn("__rk", F.row_number().over(w_top))
        .filter(F.col("__rk") == 1)
        .select(
            "n_days",
            "n_orders",
            F.date_format("day", "yyyy-MM-dd").alias("cp_date"),
            F.col("cusum").alias("peak_cusum_scaled"),
            F.round(
                F.col("cusum").cast("double") / F.col("n_days").cast("double"), 4
            ).alias("peak_deviation_orders"),
        )
    )


ORACLE_CUSUM = """
WITH daily AS (
  SELECT o_orderdate AS day, COUNT(*) AS x FROM orders GROUP BY 1),
tot AS (SELECT SUM(x) AS n_orders, COUNT(*) AS n_days FROM daily),
cum AS (
  SELECT day, n_days, n_orders,
         SUM(x * n_days - n_orders)
           OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM daily CROSS JOIN tot),
top AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(cusum) DESC, day) AS rk FROM cum)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(n_orders AS BIGINT) AS n_orders,
       strftime(day, '%Y-%m-%d') AS cp_date,
       CAST(cusum AS BIGINT) AS peak_cusum_scaled,
       ROUND(CAST(cusum AS DOUBLE) / CAST(n_days AS DOUBLE), 4) AS peak_deviation_orders
FROM top WHERE rk = 1
"""
register("cusum_change_point", q_cusum_change_point, ORACLE_CUSUM)


def q_priority_mix_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square standardized residuals for the order-priority mix across
    years — the independence test's per-cell evidence, WITHOUT the
    cross-cell float sum (whose addition order no engine guarantees):
    each cell's expected count and residual is its own fixed IEEE
    sequence over exact integer marginals. Corpus → ≤|years|·|priorities|
    cells → two marginal rollups broadcast back."""
    o = read_sf_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.year("o_orderdate").cast("int").alias("year"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    year_tot = cells.groupBy("year").agg(F.sum("obs").alias("year_n"))
    prio_tot = cells.groupBy("priority").agg(F.sum("obs").alias("prio_n"))
    n_tot = cells.agg(F.sum("obs").alias("n_total"))
    j = (
        cells.join(F.broadcast(year_tot), "year")
        .join(F.broadcast(prio_tot), "priority")
        .crossJoin(F.broadcast(n_tot))
    )
    exp = (
        F.col("year_n").cast("decimal(18,0)") * F.col("prio_n").cast("decimal(18,0)")
    ).cast("double") / F.col("n_total").cast("double")
    resid = (F.col("obs").cast("double") - exp) / F.sqrt(exp)
    return j.select(
        "year",
        "priority",
        "obs",
        F.round(exp, 4).alias("expected"),
        F.round(resid, 6).alias("std_residual"),
        F.round(resid * resid, 6).alias("chi2_cell"),
    )


ORACLE_CHI2 = """
WITH cells AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
         o_orderpriority AS priority, COUNT(*) AS obs
  FROM orders GROUP BY 1, 2),
yt AS (SELECT year, SUM(obs) AS year_n FROM cells GROUP BY year),
pt AS (SELECT priority, SUM(obs) AS prio_n FROM cells GROUP BY priority),
nt AS (SELECT SUM(obs) AS n_total FROM cells)
SELECT c.year, c.priority, CAST(c.obs AS BIGINT) AS obs,
       ROUND(CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
             / CAST(nt.n_total AS DOUBLE), 4) AS expected,
       ROUND((CAST(c.obs AS DOUBLE)
              - CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                / CAST(nt.n_total AS DOUBLE))
             / SQRT(CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                    / CAST(nt.n_total AS DOUBLE)), 6) AS std_residual,
       ROUND(((CAST(c.obs AS DOUBLE)
               - CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                 / CAST(nt.n_total AS DOUBLE))
              / SQRT(CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                     / CAST(nt.n_total AS DOUBLE)))
             * ((CAST(c.obs AS DOUBLE)
                 - CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                   / CAST(nt.n_total AS DOUBLE))
                / SQRT(CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                       / CAST(nt.n_total AS DOUBLE))), 6) AS chi2_cell
FROM cells c
JOIN yt USING (year)
JOIN pt USING (priority)
CROSS JOIN nt
"""
register("priority_mix_residuals", q_priority_mix_residuals, ORACLE_CHI2)


# ---------------------------------------------------------- benford_first_digit
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals (Benford
    screen). The digit is extracted from the integer part as a string —
    FLOOR before the BIGINT cast because DuckDB's double→int cast rounds
    while Spark's truncates; FLOOR makes both exact. Pure map-side digit
    extraction, one 9-key rollup; the grand total re-aggregates the 9-row
    digit frame and broadcasts back (the repo's no-global-window rule —
    even a 9-row single-partition WindowExec is a shape that must not leak
    into templates people copy at fact-table scale)."""
    o = read_sf_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        ).alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    total = counts.agg(F.sum("n_orders").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n_orders",
        round_ratio6(F.col("n_orders"), F.col("total")).alias("share"),
    )


ORACLE_BENFORD = """
WITH d AS (
  SELECT substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit
  FROM orders),
c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM d GROUP BY 1),
t AS (SELECT digit, n_orders,
             CAST(SUM(n_orders) OVER () AS BIGINT) AS total FROM c)
SELECT digit, n_orders,
       CAST((CAST(n_orders AS HUGEINT) * 1000000 * 2 + CAST(total AS HUGEINT)) // (CAST(total AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS share
FROM t
"""
register("benford_first_digit", q_benford_first_digit, ORACLE_BENFORD)


# ------------------------------------------------------- ewma_monthly_revenue
def q_ewma_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation EWMA of monthly revenue over the last five OBSERVED
    months, binary weights 16/8/4/2/1 (alpha=1/2, truncated): the weighted
    sum stays in exact DECIMAL (integer multipliers), with ONE
    cast-to-double and ONE division by 31 at the end — no float
    accumulation order to diverge. Broadcast dims onto orders, one
    (nation, month) rollup, lag-window on the rollup partitioning."""
    o = read_sf_table(spark, sf_dir, "orders")
    c = read_sf_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_sf_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    monthly = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w = Window.partitionBy("nation").orderBy("month")
    lagged = monthly.select(
        "nation",
        "month",
        "rev",
        *[F.lag("rev", k).over(w).alias(f"r{k}") for k in range(1, 5)],
    ).filter(F.col("r4").isNotNull())
    latest = lagged.withColumn(
        "mx", F.max("month").over(Window.partitionBy("nation"))
    ).filter(F.col("month") == F.col("mx"))
    wsum = (
        F.col("rev") * F.lit(16)
        + F.col("r1") * F.lit(8)
        + F.col("r2") * F.lit(4)
        + F.col("r3") * F.lit(2)
        + F.col("r4")
    )
    return latest.select(
        "nation",
        F.col("month").alias("latest_month"),
        F.col("rev").cast("double").alias("latest_revenue"),
        F.round(wsum.cast("double") / F.lit(31), 6).alias("ewma_revenue"),
    )


ORACLE_EWMA_MONTHLY = """
WITH monthly AS (
  SELECT n_name AS nation,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
lagged AS (
  SELECT nation, month, rev,
         LAG(rev, 1) OVER w AS r1, LAG(rev, 2) OVER w AS r2,
         LAG(rev, 3) OVER w AS r3, LAG(rev, 4) OVER w AS r4
  FROM monthly
  WINDOW w AS (PARTITION BY nation ORDER BY month)),
f AS (
  SELECT nation, month, rev, r1, r2, r3, r4,
         MAX(month) OVER (PARTITION BY nation) AS mx
  FROM lagged WHERE r4 IS NOT NULL)
SELECT nation, month AS latest_month,
       CAST(rev AS DOUBLE) AS latest_revenue,
       ROUND(CAST(rev * 16 + r1 * 8 + r2 * 4 + r3 * 2 + r4 AS DOUBLE) / 31, 6)
         AS ewma_revenue
FROM f WHERE month = mx
"""
register("ewma_monthly_revenue", q_ewma_monthly_revenue, ORACLE_EWMA_MONTHLY)
