"""TPC-H shapes Q1-Q22 adapted to the driver testdata schema (no
partsupp/comment/commit-date columns). Each query keeps the reference
shape: the join topology, subquery decorrelation pattern and aggregation
structure that make the original interesting, with filter columns swapped
for ones the testdata has.

Money sums accumulate in DECIMAL (exact, order-independent) and only then
cast to DOUBLE; ratios divide two exact-decimal-derived doubles (one IEEE
division, bit-stable) and round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.cache import persist_tracked
from aos_spark.io.readers import read_sf_table
from aos_spark.ops.exact_round import round_micro_cents, round_ratio6_micro
from aos_spark.queries.common import dsum, dsum_sql
from aos_spark.registry import register


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the agg-dict family A3/A6 with exact decimal sums."""
    li = read_sf_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
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
    c = read_sf_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_sf_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = read_sf_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
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
    r = read_sf_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = read_sf_table(spark, sf_dir, "nation")
    c = read_sf_table(spark, sf_dir, "customer")
    s = read_sf_table(spark, sf_dir, "supplier")
    o = read_sf_table(spark, sf_dir, "orders")
    li = read_sf_table(spark, sf_dir, "lineitem")
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


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (rows below 20% of their
    group's average), planned as an aggregate + self-join re-use of the
    fact table; the subquery decorrelation path in Catalyst."""
    li = read_sf_table(spark, sf_dir, "lineitem")
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


def q_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → LEFT SEMI join with an extra
    non-equi predicate (late-shipping lineitems), then a count per
    priority. Exercises Catalyst's semi-join planning: the equi key drives
    a hash semi-join, the date inequality rides along as a join condition —
    no subquery materialization. (The synthetic lineitem lacks
    commit/receipt dates, so "late" = shipped >70 days after order date.)"""
    o = read_sf_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = read_sf_table(spark, sf_dir, "lineitem")
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
    li = read_sf_table(spark, sf_dir, "lineitem")
    o = read_sf_table(spark, sf_dir, "orders")
    c = read_sf_table(spark, sf_dir, "customer")
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
  SELECT l_orderkey, {dsum_sql('l_quantity')} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {dsum_sql('l_quantity')} > 250.0
)
SELECT c_name, o_orderkey, o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
"""
register("q18_large_volume_orders", q_large_volume_orders, ORACLE_LARGE_VOLUME)


def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer — lineitem
    filtered to returns, joined to orders in a date window, rolled up per
    customer, nation attached BROADCAST, top-20 via TakeOrdered (never a
    global window). Decimal revenue so the top-20 cut is deterministic."""
    li = read_sf_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = read_sf_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    c = read_sf_table(spark, sf_dir, "customer")
    n = read_sf_table(spark, sf_dir, "nation")
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
    li = read_sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = read_sf_table(spark, sf_dir, "orders")
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


def _rev() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


# --- Q2: min-cost supplier (correlated-min decorrelation) ------------------


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each LARGE part, the supplier(s) selling it at the minimum
    observed price — the Q2 correlated scalar-min subquery, decorrelated
    into a per-part min aggregate joined back on (part, price). The part
    dim broadcasts; the fact shuffles once on partkey for the min and
    reuses that key for the join-back."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    p = read_sf_table(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    s = read_sf_table(spark, sf_dir, "supplier")
    offers = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_partkey", "p_name", "l_suppkey", "l_extendedprice"
    )
    mins = offers.groupBy(F.col("p_partkey").alias("__pk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        offers.join(
            mins,
            (offers.p_partkey == mins.__pk)
            & (offers.l_extendedprice == mins.min_price),
        )
        .join(F.broadcast(s), offers.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            F.col("s_name"),
            F.round(F.col("min_price"), 2).alias("min_price"),
        )
        .distinct()
    )


ORACLE_Q2 = """
SELECT DISTINCT p_partkey, p_name, s_name, ROUND(min_price, 2) AS min_price
FROM (
  SELECT p_partkey, p_name, l_suppkey, l_extendedprice,
         MIN(l_extendedprice) OVER (PARTITION BY p_partkey) AS min_price
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'LARGE'
) JOIN supplier ON l_suppkey = s_suppkey
WHERE l_extendedprice = min_price
"""
register("q2_min_cost_supplier", q2_min_cost_supplier, ORACLE_Q2)


# --- Q7: volume shipping between two nations -------------------------------


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped between NATION_1 and NATION_2 (either direction),
    by (supplier nation, customer nation, ship year) — the Q7
    bidirectional pair predicate. Both nation dims broadcast; the fact
    shuffles once for the final rollup."""
    li = read_sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = read_sf_table(spark, sf_dir, "orders")
    c = read_sf_table(spark, sf_dir, "customer")
    s = read_sf_table(spark, sf_dir, "supplier")
    n = read_sf_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("__ck"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__ck"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_rev()).cast("double"), 4).alias("revenue"))
    )


ORACLE_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
"""
register("q7_volume_shipping", q7_volume_shipping, ORACLE_Q7)


# --- Q8: market share ------------------------------------------------------


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_1's share of PROMO-part revenue sold to customers in the
    ASIA region, per order year — the Q8 conditional-share
    aggregate: both numerator and denominator accumulate as exact
    decimals in ONE pass (conditional sum), divided once at the end."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    o = read_sf_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    p = read_sf_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    c = read_sf_table(spark, sf_dir, "customer")
    s = read_sf_table(spark, sf_dir, "supplier")
    n = read_sf_table(spark, sf_dir, "nation")
    r = read_sf_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    ns = n.select(
        F.col("n_nationkey").alias("__sk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("__ck")
    )
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("__ck"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("__sk"))
    )
    nation_rev = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", _rev()).otherwise(
            F.lit(0).cast("decimal(18,4)")
        )
    )
    return (
        base.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            nation_rev.cast("double").alias("__n"),
            F.sum(_rev()).cast("double").alias("__d"),
        )
        .select(
            "o_year", F.round(F.col("__n") / F.col("__d"), 6).alias("mkt_share")
        )
    )


ORACLE_Q8 = """
SELECT o_year, ROUND(nation_rev / total_rev, 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         CAST(SUM(CASE WHEN n1.n_name = 'NATION_1'
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_rev,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                JOIN region ON n2.n_regionkey = r_regionkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE p_type = 'PROMO' AND r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
)
"""
register("q8_market_share", q8_market_share, ORACLE_Q8)


# --- Q9: profit by nation and year -----------------------------------------


def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit (revenue minus a retail-price-based cost proxy — the
    testdata has no partsupp.ps_supplycost) on parts named like '%red%',
    rolled up by (supplier nation, order year): the Q9 multi-dim profit
    rollup with the amount computed row-wise in exact decimal."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    o = read_sf_table(spark, sf_dir, "orders")
    s = read_sf_table(spark, sf_dir, "supplier")
    n = read_sf_table(spark, sf_dir, "nation")
    p = read_sf_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(amount).cast("double"), 4).alias("sum_profit"))
    )


ORACLE_Q9 = """
SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           - p_retailprice * l_quantity * 0.1 AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_profit
FROM lineitem JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""
register("q9_profit_by_nation", q9_profit_by_nation, ORACLE_Q9)


# --- Q11: important parts (HAVING over a global scalar) --------------------


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose total revenue exceeds 0.07% of ALL revenue — Q11's
    HAVING-over-scalar-subquery, planned as one aggregate pass + a 1-row
    broadcast cross-join (the same lazy-scalar pattern as tfidf's
    n_docs): no driver round-trip. The parts-sized per-part frame is
    persisted so the fact table is scanned ONCE — without it Spark
    re-aggregates lineitem on both sides of the cross-join."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    per_part = persist_tracked(
        li.groupBy("l_partkey").agg(F.sum(_rev()).alias("__val"))
    )
    total = per_part.agg(F.sum("__val").alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("__val").cast("double")
            > F.col("__total").cast("double") * 0.0007
        )
        .select(
            "l_partkey", F.round(F.col("__val").cast("double"), 4).alias("part_value")
        )
    )


ORACLE_Q11 = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS val
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, ROUND(CAST(val AS DOUBLE), 4) AS part_value
FROM per_part
WHERE CAST(val AS DOUBLE) > (SELECT CAST(SUM(val) AS DOUBLE) FROM per_part) * 0.0007
"""
register("q11_important_parts", q11_important_parts, ORACLE_Q11)


# --- Q13: customer order-count distribution --------------------------------


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-customer order counts INCLUDING zero-order
    customers — Q13's left outer join + two-level aggregate. The outer
    join keys on custkey (one shuffle); customers with no surviving
    orders contribute count 0 through the null-preserving count."""
    c = read_sf_table(spark, sf_dir, "customer")
    o = read_sf_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


ORACLE_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""
register("q13_customer_distribution", q13_customer_distribution, ORACLE_Q13)


# --- Q14: promo revenue percentage -----------------------------------------


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentage of one year's revenue from PROMO parts — Q14's
    conditional-percentage aggregate: numerator and denominator in one
    pass as exact decimals, one division, one round."""
    li = read_sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    p = read_sf_table(spark, sf_dir, "part")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _rev()).otherwise(
            F.lit(0).cast("decimal(18,4)")
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(promo.cast("double").alias("__p"), F.sum(_rev()).cast("double").alias("__t"))
        .select(
            F.round(F.lit(100.0) * F.col("__p") / F.col("__t"), 6).alias(
                "promo_revenue_pct"
            )
        )
    )


ORACLE_Q14 = """
SELECT ROUND(100.0 * promo / total, 6) AS promo_revenue_pct
FROM (
  SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
)
"""
register("q14_promo_revenue", q14_promo_revenue, ORACLE_Q14)


# --- Q15: top supplier by revenue ------------------------------------------


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue — Q15's
    view + scalar-max subquery, planned as one revenue aggregate whose
    1-row max broadcasts back onto itself (exact decimal equality, so
    ties survive identically in both engines)."""
    li = read_sf_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    s = read_sf_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("__rev"))
    mx = rev.agg(F.max("__rev").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("__rev") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("__rev").cast("double"), 4).alias("total_revenue"),
        )
    )


ORACLE_Q15 = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, ROUND(CAST(r AS DOUBLE), 4) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT MAX(r) FROM rev)
"""
register("q15_top_supplier", q15_top_supplier, ORACLE_Q15)


# --- Q16: supplier count with exclusion anti-join --------------------------


def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size) for mid-size non-Brand#1
    parts, EXCLUDING a denylisted supplier set — Q16's NOT IN planned as
    a broadcast anti-join before the distinct-count rollup."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    p = read_sf_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    bad = read_sf_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%00000001%")
    ).select(F.col("s_suppkey").alias("__bad"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(bad), li.l_suppkey == F.col("__bad"), "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%00000001%')
GROUP BY p_brand, p_type, p_size
"""
register("q16_supplier_count", q16_supplier_count, ORACLE_Q16)


# --- Q19: disjunctive predicate pushdown -----------------------------------


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under an OR of three (brand, size-band, quantity-band)
    conjunctions — Q19's disjunctive pushdown: the whole predicate sits
    in ONE filter over the broadcast part join so Catalyst can push the
    common l_quantity bounds to the scan."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    p = read_sf_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.round(F.sum(_rev()).cast("double"), 4).alias("revenue"))
    )


ORACLE_Q19 = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""
register("q19_disjunctive_revenue", q19_disjunctive_revenue, ORACLE_Q19)


# --- Q20: chained semi-joins -----------------------------------------------


def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in NATION_3 who moved more than 80 units of some
    'small'-named part — Q20's nested IN chain planned as aggregate →
    semi-join → broadcast dim filter. The supplier table is only probed,
    never expanded."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    p = read_sf_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = read_sf_table(spark, sf_dir, "supplier")
    n = read_sf_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    movers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .filter(F.col("__q").cast("double") > 80.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


ORACLE_Q20 = """
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_suppkey, l_partkey
    HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 80.0)
"""
register("q20_promotion_suppliers", q20_promotion_suppliers, ORACLE_Q20)


# --- Q21: sole-blocker suppliers (EXISTS + NOT EXISTS) ---------------------


def q21_sole_blocker_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier: how many multi-supplier 'F'-status orders they were
    the ONLY supplier with an 'R'-returnflag line on — Q21's
    EXISTS(other supplier) + NOT EXISTS(other supplier matching the
    fault predicate), planned as a semi-join and an anti-join against
    the same order-keyed fact.

    OUTPUT CONTRACT (r12, locked by the oracle): the grain is PER
    SUPPLIER KEY, not per name — the agg groups on s_suppkey and the
    name is a post-agg broadcast lookup. On data where s_name genuinely
    collides across suppliers this intentionally diverges from classic
    TPC-H GROUP BY s_name (the output carries duplicate s_name rows,
    one per supplier). Chosen because grouping by a key-derived label
    only equals grouping by the key under a functional dependency the
    engine can't assume — the r12 sf1 diagnostic's replicated suppliers
    broke it (10000-vs-1000 rows). Any future oracle or data-generator
    change must preserve per-key grain, not re-open the per-name one."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    o = read_sf_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = read_sf_table(spark, sf_dir, "supplier")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("l_orderkey").alias("__ok"), F.col("l_suppkey").alias("__sk")
        )
        .distinct()
    )
    l2 = li.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_suppkey").alias("__sk2")
    ).distinct()
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("__ok3"), F.col("l_suppkey").alias("__sk3"))
        .distinct()
    )
    exists_other = l1.join(
        l2,
        (F.col("__ok") == F.col("__ok2")) & (F.col("__sk") != F.col("__sk2")),
        "left_semi",
    )
    sole = exists_other.join(
        l3,
        (F.col("__ok") == F.col("__ok3")) & (F.col("__sk") != F.col("__sk3")),
        "left_anti",
    )
    return (
        sole.groupBy("__sk")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("__sk") == s.s_suppkey)
        .select("s_name", "numwait")
    )


ORACLE_Q21 = """
WITH l1 AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R' AND o_orderstatus = 'F'),
-- group by SUPPKEY (the engine's plan: agg on the int key, then a
-- broadcast name lookup), not by s_name: identical whenever s_name is
-- key-derived (true of the TPC-H-shaped data), but the per-supplier
-- semantics also hold on data where names collide — the r12 sf1
-- diagnostic's replicated suppliers diverged 10000-vs-1000 rows under
-- the old GROUP BY s_name.
agg AS (
  SELECT l_suppkey, COUNT(*) AS numwait
  FROM l1
  WHERE EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R')
  GROUP BY l_suppkey)
SELECT s_name, numwait
FROM agg JOIN supplier ON l_suppkey = s_suppkey
"""
register("q21_sole_blocker_suppliers", q21_sole_blocker_suppliers, ORACLE_Q21)


# --- Q22: idle rich customers (scalar threshold + anti-join) ---------------


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above the average positive balance with NO orders after
    mid-1999, rolled up by nation — Q22's scalar-subquery threshold (a
    1-row broadcast, computed as exact-decimal sum / exact count so the
    comparison is bit-stable) plus NOT EXISTS as an anti-join."""
    c = read_sf_table(spark, sf_dir, "customer")
    o = read_sf_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-07-01")
    )
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__avg")
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("totacctbal"),
        )
    )


ORACLE_Q22 = """
SELECT c_nationkey AS nationkey, COUNT(*) AS numcust,
       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-07-01')
GROUP BY c_nationkey
"""
register("q22_idle_customers", q22_idle_customers, ORACLE_Q22)


def q6_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the pure predicate-pushdown aggregate (completes the
    22-shape sweep): every filter reaches the parquet scan, one 1-row
    decimal agg, zero joins."""
    li = read_sf_table(spark, sf_dir, "lineitem")
    out = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(18,4)"
                )
            ).cast("double"),
            4,
        ).alias("revenue")
    )
    return out


ORACLE_Q6 = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""
register("q6_discount_revenue", q6_discount_revenue, ORACLE_Q6)
