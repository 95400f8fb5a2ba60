"""Window and event-stream queries: sessions, rolling and RANGE
frames, tumbling windows, gap filling, funnels, cohorts, sequence gaps,
Markov transitions (ops/windows, ops/sequences), burst and path mining,
and per-nation growth, Pareto and RFM analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.ops import sequences as SQ
from aos_spark.ops import windows
from aos_spark.ops.exact_round import round_ratio6
from aos_spark.ops.windows import sequence_gaps
from aos_spark.queries.common import dsum, dsum_sql
from aos_spark.registry import register


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch face of the stateful streaming
    operator): lag → session-start flags → running-sum session ids →
    per-session aggregates. 6-hour gap on the events stream."""
    ev = read_sf_table(spark, sf_dir, "events")
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


def q_rolling_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer rolling 4-order spend (ROWS BETWEEN 3 PRECEDING AND
    CURRENT ROW) — partitioned window, decimal accumulation so the moving
    sum is independent of partitioning. The (date, orderkey) sort key is
    unique per customer, so the frame is deterministic."""
    o = read_sf_table(spark, sf_dir, "orders")
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


def q_tumbling_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event windows per type — the BATCH face of the
    Structured-Streaming job (streaming/jobs.windowed_member_counts runs
    the same F.window aggregation over readStream with a watermark;
    epoch-aligned tumbling windows ≡ date_trunc('hour'))."""
    ev = read_sf_table(spark, sf_dir, "events")
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
       {dsum_sql('value', 6)} AS sum_value
FROM events GROUP BY 1, 2
"""
register("tumbling_event_windows", q_tumbling_event_windows, ORACLE_TUMBLING)


def q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (the hypertable-resample shape): build the
    dense hourly spine per event type with sequence()+explode — generated
    distributed, never on the driver — left-join the hourly rollup onto
    it, and forward-fill through gaps with a partitioned
    last-ignore-nulls window. Missing hours report 0 events and carry the
    previous hour's value."""
    ev = read_sf_table(spark, sf_dir, "events")
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
         {dsum_sql('value', 6)} AS sum_value
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


def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the
    distinct-over-window rewrite: windows can't host COUNT(DISTINCT), so
    reduce each (type, user) to its FIRST day (one shuffle), count new
    users per day, and run an ordinary running sum. Linear, partitioned,
    and exact — the form that survives 100 TB where a per-day distinct
    recount is quadratic in history length."""
    ev = read_sf_table(spark, sf_dir, "events")
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


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase per user: step flags are
    running-max window expressions over ONE user-keyed sort (a click only
    counts after a view, a purchase only after such a click), so the whole
    funnel costs one shuffle + one window pass + a scalar aggregate —
    never a per-step self-join."""
    ev = read_sf_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s1 = F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(w)
    step1 = ev.withColumn("__s1", s1)
    s2 = F.max(
        F.when((F.col("event_type") == "click") & (F.col("__s1") == 1), 1).otherwise(0)
    ).over(w)
    step2 = step1.withColumn("__s2", s2)
    s3 = F.max(
        F.when((F.col("event_type") == "purchase") & (F.col("__s2") == 1), 1).otherwise(
            0
        )
    ).over(w)
    per_user = (
        step2.withColumn("__s3", s3)
        .groupBy("user_id")
        .agg(
            F.max("__s1").alias("__u1"),
            F.max("__s2").alias("__u2"),
            F.max("__s3").alias("__u3"),
        )
    )
    return per_user.agg(
        F.sum("__u1").alias("users_view"),
        F.sum("__u2").alias("users_click_after_view"),
        F.sum("__u3").alias("users_purchase_after_click"),
    )


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1
  FROM events),
s2 AS (
  SELECT *, MAX(CASE WHEN event_type = 'click' AND f1 = 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
  FROM s1),
s3 AS (
  SELECT *, MAX(CASE WHEN event_type = 'purchase' AND f2 = 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f3
  FROM s2),
u AS (SELECT user_id, MAX(f1) u1, MAX(f2) u2, MAX(f3) u3 FROM s3 GROUP BY 1)
SELECT CAST(SUM(u1) AS BIGINT) AS users_view,
       CAST(SUM(u2) AS BIGINT) AS users_click_after_view,
       CAST(SUM(u3) AS BIGINT) AS users_purchase_after_click
FROM u
"""
register("funnel_conversion", q_funnel_conversion, ORACLE_FUNNEL)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted on
    each later active day as (cohort_day, days_since, n_users). First
    touch is one user-keyed aggregate; the activity join keys on user_id
    (at scale the cohort frame is user-dim-sized — co-partitioned with
    the fact, no broadcast assumption)."""
    ev = read_sf_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("__day")
    )
    first = ev.groupBy("user_id").agg(F.min("__day").alias("__cohort"))
    active = ev.distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            F.col("__cohort").alias("cohort_day"),
            F.datediff(F.col("__day"), F.col("__cohort")).alias("days_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


ORACLE_COHORT = """
WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
first AS (SELECT user_id, MIN(day) AS cohort FROM ev GROUP BY 1)
SELECT cohort AS cohort_day,
       CAST(day - cohort AS INT) AS days_since,
       COUNT(*) AS n_users
FROM ev JOIN first USING (user_id)
GROUP BY 1, 2
"""
register("cohort_retention", q_cohort_retention, ORACLE_COHORT)


def q_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap detection over an id sequence (completeness audit for ingested
    logs) WITHOUT a global sort: ids bucket by ``id div B``, intra-bucket
    holes come from a bucket-PARTITIONED lag window, and cross-bucket
    holes (including runs of entirely-missing buckets) come from the lag
    of per-bucket (min, max) summaries — a frame B× smaller than the ids,
    the same two-level reduction as cumulative_distinct_users. The only
    ordered window left runs over the summary frame (n/B rows; recurse
    the same trick if that ever stops fitting). Results are identical to
    the single-window islands idiom (oracle unchanged)."""
    ev = read_sf_table(spark, sf_dir, "events").filter(F.col("event_type") != "error")
    return sequence_gaps(ev, "event_id", bucket=4096)


ORACLE_SEQUENCE_GAPS = """
WITH ids AS (
  SELECT DISTINCT event_id FROM events WHERE event_type <> 'error'),
l AS (
  SELECT event_id, LAG(event_id) OVER (ORDER BY event_id) AS prev FROM ids)
SELECT prev + 1 AS gap_start, event_id - 1 AS gap_end,
       event_id - prev - 1 AS gap_len
FROM l WHERE prev IS NOT NULL AND event_id - prev > 1
"""
register("sequence_gap_detection", q_sequence_gaps, ORACLE_SEQUENCE_GAPS)


def q_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (vs the ROWS frames elsewhere): per customer,
    total order value over the trailing 7 DAYS — a value-based frame, so
    same-day orders aggregate together and calendar gaps shrink the
    window. Ordering key is the day number (rangeBetween needs a numeric
    order), partition stays custkey — one shuffle."""
    o = read_sf_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-6, 0)
    )
    return o.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_day"),
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"),
            2,
        ).alias("spend_7d"),
    )


ORACLE_RANGE_FRAME = """
SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_day, o_orderkey,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             OVER (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
                   RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
             AS DOUBLE), 2) AS spend_7d
FROM orders
"""
register("range_frame_window_spend", q_range_frame_spend, ORACLE_RANGE_FRAME)


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.transition_matrix(
        read_sf_table(spark, sf_dir, "events"), "user_id", "event_type", ["ts", "event_id"]
    )


ORACLE_TRANSITION = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
  FROM events),
c AS (
  SELECT prev_state, event_type AS next_state, COUNT(*) AS n_transitions
  FROM seq WHERE prev_state IS NOT NULL GROUP BY 1, 2)
SELECT prev_state, next_state, n_transitions,
       n_transitions / CAST(SUM(n_transitions) OVER (PARTITION BY prev_state) AS DOUBLE) AS prob
FROM c
"""
register("event_transition_matrix", q_event_transition_matrix, ORACLE_TRANSITION)


def q_user_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.burst_hours(
        read_sf_table(spark, sf_dir, "events"), "user_id", "ts", lookback_hours=3, factor=2
    )


ORACLE_BURST = """
WITH hourly AS (
  SELECT user_id, CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour_id, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
t AS (
  SELECT user_id, n,
         SUM(n) OVER w AS trail_sum,
         COUNT(n) OVER w AS trail_n
  FROM hourly
  WINDOW w AS (PARTITION BY user_id ORDER BY hour_id
               RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING)),
f AS (
  SELECT user_id, n,
         (trail_n > 0 AND n * trail_n >= 2 * trail_sum) AS is_burst
  FROM t)
SELECT user_id, COUNT(*) AS n_active_hours,
       CAST(SUM(CASE WHEN is_burst THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_hours,
       MAX(n) AS peak_hourly,
       CAST(SUM(n) AS BIGINT) AS total_events
FROM f GROUP BY user_id
"""
register("user_burst_hours", q_user_burst_hours, ORACLE_BURST)


def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.session_paths(
        read_sf_table(spark, sf_dir, "events"),
        "user_id",
        "ts",
        "event_type",
        "event_id",
        gap_seconds=21600,
        max_len=5,
        k=20,
    )


# NOTE: the gap test uses FLOOR(epoch(ts)) — Spark's unix_timestamp
# truncates to whole seconds, and for positive epochs trunc == floor, so
# the oracle replicates the truncation rather than comparing fractional
# gaps (which could disagree within 1 s of the threshold).
ORACLE_SESSION_PATHS = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w IS NULL
                OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w > 21600
              THEN 1 ELSE 0 END AS start_flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sid AS (
  SELECT user_id, event_id, ts, event_type,
         SUM(start_flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts, event_id) AS rn
  FROM sid),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM rn WHERE rn <= 5 GROUP BY user_id, session_id),
counts AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path),
top AS (SELECT * FROM counts ORDER BY n_sessions DESC, path ASC LIMIT 20)
SELECT path, n_sessions,
       CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path ASC) AS INT)
         AS rank_in_group
FROM top
"""
register("session_path_topk", q_session_path_topk, ORACLE_SESSION_PATHS)


def q_monthly_growth_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per customer nation: broadcast
    customer→nation dims onto orders, one (nation, month) decimal rollup,
    one nation-partitioned lag window, one exact-operand pct division.
    The report shape every warehouse runs daily — shuffles only on the
    rollup keys, the growth window rides the same partitioning."""
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
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("nation").orderBy("month")
    g = monthly.withColumn("prev_revenue", F.lag("revenue").over(w))
    return g.select(
        "nation",
        "month",
        "revenue",
        "prev_revenue",
        F.when(
            F.col("prev_revenue").isNotNull(),
            F.round(
                (F.col("revenue") - F.col("prev_revenue"))
                / F.col("prev_revenue"),
                6,
            ),
        ).alias("mom_growth"),
    )


ORACLE_MONTHLY_GROWTH = """
WITH monthly AS (
  SELECT n_name AS nation,
         -- DuckDB month-level date_trunc returns DATE; Spark returns
         -- TIMESTAMP — align the types for the hash compare
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
g AS (
  SELECT nation, month, revenue,
         LAG(revenue) OVER (PARTITION BY nation ORDER BY month) AS prev_revenue
  FROM monthly)
SELECT nation, month, revenue, prev_revenue,
       CASE WHEN prev_revenue IS NOT NULL
            THEN ROUND((revenue - prev_revenue) / prev_revenue, 6)
            END AS mom_growth
FROM g
"""
register("monthly_growth_by_nation", q_monthly_growth_by_nation, ORACLE_MONTHLY_GROWTH)


def q_revenue_pareto_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) per nation: rank each nation's
    customers by lifetime order revenue, report what share of the
    nation's revenue its top-10% customers hold. Customer revenues roll
    up decimal-exact; the ranking window and running sum are PARTITIONED
    by nation (customer-dim-sized frames); the share is one division of
    exactly-converted decimal sums."""
    o = read_sf_table(spark, sf_dir, "orders")
    c = read_sf_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_sf_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
    )
    w = Window.partitionBy("nation").orderBy(
        F.col("rev").desc(), F.col("cust").asc()
    )
    cw = Window.partitionBy("nation")
    ranked = cust_rev.select(
        "nation",
        "rev",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n_cust"),
    ).withColumn("top_k", F.ceil(F.col("n_cust") * 0.1).cast("long"))
    return ranked.groupBy("nation").agg(
        F.min("n_cust").alias("n_customers"),
        F.min("top_k").alias("n_top_customers"),
        F.round(
            F.sum(F.when(F.col("rn") <= F.col("top_k"), F.col("rev"))).cast(
                "double"
            )
            / F.sum("rev").cast("double"),
            6,
        ).alias("top_decile_share"),
    )


ORACLE_PARETO = """
WITH cust_rev AS (
  SELECT n_name AS nation, o_custkey AS cust,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
ranked AS (
  SELECT nation, rev,
         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY rev DESC, cust ASC) AS rn,
         COUNT(*) OVER (PARTITION BY nation) AS n_cust
  FROM cust_rev),
cut AS (SELECT *, CAST(CEIL(n_cust * 0.1) AS BIGINT) AS top_k FROM ranked)
SELECT nation,
       CAST(MIN(n_cust) AS BIGINT) AS n_customers,
       MIN(top_k) AS n_top_customers,
       ROUND(CAST(SUM(CASE WHEN rn <= top_k THEN rev END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE), 6) AS top_decile_share
FROM cut GROUP BY nation
"""
register("revenue_pareto_by_nation", q_revenue_pareto_by_nation, ORACLE_PARETO)


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation per nation: recency/frequency/monetary
    quintiles (NTILE over nation-partitioned windows — the Pareto
    precedent: windows run over the customer AGGREGATE, dim-sized, never
    raw orders), segments rolled up to ≤125 cells per nation with exact
    decimal revenue totals. NTILE's equal-division-remainder-first
    semantics match across engines given the total tiebreak order."""
    o = read_sf_table(spark, sf_dir, "orders")
    c = read_sf_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_sf_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("monetary"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "o_custkey", "last_order", "freq", "monetary")
    )

    def q5(order_cols):
        return F.ntile(5).over(
            Window.partitionBy("nation").orderBy(*order_cols, "o_custkey")
        )

    seg = cust.select(
        "nation",
        "monetary",
        q5([F.col("last_order").desc()]).alias("r_q"),
        q5([F.col("freq").desc()]).alias("f_q"),
        q5([F.col("monetary").desc()]).alias("m_q"),
    )
    return seg.groupBy("nation", "r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary").cast("double").alias("segment_revenue"),
    )


ORACLE_RFM = """
WITH cust AS (
  SELECT n_name AS nation, o_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS freq,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS monetary
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
seg AS (
  SELECT nation, monetary,
         NTILE(5) OVER (PARTITION BY nation ORDER BY last_order DESC, o_custkey) AS r_q,
         NTILE(5) OVER (PARTITION BY nation ORDER BY freq DESC, o_custkey) AS f_q,
         NTILE(5) OVER (PARTITION BY nation ORDER BY monetary DESC, o_custkey) AS m_q
  FROM cust)
SELECT nation, CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
       CAST(m_q AS INTEGER) AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary) AS DOUBLE) AS segment_revenue
FROM seg GROUP BY 1, 2, 3, 4
"""
register("rfm_segmentation", q_rfm_segmentation, ORACLE_RFM)


# ----------------------------------------------------------- markov_two_step
def q_markov_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step transition probabilities between event types: for each
    event, the type two steps later on the same user's timeline (lead-2
    over a user-partitioned window, ts then event_id tiebreak — the repo's
    deterministic ordering contract). P(c | a, ·) = paths(a→·→c) /
    paths-from-a, one division. Same single user-keyed shuffle as
    sessionize; the tiny (type,type) matrix aggregates map-side."""
    ev = read_sf_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.withColumn("to_type", F.lead("event_type", 2).over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    wt = Window.partitionBy("from_type")
    return paths.withColumn("n_from", F.sum("n_paths").over(wt)).select(
        "from_type",
        "to_type",
        "n_paths",
        round_ratio6(F.col("n_paths"), F.col("n_from")).alias("prob"),
    )


ORACLE_MARKOV_TWO_STEP = """
WITH p AS (
  SELECT event_type AS from_type,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS to_type
  FROM events),
c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_paths
  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
t AS (
  SELECT from_type, to_type, n_paths,
         CAST(SUM(n_paths) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
  FROM c)
SELECT from_type, to_type, n_paths,
       CAST((CAST(n_paths AS HUGEINT) * 1000000 * 2 + CAST(n_from AS HUGEINT)) // (CAST(n_from AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS prob
FROM t
"""
register("markov_two_step", q_markov_two_step, ORACLE_MARKOV_TWO_STEP)


# --------------------------------------------------------- dau_moving_average
def q_dau_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users with a 7-day trailing mean. Exact BIGINT
    distinct per day (one (day, user) shuffle), then the MA window rides
    a ~weeks-sized frame: sum and row count over the trailing 7 rows, ONE
    division — edge days average over however many days exist (no NULL
    padding bias). The day frame is tiny at any scale, so the single-
    partition window is over #days rows, not raw data; it still
    partitions by year to keep the no-global-window rule honest."""
    ev = read_sf_table(spark, sf_dir, "events")
    dau = (
        ev.select(
            F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
        )
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("dau"))
    )
    w = (
        Window.partitionBy(F.year("day"))
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    return dau.select(
        "day",
        "dau",
        F.round(
            F.sum("dau").over(w).cast("double") / F.count("dau").over(w), 6
        ).alias("dau_7d_avg"),
    )


ORACLE_DAU_MA = """
WITH dau AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM events GROUP BY 1)
SELECT day, dau,
       ROUND(CAST(SUM(dau) OVER w AS DOUBLE) / COUNT(dau) OVER w, 6)
         AS dau_7d_avg
FROM dau
WINDOW w AS (PARTITION BY EXTRACT(year FROM day) ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""
register("dau_moving_average", q_dau_moving_average, ORACLE_DAU_MA)
