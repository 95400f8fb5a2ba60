"""Round-5 sixth wave gate queries.

Mergeable-sketch rollups, skyline, asymmetric near-dup, LSH diagnostics:

- **sketch_hll_merge_weekly** — daily HLL register frames over
  (user, event_type) engagement pairs merged into WEEKLY estimates with a
  groupBy-max (never re-reading raw data): the mergeability property that
  makes sketches the scale answer to per-window distincts. The sketch key
  is the pair, not the bare user, so weekly cardinality (~750) keeps the
  cross-libm ln linear-counting branch dormant (raw > 2.5m).
- **customer_skyline_frontier** — per-nation Pareto frontier of customers
  on (total spend, order count): sort-by-spend + strict-prefix max of the
  per-spend-group count, O(n log n) with NO pairwise dominance join.
- **containment_near_dup** — asymmetric shingle containment
  |A∩B|/min-side: catches quotes/subset duplication that symmetric
  Jaccard under-scores (a 100-word doc fully embedded in a 10k-word doc
  has tiny Jaccard but containment 1.0).
- **lsh_band_collision_stats** — per-band bucket/candidate-pair census of
  the MinHash-LSH frame: the tuning dial (bands × rows trade-off) read
  directly from the engine's own banded frame.
- **dau_moving_average** — daily active users with a 7-day trailing mean:
  exact BIGINT distinct counts, denominator = actual rows in frame (no
  edge bias), one division.

Determinism contract as ever: BIGINT counts, decimal money, single final
divisions mirrored literally by the oracle, no libm in any fired branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.llm.dedup import (
    banded_minhash_frame,
    shingle_intersection_counts,
)
from aos_spark.ops import sketches
from aos_spark.ops.exact_round import round_ratio6
from aos_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_sf_table(spark, sf_dir, name)


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
    ev = _t(spark, sf_dir, "events")
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
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
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


# -------------------------------------------------------- containment_near_dup
def q_containment_near_dup(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_candidate_pairs: int | None = None,
    on_over_budget: str = "drop",
) -> DataFrame:
    """Asymmetric near-dup: shingle containment |A∩B| / |smaller side|.
    Quote and subset duplication (one doc embedded in a much larger one)
    scores near 1.0 here while symmetric Jaccard dilutes it toward 0.
    LITERALLY the same candidate machinery as dedup_ngram_jaccard
    (llm/dedup.shingle_intersection_counts): one persisted exploded-shingle
    frame, max_shingle_df hot-key cap (bounds per-key join fan-out at K²;
    the r5 uncapped version was quadratic in corpus size on any shared
    boilerplate shingle and 3× slower at sf0.1), forced sort-merge
    self-join. The cap only drops join keys; the containment denominator
    uses the full per-doc counts, so with no shingle over the cap (true at
    all test SFs) results are bit-identical to the uncapped oracle.

    ``max_candidate_pairs`` (keyword-only, default None = off, registry
    plan unchanged) threads the r14 pair budget into the candidate join
    for production callers and the guarded scale-curve measurement
    (scripts/pair_budget_curve.py --family); sizing:
    llm/dedup.suggested_pair_budget."""
    d = _t(spark, sf_dir, "documents")
    inter = shingle_intersection_counts(
        d, "doc_id", "text", 3,
        max_candidate_pairs=max_candidate_pairs,
        on_over_budget=on_over_budget,
    )
    containment = round_ratio6(F.col("n_common"), F.least("n_a", "n_b"))
    return (
        inter.withColumn("containment", containment)
        .filter(F.col("containment") >= 0.5)
        .select("id_a", "id_b", "n_common", "containment")
    )


ORACLE_CONTAINMENT = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
           ELSE [array_to_string(t, ' ')] END) AS shingles
  FROM (SELECT doc_id,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
        FROM documents)),
ex AS (SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, n_common,
       CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(LEAST(n_a, n_b) AS HUGEINT)) // (CAST(LEAST(n_a, n_b) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS containment
FROM inter
WHERE CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(LEAST(n_a, n_b) AS HUGEINT)) // (CAST(LEAST(n_a, n_b) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= 0.5
"""
register("containment_near_dup", q_containment_near_dup, ORACLE_CONTAINMENT)


# ----------------------------------------------------- lsh_band_collision_stats
def q_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning census straight off the engine's own banded MinHash
    frame: per band, the number of occupied buckets, colliding buckets
    (size ≥ 2), candidate pairs Σ s·(s−1)/2, and the largest bucket. This
    is how you pick bands × rows before burning a cluster-day: candidate
    count is the verify-stage cost, max bucket the skew risk. Two small
    shuffles: (band, band_key) census then a 4-row band rollup."""
    d = _t(spark, sf_dir, "documents")
    banded = banded_minhash_frame(d, "doc_id", "text", num_hashes=16, bands=4)
    buckets = banded.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(F.col("sz") >= 2, 1).otherwise(0)).alias(
                "n_colliding"
            ),
            F.sum(
                (F.col("sz") * (F.col("sz") - 1) / F.lit(2)).cast("long")
            ).alias("n_candidate_pairs"),
            F.max("sz").alias("max_bucket"),
        )
        .select(
            "band", "n_buckets", "n_colliding", "n_candidate_pairs",
            "max_bucket",
        )
    )


def _lsh_band_stats_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    from aos_spark.llm import dedup as D

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
    return rf"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
           ELSE [array_to_string(t, ' ')] END) AS shingles
  FROM (SELECT doc_id,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
        FROM documents)),
hashed_t AS (
  SELECT doc_id,
         list_transform(shingles,
           s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)) AS hashed
  FROM sh),
sig AS (SELECT doc_id, [{sig_items}] AS sig FROM hashed_t),
banded AS (
  SELECT doc_id, UNNEST([{band_structs}], recursive := true) FROM sig),
buckets AS (
  SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS sz
  FROM banded GROUP BY 1, 2)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding,
       CAST(SUM(CAST(sz * (sz - 1) / 2 AS BIGINT)) AS BIGINT) AS n_candidate_pairs,
       MAX(sz) AS max_bucket
FROM buckets GROUP BY band
"""


register("lsh_band_collision_stats", q_lsh_band_stats, _lsh_band_stats_oracle())


# --------------------------------------------------------- dau_moving_average
def q_dau_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users with a 7-day trailing mean. Exact BIGINT
    distinct per day (one (day, user) shuffle), then the MA window rides
    a ~weeks-sized frame: sum and row count over the trailing 7 rows, ONE
    division — edge days average over however many days exist (no NULL
    padding bias). The day frame is tiny at any scale, so the single-
    partition window is over #days rows, not raw data; it still
    partitions by year to keep the no-global-window rule honest."""
    ev = _t(spark, sf_dir, "events")
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


