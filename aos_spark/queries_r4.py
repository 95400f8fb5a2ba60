"""Round-4 additions beyond the TPC-H sweep (queries_tpch.py), spanning
four families:

- **LLM curation**: composite corpus filter, vocabulary build/encode,
  distributed k-means, weighted/k-fold sampling, end-to-end dedup
  resolution — the steps between raw crawl and training shards.
- **Warehouse maintenance**: SCD2 history, CDC snapshot diff,
  incremental aggregate states, expectation suite, table reconciliation.
- **Analytics**: funnel, cohort retention, z-score outliers, triangle
  counting, sequence gaps, RANGE-frame windows, ROLLUP hierarchy,
  EXCEPT ALL, JSON schema-on-read.
- **Sketches**: grouped/mergeable HLL, histogram quantile sketch.

Every query pairs with a DuckDB oracle below; determinism follows the
repo-wide contract (decimal accumulation, hash-derived randomness,
IEEE-stable single divisions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aos_spark.io.readers import read_sf_table
from aos_spark.queries_core import (
    ORACLE_DEDUP_CLUSTERS,
    ORACLE_QUALITY,
    _embedding_neardup_oracle,
)
from aos_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_sf_table(spark, sf_dir, name)


def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style keep/drop verdict with first-failing-rule reasons
    (llm/text.corpus_filter) — single codegen'd projection, no shuffle."""
    from aos_spark.llm import text as TX

    return TX.corpus_filter(_t(spark, sf_dir, "documents"))


ORACLE_CORPUS_FILTER = r"""
WITH feats AS (
  SELECT doc_id, trim(text) AS t,
         length(trim(text)) AS n_chars,
         length(regexp_replace(trim(text), '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(trim(text), '[^.,;:!?''"()\[\]]', '', 'g')) AS n_punct,
         string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents),
sig AS (
  SELECT doc_id,
         CASE WHEN t IS NULL OR t = '' THEN 'empty'
              WHEN len(toks) < 10 THEN 'too_short'
              WHEN len(toks) > 5000 THEN 'too_long'
              WHEN n_alpha / GREATEST(n_chars, 1) < 0.5 THEN 'low_alpha'
              WHEN n_punct / GREATEST(n_chars, 1) > 0.3 THEN 'high_punct'
              WHEN len(list_distinct(toks)) / CAST(GREATEST(len(toks), 1) AS DOUBLE) < 0.3
                THEN 'repetitive' END AS reject_reason
  FROM feats)
SELECT doc_id, reject_reason IS NULL AS keep, reject_reason FROM sig
"""
register("corpus_quality_filter", q_corpus_quality_filter, ORACLE_CORPUS_FILTER)


def q_vocab_min_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with document frequencies (llm/text.build_vocab),
    min_df=5 — the Zipf-bounded frame the tf-idf tier broadcasts."""
    from aos_spark.llm import text as TX

    return TX.build_vocab(_t(spark, sf_dir, "documents"), min_df=5)


ORACLE_VOCAB = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM documents),
d AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> '')
SELECT term, COUNT(*) AS df FROM d GROUP BY term HAVING COUNT(*) >= 5
"""
register("vocab_min_df", q_vocab_min_df, ORACLE_VOCAB)


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration over the embeddings table, k=4,
    deterministic lowest-id seeding (llm/cluster.kmeans_lloyd_step);
    exact-decimal distances make assignment bit-stable, output is
    long-form centroids."""
    from aos_spark.llm import cluster as C

    return C.kmeans_lloyd_step(_t(spark, sf_dir, "embeddings"), k=4)


ORACLE_KMEANS = """
WITH ee AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
ce AS (SELECT vec_id AS cid, dim, v AS c FROM ee
       WHERE vec_id IN (SELECT vec_id FROM embeddings
                        ORDER BY vec_id LIMIT 4)),
dist AS (
  SELECT e.vec_id, c.cid,
         SUM(CAST((e.v - c.c) * (e.v - c.c) AS DECIMAL(30,15))) AS d
  FROM ee e JOIN ce c USING (dim) GROUP BY 1, 2),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dist)
  WHERE rn = 1)
SELECT a.cid AS cluster_id, COUNT(*) AS n_members, e.dim,
       ROUND(CAST(SUM(CAST(e.v AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS centroid
FROM ee e JOIN assigned a USING (vec_id)
GROUP BY 1, 3
"""
register("kmeans_lloyd_step", q_kmeans_step, ORACLE_KMEANS)


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase per user: step flags are
    running-max window expressions over ONE user-keyed sort (a click only
    counts after a view, a purchase only after such a click), so the whole
    funnel costs one shuffle + one window pass + a scalar aggregate —
    never a per-step self-join."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
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
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events").select(
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


def q_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL distinct-customer estimate over orders by status
    (ops/sketches.hll_estimate_grouped) — one pass for all groups; every
    group's cardinality (~1.4k) is far past 2.5·m, so the estimate is the
    bit-exact raw branch in both engines (no transcendental fires)."""
    from aos_spark.ops import sketches

    o = _t(spark, sf_dir, "orders")
    return sketches.hll_estimate_grouped(o, "o_custkey", ["o_orderstatus"])


def _hll_grouped_oracle(p: int = 6) -> str:
    from aos_spark.ops import sketches

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


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (ops/scd.scd2_apply): the customer
    dimension opened at 1995-01-01 receives a snapshot where every 7th
    customer changed segment and every 13th disappeared — changed rows
    close + reopen, deletions close, the rest stay open. One full-outer
    join keyed on the business key; closed history never joins."""
    from pyspark.sql import functions as F

    from aos_spark.ops.scd import scd2_apply

    c = _t(spark, sf_dir, "customer")
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
    from pyspark.sql import functions as F

    from aos_spark.ops import incremental as I

    li = _t(spark, sf_dir, "lineitem")
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


def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → integer token-id sequences against the frequency-ranked
    min-df vocabulary (llm/text.encode_tokens) — the final tokenize step
    before packing; OOV tokens drop, order restored by position. The id
    sequence is emitted comma-joined (the driver's pandas canonicalizer
    can't hash LIST cells — r4 verdict); the array API stays covered by
    tests/test_scd_incremental.py::test_encode_tokens_order_and_oov."""
    from pyspark.sql import functions as F

    from aos_spark.llm import text as TX

    enc = TX.encode_tokens(_t(spark, sf_dir, "documents"), min_df=5)
    return enc.select(
        "doc_id",
        F.array_join(
            F.transform("token_ids", lambda v: v.cast("string")), ","
        ).alias("token_ids"),
    )


ORACLE_VOCAB_ENCODE = """
WITH toks AS (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS term
  FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS l
        FROM documents)),
tk AS (SELECT * FROM toks WHERE term <> ''),
d AS (SELECT DISTINCT doc_id, term FROM tk),
vocab AS (SELECT term, COUNT(*) AS df FROM d GROUP BY 1 HAVING COUNT(*) >= 5),
ids AS (SELECT term,
               CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term) AS INT) AS token_id
        FROM vocab)
SELECT doc_id,
       array_to_string(list(token_id ORDER BY pos), ',') AS token_ids
FROM tk JOIN ids USING (term)
GROUP BY doc_id
"""
register("vocab_encode_tokens", q_vocab_encode, ORACLE_VOCAB_ENCODE)


def q_validation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style expectation suite (ops/validate): nullability, key
    uniqueness, accepted values, and two referential-integrity checks
    across three tables, unioned into one (check, n_failed) report."""
    from aos_spark.ops import validate as V

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
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


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier counts over events.value: mean/variance
    from EXACT decimal moments (one agg pass), stddev via IEEE sqrt
    (correctly rounded in both engines → bit-stable), outlier flags in a
    second pass against the broadcast per-group stats."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
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


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the embedding near-dup graph (ops/graph.triangle_count,
    degree-oriented wedge join — out-degree bounded by O(√E), so a hub
    node cannot quadratically explode the wedge stage)."""
    from aos_spark.llm import dedup as D
    from aos_spark.ops.graph import triangle_count

    e = _t(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dups(e, threshold=0.2, n_planes=4)
    return triangle_count(pairs)


def _triangle_oracle() -> str:
    return f"""
WITH e AS (SELECT id_a AS a, id_b AS b FROM ({_embedding_neardup_oracle()}))
SELECT COUNT(*) AS n_triangles
FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
"""


register("graph_triangle_count", q_triangle_count, _triangle_oracle())


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sample of documents (weight =
    n_chars), rolled up per language — long documents sample
    proportionally more, yet the kept set is a pure hash function of
    doc_id (llm/sampling.weighted_sample)."""
    from pyspark.sql import functions as F

    from aos_spark.llm import sampling

    d = _t(spark, sf_dir, "documents").withColumn(
        "__w", F.length(F.col("text")).cast("double")
    )
    kept = sampling.weighted_sample(d, "__w", fraction=0.2)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.col("__w").cast("decimal(28,2)")).cast("double").alias("total_weight"),
    )


def _weighted_sample_oracle(
    fraction: float = 0.2, salt: str = "wsample", n_buckets: int = 1_000_000
) -> str:
    return f"""
WITH d AS (
  SELECT lang, doc_id, CAST(length(text) AS DOUBLE) AS w FROM documents),
m AS (
  SELECT CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) / COUNT(w) AS mean_w FROM d),
kept AS (
  SELECT d.* FROM d, m
  WHERE CAST(CAST('0x' || substring(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 8)
             AS BIGINT) % {n_buckets} AS DOUBLE) / {float(n_buckets)}
        < LEAST(1.0, {fraction} * w / mean_w))
SELECT lang, COUNT(*) AS n_sampled,
       CAST(SUM(CAST(w AS DECIMAL(28,2))) AS DOUBLE) AS total_weight
FROM kept GROUP BY lang
"""


register("weighted_sample_stats", q_weighted_sample, _weighted_sample_oracle())


def q_dedup_resolution(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_candidate_pairs: int | None = None,
    on_over_budget: str = "drop",
) -> DataFrame:
    """End-to-end dedup RESOLUTION — the step a curation pipeline actually
    ships: near-dup pairs → connected components → keep the best-quality
    doc per cluster (ties → lowest doc_id), singletons keep themselves →
    per-language kept/dropped accounting. Composes ngram_jaccard_pairs,
    dup_clusters, and quality_score; the only additions are one per-
    cluster argmax window (partitioned by cluster) and a rollup.

    ``max_candidate_pairs`` (keyword-only, default None = off, registry
    plan unchanged) threads the r14 pair budget into the pairs stage —
    the CC/keeper stages downstream are Θ(pairs) so the budget bounds
    them transitively; sizing: llm/dedup.suggested_pair_budget."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aos_spark.llm import dedup as D
    from aos_spark.llm import text as TX

    d = _t(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        d, n=3, threshold=0.35,
        max_candidate_pairs=max_candidate_pairs,
        on_over_budget=on_over_budget,
    )
    clusters = D.dup_clusters(pairs)
    scored = TX.quality_features(d).withColumn("quality", TX.quality_score())
    docs = (
        scored.join(clusters, "doc_id", "left")
        .withColumn("__cid", F.coalesce("cluster_id", "doc_id"))
        .select("doc_id", "lang", "__cid", "quality")
    )
    w = Window.partitionBy("__cid").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = docs.withColumn("__rn", F.row_number().over(w))
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("__rn") == 1).cast("long")).alias("n_kept"),
        F.sum((F.col("__rn") > 1).cast("long")).alias("n_dropped"),
    )


def _dedup_resolution_oracle() -> str:
    return f"""
WITH clu AS (SELECT * FROM ({ORACLE_DEDUP_CLUSTERS})),
q AS (SELECT doc_id, quality FROM ({ORACLE_QUALITY})),
docs AS (
  SELECT d.doc_id, d.lang, COALESCE(clu.cluster_id, d.doc_id) AS cid, q.quality
  FROM documents d LEFT JOIN clu USING (doc_id) JOIN q USING (doc_id)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY quality DESC, doc_id) AS rn
  FROM docs)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked GROUP BY lang
"""


register("dedup_resolution", q_dedup_resolution, _dedup_resolution_oracle())


def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment (llm/sampling.kfold_assign)
    summarized as (fold, lang, n_docs) — fold membership is a pure hash
    of the id, so folds are identical on any cluster/partitioning."""
    from pyspark.sql import functions as F

    from aos_spark.llm import sampling

    d = _t(spark, sf_dir, "documents")
    return sampling.kfold_assign(d, k=5).groupBy("fold", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _kfold_oracle(k: int = 5, salt: str = "fold") -> str:
    return f"""
SELECT CAST(CAST('0x' || substring(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 8)
            AS BIGINT) % {k} AS INT) AS fold,
       lang, COUNT(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


register("kfold_assignment", q_kfold, _kfold_oracle())


def q6_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the pure predicate-pushdown aggregate (completes the
    22-shape sweep): every filter reaches the parquet scan, one 1-row
    decimal agg, zero joins."""
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
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


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured tier: parse the events.props JSON column with an
    explicit schema (from_json — JVM-side Jackson, no Python) and roll up
    the extracted field per event type. At scale the parse is a codegen'd
    projection; schema-on-read instead of a second ETL pass."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
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
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
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
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
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
    from pyspark.sql import functions as F

    from aos_spark.ops.reconcile import diff_buckets

    o = _t(spark, sf_dir, "orders")
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
    from pyspark.sql import functions as F

    from aos_spark.ops.windows import sequence_gaps

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") != "error")
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


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile sketch over lineitem.l_extendedprice
    (ops/sketches.quantile_sketch): p50/p90/p99 from a 256-bin mergeable
    state — the streaming-friendly complement to the exact percentile
    tier."""
    from aos_spark.ops import sketches

    li = _t(spark, sf_dir, "lineitem")
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


def q_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (vs the ROWS frames elsewhere): per customer,
    total order value over the trailing 7 DAYS — a value-based frame, so
    same-day orders aggregate together and calendar gaps shrink the
    window. Ordering key is the day number (rangeBetween needs a numeric
    order), partition stays custkey — one shuffle."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")
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


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two order snapshots (ops/scd.snapshot_diff): the same
    perturbation as reconcile_tables (price bump for ~1% of customers,
    ~0.1% of rows deleted), summarized per op. Reconcile answers WHERE
    tables differ from fixed-size checksums; this emits WHAT changed —
    feed size tracks the change rate, never the table size."""
    from pyspark.sql import functions as F

    from aos_spark.ops.scd import snapshot_diff

    o = _t(spark, sf_dir, "orders").select(
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
    from pyspark.sql import functions as F

    from aos_spark.ops.intervals import interval_overlap_join

    o = _t(spark, sf_dir, "orders").select(
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


