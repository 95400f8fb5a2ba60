"""Round-5 second/third wave gate queries.

Sequence analytics: **event_transition_matrix** (Markov transitions,
ops/sequences), **user_burst_hours** (integer-exact trailing-RANGE burst
rule), **session_path_topk** (journey mining on ONE user-keyed shuffle).

Robust statistics: **order_autocorrelation** (decimal-moment lag-1 corr
of the daily AVERAGE order value — the average, not the sum, keeps the
squared moments under the 2^53 exact-double bound at any SF),
**mad_outlier_bounds** (two rank-exact interpolated medians),
**key_skew_profile** (rational-only concentration: Σc² = the exact
self-join fan-out; no ln(), the tf-idf cross-libm precedent),
**monthly_growth_by_nation** (MoM pct change on broadcast dims).

Corpus/serving tier: **term_postings_index** (capped inverted index),
**incremental_dedup_status** (batch-vs-history LSH admission),
**lsh_recall_eval** / **ann_recall_eval** (banding / IVF quality
measurement against exact ground truth), **cross_source_dup_matrix**,
**mixture_apply_stats** (mixture plan EXECUTED via per-domain hash
thresholds), **graph_pagerank_step** (integer micro-unit PageRank).

Determinism follows the repo contract: BIGINT counts, exact-int
divisions, fixed IEEE op order mirrored literally by each oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.llm.dedup import WORD_SPLIT, tokens
from aos_spark.ops.exact_round import round_ratio6, round_ratio6_micro
from aos_spark.queries_core import (
    ORACLE_SIM_BRUTE,
    ORACLE_SIM_IVF,
    _SHINGLES_SQL,
    _langid_oracle,
    _minhash_oracle,
)
from aos_spark.queries_r5 import MIXTURE_TARGETS
from aos_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_sf_table(spark, sf_dir, name)


def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.ops import sequences as SQ

    return SQ.transition_matrix(
        _t(spark, sf_dir, "events"), "user_id", "event_type", ["ts", "event_id"]
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
    from aos_spark.ops import sequences as SQ

    return SQ.burst_hours(
        _t(spark, sf_dir, "events"), "user_id", "ts", lookback_hours=3, factor=2
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


def q_term_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import text as TX

    return TX.postings_index(
        _t(spark, sf_dir, "documents"), min_df=2, max_postings=20
    )


ORACLE_POSTINGS = r"""
WITH occ AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents) x, UNNEST(x.t) AS u(term)),
per_doc AS (SELECT term, doc_id, COUNT(*) AS tf FROM occ GROUP BY 1, 2)
SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total,
       array_to_string(list_transform(list_sort(list(doc_id))[1:20],
                                      x -> CAST(x AS VARCHAR)), ',') AS postings
FROM per_doc GROUP BY term HAVING COUNT(*) >= 2
"""
register("term_postings_index", q_term_postings_index, ORACLE_POSTINGS)


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
    from aos_spark.ops import stats as ST

    o = _t(spark, sf_dir, "orders")
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
    from aos_spark.ops import stats as ST

    return ST.mad_outliers(
        _t(spark, sf_dir, "orders"),
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


def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.ops import sequences as SQ

    return SQ.session_paths(
        _t(spark, sf_dir, "events"),
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


_SKEW_COLS = ["l_suppkey", "l_partkey", "l_orderkey"]


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.ops import skew as SK

    return SK.key_distribution_profile(
        _t(spark, sf_dir, "lineitem"), _SKEW_COLS
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


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl admission check: the 80% hash-bucket slice of the
    corpus is the admitted history, the 20% slice is today's batch —
    the same deterministic split decontamination_pairs uses."""
    from aos_spark.llm import dedup as D
    from aos_spark.llm import sampling

    d = _t(spark, sf_dir, "documents")
    b = sampling.hash_bucket("doc_id", 100, "split")
    return D.incremental_dedup(
        d.filter(b < 80), d.filter(b >= 80), threshold=0.3
    )


def _incremental_dedup_oracle(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.3
) -> str:
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
    jac = (
        "CAST((CAST(len(list_filter(x.shingles, s -> list_contains(y.shingles, s))) AS HUGEINT) * 1000000 * 2"
        " + CAST((len(x.shingles) + len(y.shingles) - len(list_filter(x.shingles, s -> list_contains(y.shingles, s)))) AS HUGEINT))"
        " // (CAST((len(x.shingles) + len(y.shingles) - len(list_filter(x.shingles, s -> list_contains(y.shingles, s)))) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0"
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
hist_hits AS (
  SELECT DISTINCT y.doc_id AS id
  FROM banded x
  JOIN split sx ON x.doc_id = sx.doc_id AND sx.bucket < 80
  JOIN banded y ON x.band = y.band AND x.band_key = y.band_key
  JOIN split sy ON y.doc_id = sy.doc_id AND sy.bucket >= 80
  WHERE {jac} >= {threshold}
),
batch_hits AS (
  SELECT DISTINCT y.doc_id AS id
  FROM banded x
  JOIN split sx ON x.doc_id = sx.doc_id AND sx.bucket >= 80
  JOIN banded y ON x.band = y.band AND x.band_key = y.band_key
                AND x.doc_id < y.doc_id
  JOIN split sy ON y.doc_id = sy.doc_id AND sy.bucket >= 80
  WHERE {jac} >= {threshold}
)
SELECT s.doc_id,
       h.id IS NOT NULL AS dup_of_history,
       p.id IS NOT NULL AS dup_in_batch,
       (h.id IS NULL AND p.id IS NULL) AS keep
FROM split s
LEFT JOIN hist_hits h ON s.doc_id = h.id
LEFT JOIN batch_hits p ON s.doc_id = p.id
WHERE s.bucket >= 80
"""


register("incremental_dedup_status", q_incremental_dedup, _incremental_dedup_oracle())


def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import dedup as D

    return D.lsh_recall_eval(
        _t(spark, sf_dir, "documents"),
        sample_docs=1000,
        threshold=0.3,
    )


def _lsh_recall_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
    sample_docs: int = 1000,
) -> str:
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
    jac = (
        "CAST((CAST(len(list_filter(x.shingles, s -> list_contains(y.shingles, s))) AS HUGEINT) * 1000000 * 2"
        " + CAST((len(x.shingles) + len(y.shingles) - len(list_filter(x.shingles, s -> list_contains(y.shingles, s)))) AS HUGEINT))"
        " // (CAST((len(x.shingles) + len(y.shingles) - len(list_filter(x.shingles, s -> list_contains(y.shingles, s)))) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0"
    )
    # absolute deterministic cap — mirrors the engine's
    # TakeOrdered(md5('lsh_eval'||id), id, sample_docs) sample
    return f"""
WITH sample_ids AS (
  SELECT doc_id FROM documents
  ORDER BY md5('lsh_eval' || CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {sample_docs}
),
sh AS (
  SELECT * FROM ({_SHINGLES_SQL}) s WHERE s.doc_id IN (SELECT doc_id FROM sample_ids)
),
truth AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b
  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
  WHERE {jac} >= {threshold}
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
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
),
hits AS (SELECT * FROM truth WHERE (id_a, id_b) IN (SELECT (id_a, id_b) FROM cand)),
counts AS (
  SELECT (SELECT COUNT(DISTINCT doc_id) FROM sample_ids) AS n_sample_docs,
         (SELECT COUNT(*) FROM truth) AS n_true_pairs,
         (SELECT COUNT(*) FROM cand) AS n_candidate_pairs,
         (SELECT COUNT(*) FROM hits) AS n_hit_pairs
)
SELECT n_sample_docs, n_true_pairs, n_candidate_pairs, n_hit_pairs,
       CASE WHEN n_true_pairs > 0
            THEN CAST((CAST(n_hit_pairs AS HUGEINT) * 1000000 * 2 + CAST(n_true_pairs AS HUGEINT)) // (CAST(n_true_pairs AS HUGEINT) * 2) AS DOUBLE) / 1000000.0
            ELSE 1.0 END AS recall,
       CASE WHEN n_candidate_pairs > 0
            THEN CAST((CAST(n_hit_pairs AS HUGEINT) * 1000000 * 2 + CAST(n_candidate_pairs AS HUGEINT)) // (CAST(n_candidate_pairs AS HUGEINT) * 2) AS DOUBLE) / 1000000.0
            ELSE 1.0 END AS precision
FROM counts
"""


register("lsh_recall_eval", q_lsh_recall_eval, _lsh_recall_oracle())


def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation signal: which sources duplicate which — near-dup pairs
    (production minhash path, threshold 0.3) rolled up to an unordered
    source×source matrix with exact pair counts and a decimal-exact mean
    jaccard. The source dim join is doc-keyed (broadcast at gate scale,
    plain keyed join beyond); the pair frame is the already-bounded LSH
    output, so the rollup adds one small shuffle."""
    from aos_spark.llm import dedup as D

    d = _t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d, threshold=0.3)
    src = d.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("src_a")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("src_b")
            ),
            "id_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            "jaccard",
        )
    )
    return j.groupBy("source_lo", "source_hi").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        round_ratio6_micro(
            F.sum(F.col("jaccard").cast("decimal(10,6)")) * 1_000_000,
            F.count(F.lit(1)),
        ).alias("mean_jaccard"),
    )


def _cross_source_oracle() -> str:
    return f"""
WITH pairs AS ({_minhash_oracle(threshold=0.3)}),
j AS (
  SELECT LEAST(da.source, db.source) AS source_lo,
         GREATEST(da.source, db.source) AS source_hi,
         p.jaccard
  FROM pairs p
  JOIN documents da ON p.id_a = da.doc_id
  JOIN documents db ON p.id_b = db.doc_id)
SELECT source_lo, source_hi, COUNT(*) AS n_pairs,
       CAST((CAST(SUM(CAST(jaccard AS DECIMAL(10,6))) * 1000000 AS HUGEINT) * 2 + CAST(COUNT(*) AS HUGEINT)) // (CAST(COUNT(*) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS mean_jaccard
FROM j GROUP BY source_lo, source_hi
"""


register("cross_source_dup_matrix", q_cross_source_dup_matrix, _cross_source_oracle())


def q_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic PageRank iteration over the bidirectional
    buyer-supplier graph (distinct customer↔supplier purchase edges from
    orders ⋈ lineitem). Bidirectional edges guarantee outdeg ≥ 1 — no
    dangling-node redistribution needed."""
    from aos_spark.ops import graph as G

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    from aos_spark.cache import persist_tracked

    # persist the distinct purchase-edge frame: it feeds the forward and
    # reversed halves of the union, each consumed by the outdeg aggregate
    # AND the contribution join — unpersisted, the orders⋈lineitem pass
    # replays 6× (12 scans; the triangle_count lesson, ops/graph.py)
    # distinct on the INTEGER key pair, node-id strings concatenated only
    # in the post-distinct projection (guide §2.2 "shuffle fewer bytes" /
    # narrower types): the distinct's exchange moves 2 longs per row
    # instead of 2 ~8-char strings, and the hash-agg compares ints. The
    # mapping key -> 'c<key>'/'s<key>' is injective, so distinct-then-
    # concat emits exactly the rows concat-then-distinct did.
    cs = persist_tracked(
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )
    # materialize + right-size via ops/graph._sized: the persisted edge
    # list is far smaller than the orders⋈lineitem pass that built it,
    # and pagerank_step chains three keyed shuffles over it — full-width
    # stages on a ~100k-row cached frame are scheduler overhead
    # (measured 4.2 -> 2.4 s warm at sf0.1); _sized is a no-op on
    # genuinely large graphs.
    from aos_spark.ops.graph import _sized

    cs = _sized(cs, cs.count())
    edges = cs.union(cs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return G.pagerank_step(edges)


def _pagerank_oracle(damping: float = 0.85) -> str:
    # (1-damping) in PYTHON float arithmetic (0.15000000000000002), so the
    # oracle adds bit-identical literals to the Spark plan's lit(1.0-d)
    return f"""
WITH cs AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (SELECT src, dst FROM cs UNION ALL SELECT dst AS src, src AS dst FROM cs),
outdeg AS (SELECT src, COUNT(*) AS out_degree FROM edges GROUP BY src),
contrib AS (
  SELECT e.dst, CAST(ROUND(1e12 / o.out_degree, 0) AS BIGINT) AS c
  FROM edges e JOIN outdeg o ON e.src = o.src),
ranks AS (
  SELECT dst AS node, COUNT(*) AS in_edges, CAST(SUM(c) AS BIGINT) AS s
  FROM contrib GROUP BY dst)
-- LEFT from the node universe (sources): a zero-in-degree node keeps the
-- teleport mass instead of vanishing — mirrors ops/graph.pagerank_step
SELECT o.src AS node, o.out_degree,
       CAST(COALESCE(r.in_edges, 0) AS BIGINT) AS in_edges,
       ROUND(CAST({1.0 - damping!r} AS DOUBLE)
             + CAST({damping!r} AS DOUBLE) * (COALESCE(r.s, 0) / 1e12), 6) AS rank
FROM outdeg o LEFT JOIN ranks r ON o.src = r.node
"""


register("graph_pagerank_step", q_pagerank_step, _pagerank_oracle())


def q_mixture_apply_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mixture_plan EXECUTED: per-domain hash-threshold selection at the
    plan's keep rates, then per-domain accounting plus the realized
    post-selection token share — the check that the mix actually moved
    toward the targets. Selection is a pushed filter; the only shuffles
    are the plan's own aggregate and the final rollup."""
    from aos_spark.llm import sampling as S

    d = _t(spark, sf_dir, "documents")
    plan = S.mixture_plan(d, MIXTURE_TARGETS, domain_col="lang")
    kept = S.apply_mixture(d, plan, domain_col="lang")
    n_tokens = F.size(tokens(split=WORD_SPLIT))
    per = kept.groupBy(F.col("lang").alias("domain")).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(n_tokens).cast("long").alias("kept_tokens"),
    )
    total = per.agg(F.sum("kept_tokens").cast("long").alias("__tot"))
    return per.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_kept",
        "kept_tokens",
        F.round(F.col("kept_tokens") / F.col("__tot"), 6).alias("realized_share"),
    )


def _mixture_apply_oracle(targets: dict[str, float]) -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN CAST({v!r} AS DOUBLE)" for k, v in targets.items()
    )
    return rf"""
WITH per AS (
  SELECT lang AS domain, COUNT(*) AS n_docs,
         CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per),
rates AS (
  SELECT domain,
         CAST(ROUND(LEAST(CAST(1.0 AS DOUBLE),
                          COALESCE(CASE domain {cases} END, CAST(0.0 AS DOUBLE))
                          / (n_tokens / total)) * 1000000, 0) AS BIGINT) AS thr
  FROM per, tot),
kept AS (
  SELECT d.lang AS domain,
         len(list_filter(string_split_regex(lower(d.text), '[^a-z0-9'']+'), x -> x <> '')) AS t
  FROM documents d JOIN rates r ON d.lang = r.domain
  WHERE CAST('0x' || substring(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        % 1000000 < r.thr),
agg AS (
  SELECT domain, COUNT(*) AS n_kept, CAST(SUM(t) AS BIGINT) AS kept_tokens
  FROM kept GROUP BY domain),
ktot AS (SELECT CAST(SUM(kept_tokens) AS BIGINT) AS kt FROM agg)
SELECT domain, n_kept, kept_tokens,
       ROUND(kept_tokens / CAST(kt AS DOUBLE), 6) AS realized_share
FROM agg, ktot
"""


register(
    "mixture_apply_stats", q_mixture_apply_stats, _mixture_apply_oracle(MIXTURE_TARGETS)
)


def q_monthly_growth_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per customer nation: broadcast
    customer→nation dims onto orders, one (nation, month) decimal rollup,
    one nation-partitioned lag window, one exact-operand pct division.
    The report shape every warehouse runs daily — shuffles only on the
    rollup keys, the growth window rides the same partitioning."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
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


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: recall@10 of the IVF probe against the
    brute-force ground truth on the same query set — the standard metric
    that justifies an (n_centroids, nprobe) choice. Both sides are the
    production operators (llm/similarity); the comparison adds one
    semi-join on (query, neighbor) plus two query-keyed counts."""
    from aos_spark.llm import similarity as SIM

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = SIM.brute_force_topk(e, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    approx = SIM.ivf_topk(e, queries, k=10).select("query_id", "neighbor_id")
    hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
    pt = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    ph = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("__h"))
    return (
        pt.join(ph, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce(F.col("__h"), F.lit(0)).alias("n_hits"),
            round_ratio6(
                F.coalesce(F.col("__h"), F.lit(0)), F.col("n_truth")
            ).alias("recall_at_k"),
        )
    )


def _ann_recall_oracle() -> str:
    return f"""
WITH truth AS ({ORACLE_SIM_BRUTE}),
approx AS ({ORACLE_SIM_IVF}),
hits AS (
  SELECT t.query_id, t.neighbor_id
  FROM truth t JOIN approx a USING (query_id, neighbor_id)),
pt AS (SELECT query_id, COUNT(*) AS n_truth FROM truth GROUP BY 1),
ph AS (SELECT query_id, COUNT(*) AS n_hits FROM hits GROUP BY 1)
SELECT pt.query_id, pt.n_truth, COALESCE(ph.n_hits, 0) AS n_hits,
       CAST((CAST(COALESCE(ph.n_hits, 0) AS HUGEINT) * 1000000 * 2 + CAST(pt.n_truth AS HUGEINT)) // (CAST(pt.n_truth AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS recall_at_k
FROM pt LEFT JOIN ph ON pt.query_id = ph.query_id
"""


register("ann_recall_eval", q_ann_recall_eval, _ann_recall_oracle())


def q_term_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import text as TX

    return TX.cooccurrence_lift(
        _t(spark, sf_dir, "documents"), min_pair_count=5
    )


ORACLE_COOCCURRENCE = r"""
WITH td AS (
  SELECT DISTINCT doc_id AS doc, u.term
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents) x, UNNEST(x.t) AS u(term)),
tf AS (SELECT term, COUNT(*) AS dfreq FROM td GROUP BY term),
nd AS (SELECT COUNT(DISTINCT doc) AS n FROM td),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_xy
  FROM td a JOIN td b ON a.doc = b.doc AND a.term < b.term
  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
SELECT p.term_a, p.term_b, p.n_xy,
       ta.dfreq AS df_a, tb.dfreq AS df_b,
       CAST((CAST(p.n_xy AS HUGEINT) * CAST(nd.n AS HUGEINT) * 1000000 * 2 + CAST(ta.dfreq AS HUGEINT) * CAST(tb.dfreq AS HUGEINT)) // (CAST(ta.dfreq AS HUGEINT) * CAST(tb.dfreq AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS lift
FROM pairs p
JOIN tf ta ON p.term_a = ta.term
JOIN tf tb ON p.term_b = tb.term, nd
"""
register("term_cooccurrence_lift", q_term_cooccurrence_lift, ORACLE_COOCCURRENCE)


def q_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation diagnostic: declared language label vs the n-gram
    heuristic's detection, as a confusion matrix with per-label shares.
    One codegen'd detection pass + one tiny (labels × detections)
    rollup; the share window runs over the bounded confusion frame."""
    from pyspark.sql import Window

    from aos_spark.llm import text as TX

    d = _t(spark, sf_dir, "documents")
    conf = d.groupBy(
        F.col("lang").alias("labeled_lang"),
        TX.detect_language().alias("detected_lang"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    per_label = Window.partitionBy("labeled_lang")
    return conf.withColumn(
        "share",
        round_ratio6(F.col("n_docs"), F.sum("n_docs").over(per_label)),
    )


def _language_confusion_oracle() -> str:
    return f"""
WITH detected AS ({_langid_oracle()}),
conf AS (
  SELECT labeled_lang, detected_lang, COUNT(*) AS n_docs
  FROM detected GROUP BY 1, 2)
SELECT labeled_lang, detected_lang, n_docs,
       CAST((CAST(n_docs AS HUGEINT) * 1000000 * 2 + CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS HUGEINT)) // (CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS share
FROM conf
"""


register(
    "language_confusion_matrix", q_language_confusion, _language_confusion_oracle()
)


def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import cluster as CL

    return CL.label_centroid_similarity(_t(spark, sf_dir, "embeddings"))


ORACLE_CENTROID_SIM = """
WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (
  SELECT label, u.dim,
         CAST(ROUND(v[u.dim + 1] * 1000000.0, 0) AS BIGINT) AS mu
  FROM e, UNNEST(range(len(v))) AS u(dim)),
c AS (
  SELECT label, dim,
         (CAST(SUM(mu) AS BIGINT) / 1000000.0) / CAST(COUNT(*) AS DOUBLE) AS val
  FROM x GROUP BY 1, 2),
cent AS (
  SELECT label,
         list_transform(list_sort(list(struct_pack(dim := dim, val := val))),
                        s -> s.val) AS cvec
  FROM c GROUP BY label)
SELECT a.label AS label_a, b.label AS label_b,
       ROUND(list_dot_product(a.cvec, b.cvec)
             / (sqrt(list_dot_product(a.cvec, a.cvec))
                * sqrt(list_dot_product(b.cvec, b.cvec))), 6) AS cosine
FROM cent a JOIN cent b ON a.label <= b.label
"""
register("label_centroid_similarity", q_label_centroid_similarity, ORACLE_CENTROID_SIM)


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-trainer iteration, relationally: corpus word-frequency
    table (vocabulary-bounded) → adjacent character pairs per word
    (substring projection, no explode of the corpus — pairs explode off
    the VOCAB frame) → frequency-weighted pair counts → top-20 merge
    candidates via the window-free global top-k. The full trainer is
    this step in a driver loop re-tokenizing against the merged symbol
    (the dup_clusters/pagerank loop pattern); one step is the
    gate-verified unit (the kmeans_lloyd_step precedent)."""
    from aos_spark.ops.topk import topk_global

    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("freq").alias("merge_count")
    )
    return topk_global(counts, "merge_count", "pair", k=20)


ORACLE_BPE = r"""
WITH words AS (
  SELECT u.word, COUNT(*) AS freq
  FROM (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents) x, UNNEST(x.t) AS u(word)
  GROUP BY u.word HAVING length(u.word) >= 2),
pairs AS (
  SELECT freq, p.pair
  FROM words, UNNEST(list_transform(range(1, length(word)), i -> substr(word, CAST(i AS INTEGER), 2))) AS p(pair)),
counts AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS merge_count
  FROM pairs GROUP BY pair),
top AS (SELECT * FROM counts ORDER BY merge_count DESC, pair ASC LIMIT 20)
SELECT pair, merge_count,
       CAST(ROW_NUMBER() OVER (ORDER BY merge_count DESC, pair ASC) AS INT) AS rank_in_group
FROM top
"""
register("bpe_merge_candidates", q_bpe_merge_candidates, ORACLE_BPE)


def q_trimmed_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value per priority: rank within group,
    drop the floor(0.05·n) lowest and highest ranks (EXACT integer
    bounds — no interpolation, so the trim is engine-trivial), decimal
    mean of the survivors. The robust-aggregation sibling of
    mad_outlier_bounds; same group-ranked shape and caveat."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
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


def q_revenue_pareto_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) per nation: rank each nation's
    customers by lifetime order revenue, report what share of the
    nation's revenue its top-10% customers hold. Customer revenues roll
    up decimal-exact; the ranking window and running sum are PARTITIONED
    by nation (customer-dim-sized frames); the share is one division of
    exactly-converted decimal sums."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
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


def q_revenue_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend of the daily average order value per customer nation
    (is a market heating up?): broadcast dims → (nation, day) decimal
    rollup → exact-moment regression (ops/stats.grouped_linregress),
    x = integer day index (exact), y = the exactly-converted daily
    mean — the same determinism recipe as order_autocorrelation."""
    from aos_spark.ops import stats as ST

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
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


