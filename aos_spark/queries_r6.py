"""Round-6 gate queries: the exact set-similarity join and the data-layout
tier, promoted from unregistered modules to first-class gated operators
(ADVICE r5: ppjoin_pairs and ops/layout.py shipped with no gate entry, no
oracle, no test — determinism/completeness claims were unvalidated).

- **ppjoin_exact_pairs** — prefix-filtered EXACT Jaccard self-join
  (llm/setjoin.ppjoin_pairs): the lossless counterpart to MinHash-LSH.
  The oracle is the brute-force all-pairs shingle join with NO prefix
  filter — a hash match proves the prefix-filter lemma dropped nothing.
- **zorder_skipping_census** — Morton-interleave clustering key
  (ops/layout.zorder_key) + min-max data-skipping census
  (chunk_minmax_census): the same chunking expression run under a linear
  layout and a Z-order layout, one row each, showing Z-order shrinking
  the summed per-chunk min-max widths on the second dimension. All
  integer shift/mask arithmetic, mirrored literally by the oracle via
  zorder_key_sql.

Determinism contract as ever: BIGINT counts, single final double
divisions, rounding only in the output projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.llm.setjoin import ppjoin_pairs
from aos_spark.ops.exact_round import round_ratio6
from aos_spark.ops.layout import chunk_minmax_census, zorder_key, zorder_key_sql
from aos_spark.queries_core import (
    ORACLE_CMS,
    ORACLE_PCTL_CONT,
    ORACLE_SIM_BRUTE,
    _SHINGLES_SQL,
    _langid_oracle,
    q_percentile_cont,
)
from aos_spark.queries_r4 import _hll_grouped_oracle
from aos_spark.queries_r5 import _pq_sql_parts
from aos_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_sf_table(spark, sf_dir, name)


# ------------------------------------------------------------ ppjoin_exact_pairs
def q_ppjoin_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.5 document pairs via prefix filtering.
    The oracle below runs the UNFILTERED all-pairs shingle join, so a
    hash match is a completeness proof for the prefix-filter pruning
    (no pair at or above the threshold may be dropped)."""
    d = _t(spark, sf_dir, "documents")
    return ppjoin_pairs(d, "doc_id", "text", n=3, threshold=0.5)


# Brute force, no prefix filter: distinct 3-gram shingles per doc, full
# shingle equi-join, exact jaccard on the unrounded ratio (rounding only
# in the projection — mirrors the operator's fixed contract).
ORACLE_PPJOIN = r"""
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
SELECT id_a, id_b,
       CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS jaccard
FROM inter
WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.5
"""
register("ppjoin_exact_pairs", q_ppjoin_exact_pairs, ORACLE_PPJOIN)


# -------------------------------------------------------- zorder_skipping_census
# Two layouts over the same (x, y) = (l_partkey % 64, l_suppkey % 64)
# point set, 16 chunks each: "linear" chunks by x alone (perfect x
# pruning, none on y), "zorder" chunks by the top 4 bits of the 12-bit
# Morton key (balanced pruning on both). The census reports the summed
# per-chunk min-max width per dimension — exactly the parquet footer
# stats a scan planner would consult.
_ZBITS = 6


def q_zorder_skipping_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
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


# ------------------------------------------------------------ hard_negative_mining
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: for each of 5 anchor vectors, the top-5
    most-similar corpus vectors with a DIFFERENT label
    (llm/similarity.hard_negative_topk — broadcast anchors, label
    predicate inside the join, per-anchor window top-k)."""
    from aos_spark.llm.similarity import hard_negative_topk

    e = _t(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    return hard_negative_topk(e, anchors, k=5)


ORACLE_HARD_NEG = """
WITH q AS (SELECT vec_id AS query_id, label AS ql, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
         list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
           AS cos
  FROM q, embeddings e WHERE e.label <> q.ql
)
SELECT query_id, neighbor_id, neighbor_label, ROUND(cos, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= 5
"""
register("hard_negative_mining", q_hard_negative_mining, ORACLE_HARD_NEG)


# ------------------------------------------------------------ language_kappa
def q_language_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the declared language label and the n-gram
    heuristic's detection — chance-corrected agreement, the one-number
    companion to language_confusion_matrix. All arithmetic stays in
    BIGINT over the bounded confusion frame (kappa =
    (N·agree - Σ_l row_l·col_l) / (N² - Σ_l row_l·col_l)); the single
    double division happens in the final 1-row projection."""
    from aos_spark.llm import text as TX

    d = _t(spark, sf_dir, "documents")
    conf = d.groupBy(
        F.col("lang").alias("labeled"),
        TX.detect_language().alias("detected"),
    ).agg(F.count(F.lit(1)).alias("n"))
    from aos_spark.cache import persist_tracked

    conf = persist_tracked(conf)
    rows = conf.groupBy("labeled").agg(F.sum("n").alias("row_n"))
    cols = conf.groupBy("detected").agg(F.sum("n").alias("col_n"))
    pe = (
        rows.join(cols, rows["labeled"] == cols["detected"])
        .agg(F.coalesce(F.sum(F.col("row_n") * F.col("col_n")), F.lit(0)).alias("pe_num"))
    )
    tot = conf.agg(
        F.sum("n").alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("labeled") == F.col("detected"), F.col("n"))),
            F.lit(0),
        ).alias("n_agree"),
    )
    # Degenerate-corpus guard: with ONE label and a constant detection,
    # pe_num == n_docs² and the denominator is 0 (kappa is undefined —
    # observed agreement equals chance agreement). Emit NULL explicitly,
    # mirrored in the oracle, instead of engine-specific NaN/NULL drift.
    denom = F.col("n_docs") * F.col("n_docs") - F.col("pe_num")
    return tot.crossJoin(pe).select(
        "n_docs",
        "n_agree",
        F.when(
            denom != 0,
            F.round(
                (
                    F.col("n_docs") * F.col("n_agree") - F.col("pe_num")
                ).cast("double")
                / denom,
                6,
            ),
        ).alias("kappa"),
    )


def _language_kappa_oracle() -> str:
    return f"""
WITH detected AS ({_langid_oracle()}),
conf AS (SELECT labeled_lang, detected_lang, CAST(COUNT(*) AS BIGINT) AS n
         FROM detected GROUP BY 1, 2),
r AS (SELECT labeled_lang AS l, SUM(n) AS row_n FROM conf GROUP BY 1),
c AS (SELECT detected_lang AS l, SUM(n) AS col_n FROM conf GROUP BY 1),
pe AS (SELECT COALESCE(SUM(r.row_n * c.col_n), 0) AS pe_num
       FROM r JOIN c ON r.l = c.l),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(CASE WHEN labeled_lang = detected_lang THEN n END), 0) AS BIGINT) AS n_agree
        FROM conf)
SELECT n_docs, n_agree,
       CASE WHEN n_docs * n_docs - pe_num <> 0
            THEN ROUND(CAST(n_docs * n_agree - pe_num AS DOUBLE)
                       / (n_docs * n_docs - pe_num), 6)
       END AS kappa
FROM tot, pe
"""


register("language_kappa", q_language_kappa, _language_kappa_oracle())


# ------------------------------------------------------------ winnowing_fingerprints
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprint census per document
    (llm/text.winnow_fingerprints, k=4 w=4): positional k-gram hashing +
    per-window minima — any shared run of >= k+w-1 tokens between two
    docs shares a selected fingerprint. Doc-partitioned ROWS window,
    never global."""
    from aos_spark.llm.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "doc_id", "text", k=4, w=4).select(
        F.col("id").alias("doc_id"), "n_grams", "n_selected", "density"
    )


ORACLE_WINNOW = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 4
           THEN list_transform(range(len(t) - 3), i -> array_to_string(t[i+1:i+4], ' '))
           ELSE [] END AS gs
  FROM toks),
ex AS (
  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams, i AS pos,
         CAST('0x' || substring(md5(gs[i + 1]), 1, 8) AS BIGINT) * 2147483648 + i AS key
  FROM grams, UNNEST(range(len(gs))) AS u(i)),
win AS (
  SELECT doc_id, n_grams, pos,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM ex),
sel AS (
  SELECT DISTINCT doc_id, n_grams, wmin
  FROM win WHERE pos <= GREATEST(n_grams - 4, 0))
SELECT doc_id, n_grams, CAST(COUNT(*) AS BIGINT) AS n_selected,
       CAST((CAST(COUNT(*) AS HUGEINT) * 1000000 * 2 + CAST(n_grams AS HUGEINT)) // (CAST(n_grams AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS density
FROM sel GROUP BY doc_id, n_grams
"""
register("winnowing_fingerprints", q_winnowing_fingerprints, ORACLE_WINNOW)


# ------------------------------------------------------------ matryoshka_recall_eval
_MRL_DIMS = 16


def q_matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation eval (Kusupati et al., "Matryoshka
    Representation Learning", NeurIPS'22 motivates the check): retrieval
    recall@10 when both queries and corpus keep only the FIRST 16 of 64
    dims, against the full-dimension brute-force ground truth. The scale
    story: a 4x-truncated index is 4x cheaper to scan and shuffle — this
    query measures exactly what that costs in recall, with both sides
    running the production brute_force_topk operator."""
    from aos_spark.llm.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") < 5)
    truth = brute_force_topk(
        e, anchors.select(F.col("vec_id").alias("query_id"), "embedding"), k=10
    ).select("query_id", "neighbor_id")
    trunc = e.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")
    )
    approx = brute_force_topk(
        trunc,
        anchors.select(
            F.col("vec_id").alias("query_id"),
            F.slice("embedding", 1, _MRL_DIMS).alias("embedding"),
        ),
        k=10,
    ).select("query_id", "neighbor_id")
    hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
    pt = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    ph = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("__h"))
    return pt.join(ph, "query_id", "left").select(
        "query_id",
        "n_truth",
        F.coalesce(F.col("__h"), F.lit(0)).alias("n_hits"),
        round_ratio6(
            F.coalesce(F.col("__h"), F.lit(0)), F.col("n_truth")
        ).alias("recall_at_k"),
    )


def _matryoshka_oracle() -> str:
    return f"""
WITH truth AS ({ORACLE_SIM_BRUTE}),
tq AS (SELECT vec_id AS query_id, CAST(embedding[1:{_MRL_DIMS}] AS DOUBLE[]) AS qv
       FROM embeddings WHERE vec_id < 5),
tscored AS (
  SELECT tq.query_id, e.vec_id AS neighbor_id,
         list_dot_product(tq.qv, CAST(e.embedding[1:{_MRL_DIMS}] AS DOUBLE[]))
           / (sqrt(list_dot_product(tq.qv, tq.qv))
              * sqrt(list_dot_product(CAST(e.embedding[1:{_MRL_DIMS}] AS DOUBLE[]),
                                      CAST(e.embedding[1:{_MRL_DIMS}] AS DOUBLE[]))))
           AS cos
  FROM tq, embeddings e WHERE e.vec_id <> tq.query_id),
approx AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM tscored QUALIFY rank <= 10),
hits AS (
  SELECT t.query_id, t.neighbor_id
  FROM truth t JOIN approx a USING (query_id, neighbor_id)),
pt AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth GROUP BY 1),
ph AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits FROM hits GROUP BY 1)
SELECT pt.query_id, pt.n_truth, COALESCE(ph.n_hits, 0) AS n_hits,
       CAST((CAST(COALESCE(ph.n_hits, 0) AS HUGEINT) * 1000000 * 2 + CAST(pt.n_truth AS HUGEINT)) // (CAST(pt.n_truth AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS recall_at_k
FROM pt LEFT JOIN ph ON pt.query_id = ph.query_id
"""


register("matryoshka_recall_eval", q_matryoshka_recall_eval, _matryoshka_oracle())


# ------------------------------------------------------------ dedup_threshold_curve
_CURVE_PM = [300, 400, 500, 600, 700, 800, 900]  # thresholds in per-mille


def q_dedup_threshold_curve(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_candidate_pairs: int | None = None,
    on_over_budget: str = "drop",
) -> DataFrame:
    """The dedup tuning dial: pair counts of the n-gram Jaccard frame at
    a grid of thresholds, from ONE run of the pairwise machinery (the
    capped shingle_intersection_counts pipeline at the loosest grid
    point). Thresholds are integer per-mille so the grouping key is
    never a float; each pair fans out only to the thresholds it clears
    (explode of a 7-element literal — bounded).

    ``max_candidate_pairs`` (keyword-only, default None = off, registry
    plan unchanged) threads the r14 pair budget into the candidate
    stage; sizing: llm/dedup.suggested_pair_budget."""
    from aos_spark.llm.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, n=3, threshold=min(_CURVE_PM) / 1000.0,
        max_candidate_pairs=max_candidate_pairs,
        on_over_budget=on_over_budget,
    )
    fanned = pairs.select(
        F.explode(
            F.filter(
                F.array(*[F.lit(t) for t in _CURVE_PM]),
                lambda t: F.col("jaccard") >= t / F.lit(1000.0),
            )
        ).alias("threshold_pm")
    )
    return fanned.groupBy("threshold_pm").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def _threshold_curve_oracle() -> str:
    lo = min(_CURVE_PM) / 1000.0
    pm_list = ", ".join(str(t) for t in _CURVE_PM)
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2, 3, 4),
pairs AS (
  SELECT CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS jaccard
  FROM inter WHERE CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= {lo}),
fanned AS (
  SELECT t.threshold_pm
  FROM pairs, UNNEST([{pm_list}]) AS t(threshold_pm)
  WHERE pairs.jaccard >= t.threshold_pm / 1000.0)
SELECT CAST(threshold_pm AS INTEGER) AS threshold_pm,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM fanned GROUP BY 1
"""


register("dedup_threshold_curve", q_dedup_threshold_curve, _threshold_curve_oracle())


# ------------------------------------------------------------ split_leakage_check
def q_split_leakage_check(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_candidate_pairs: int | None = None,
    on_over_budget: str = "drop",
) -> DataFrame:
    """Train/test contamination audit — the check every training pipeline
    must run before shipping a split: near-dup pairs (3-gram Jaccard >=
    0.5, the capped production machinery) whose two documents landed in
    DIFFERENT deterministic splits. A same-split near-dup wastes capacity;
    a CROSS-split one leaks eval data into training. Output: pair counts
    per canonical (split_a, split_b) cell plus the leaking flag. The
    split frame is doc-keyed (broadcast-sized per pair side at gate SF;
    at scale the pair frame is far smaller than the corpus, so the two
    split lookups are hash joins on the pair frame, never a corpus
    shuffle).

    ``max_candidate_pairs`` (keyword-only, default None = off, registry
    plan unchanged) threads the r14 pair budget into the candidate
    stage; sizing: llm/dedup.suggested_pair_budget."""
    from aos_spark.llm import sampling
    from aos_spark.llm.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, n=3, threshold=0.5,
        max_candidate_pairs=max_candidate_pairs,
        on_over_budget=on_over_budget,
    )
    split = sampling.deterministic_split(d, "doc_id").select("doc_id", "split")
    sa = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("__sa"))
    sb = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("__sb"))
    tagged = pairs.join(sa, "id_a").join(sb, "id_b")
    return (
        tagged.groupBy(
            F.least("__sa", "__sb").alias("split_a"),
            F.greatest("__sa", "__sb").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("leaks", F.col("split_a") != F.col("split_b"))
    )


def _split_leakage_oracle() -> str:
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2, 3, 4),
pairs AS (
  SELECT id_a, id_b FROM inter
  WHERE CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= 0.5),
sp AS (
  SELECT doc_id,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST('0x' || substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                 % 100 AS bucket
        FROM documents)),
tagged AS (
  SELECT LEAST(a.split, b.split) AS split_a,
         GREATEST(a.split, b.split) AS split_b
  FROM pairs JOIN sp a ON pairs.id_a = a.doc_id
             JOIN sp b ON pairs.id_b = b.doc_id)
SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       split_a <> split_b AS leaks
FROM tagged GROUP BY 1, 2
"""


register("split_leakage_check", q_split_leakage_check, _split_leakage_oracle())


# ------------------------------------------------------------ cms_error_eval
def q_cms_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality measurement for the count-min sketch, the
    ann_recall_eval pattern applied to frequency sketches: per-key
    estimated minus EXACT count. CMS can only overestimate, so the gate
    asserts the invariant (overestimate >= 0) cell-for-cell against the
    oracle, and the summary makes the d×w accuracy trade-off readable
    from the engine's own output. Both sides are production operators;
    the exact counts are one map-combined rollup."""
    from aos_spark.ops import sketches

    ev = _t(spark, sf_dir, "events")
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
    from aos_spark.ops import sketches

    o = _t(spark, sf_dir, "orders")
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
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
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


# ------------------------------------------------------------ sim_ivfpq_topk
def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the FAISS production ANN shape (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI'11): a coarse IVF
    quantizer prunes the corpus to each query's nprobe=2 cells, and PQ
    ADC scores only the survivors. Composition of the two audited tiers:
    ivf_assign/deterministic_centroids build per-query candidate pairs
    (probe cells ⋈ cell assignments, self excluded), which feed
    pq_topk's generic `candidates` semi-join BEFORE the fragment
    aggregation — at 100 TB the (query, vector) state materializes only
    for the ~nprobe/n_centroids fraction that survives the coarse
    stage."""
    from aos_spark.llm import pq as PQ
    from aos_spark.llm.similarity import (
        deterministic_centroids,
        ivf_assign,
        ivf_probes,
    )

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = deterministic_centroids(e, 8)
    lists = ivf_assign(e, cents).select("vec_id", "centroid_id")
    probes = ivf_probes(queries, cents, 2).select("query_id", "centroid_id")
    candidates = (
        probes.join(lists, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return PQ.pq_topk(e, queries, top_k=10, candidates=candidates)


def _ivfpq_oracle(top_k: int = 10, nprobe: int = 2) -> str:
    codes_sql, frag_values, sub = _pq_sql_parts()
    return f"""
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS vnorm
  FROM embeddings),
cents AS (
  SELECT vec_id AS centroid_id, v AS cvec, vnorm AS cnorm
  FROM vecs ORDER BY vec_id LIMIT 8),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT x.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.cvec) / (x.vnorm * c.cnorm) DESC,
                      c.centroid_id) AS rn
    FROM vecs x CROSS JOIN cents c) WHERE rn = 1),
qn AS (SELECT vec_id AS query_id, v AS qvv, vnorm AS qnn FROM vecs WHERE vec_id < 5),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qvv, c.cvec) / (q.qnn * c.cnorm) DESC,
                      c.centroid_id) AS rn
    FROM qn q CROSS JOIN cents c) WHERE rn <= {nprobe}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a USING (centroid_id)
  WHERE a.vec_id <> p.query_id),
codes AS ({codes_sql}),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5),
frag AS (
  SELECT q.query_id, v.j, v.c,
         CAST((list_dot_product({sub('v.j')}, {sub('v.j')})
               - 2.0 * list_dot_product({sub('v.j')}, v.cent)) + v.cc
              AS DECIMAL(28,12)) AS d
  FROM q, (VALUES
    {frag_values}) v(j, c, cent, cc)),
ex AS (
  SELECT vec_id AS neighbor_id, u.j,
         CASE u.j {' '.join(f'WHEN {j} THEN code_{j}' for j in range(8))} END AS c
  FROM codes, UNNEST(range(0, 8)) u(j)),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(CAST(SUM(d) AS DOUBLE), 6) AS approx_dist
  FROM ex JOIN frag USING (j, c)
  JOIN cand USING (query_id, neighbor_id)
  GROUP BY query_id, neighbor_id)
SELECT query_id, neighbor_id, approx_dist,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY approx_dist ASC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= {top_k}
"""


register("sim_ivfpq_topk", q_sim_ivfpq_topk, _ivfpq_oracle())


# ------------------------------------------------------------ shard_rebalance_churn
_N_SHARDS = 8
_N_VNODES = 32  # virtual nodes per shard


def _ring_rows(n_shards: int) -> list[tuple[int, int]]:
    """Deterministic hash ring: (vnode_hash, shard) for n_shards × 32
    virtual nodes; vnode_hash = first-8-hex-of-md5('<shard>:<i>') (e.g.
    md5('0:5')) — the same 32-bit space the doc keys hash into,
    mirrorable literally in SQL."""
    import hashlib

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
    d = _t(spark, sf_dir, "documents")
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


# ------------------------------------------------------------ winnow_overlap_sources
def q_winnow_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication via WINNOWED fingerprints: for every
    source pair, how many distinct selected (hash-level) fingerprints
    they share — the positional complement to source_minhash_similarity
    (which estimates whole-set resemblance) and containment_near_dup
    (doc-level): winnowing prints localize overlap to actual shared
    token runs of >= k+w-1 tokens (SIGMOD'03 guarantee), so a high
    shared count means literal text reuse across crawls, not just
    vocabulary similarity. Plan: the winnow selection (doc-partitioned
    window, one exchange) → per-source distinct print sets (map-combined)
    → print-keyed self-join on the far-smaller fingerprint frame."""
    from pyspark.sql import Window

    from aos_spark.llm.dedup import ensure_min_partitions, shingle_hash, tokens
    from aos_spark.llm.text import gram_occurrences

    d = _t(spark, sf_dir, "documents")
    # tokenize + 4-gram explode run BEFORE the doc window's exchange, at
    # the scan's parallelism (1 task on the single-row-group corpus) —
    # spread them first (r16, guide §2.5; the same pattern measured
    # 1.37× on winnowing_fingerprints)
    toks = ensure_min_partitions(d).select(
        "doc_id", "source", tokens().alias("__tokens")
    )
    grams = toks.select(
        "doc_id", "source", gram_occurrences(F.col("__tokens"), 4).alias("grams")
    )
    ex = grams.select(
        "doc_id",
        "source",
        F.size("grams").alias("n_grams"),
        F.posexplode_outer("grams"),
    ).filter(F.col("col").isNotNull())
    keyed = ex.select(
        "doc_id",
        "source",
        "n_grams",
        "pos",
        # packed (hash, pos) BIGINT key: shingle_hash < 2^32, so
        # hash * 2^31 < 2^63 and pos < 2^31 grams/doc by construction —
        # the sum never overflows signed 64-bit, ANSI-safe in both
        # engines (the DuckDB oracle packs identically).
        (shingle_hash(F.col("col")) * F.lit(1 << 31) + F.col("pos")).alias("__key"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    prints = (
        keyed.withColumn("__wmin", F.min("__key").over(win))
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - 4, F.lit(0)))
        # hash level: strip the position so the same text run matches
        # across documents at different offsets
        .select("source", F.shiftright("__wmin", 31).alias("print"))
        .distinct()
    )
    a = prints.select(F.col("source").alias("source_a"), "print")
    b = prints.select(F.col("source").alias("source_b"), "print")
    return (
        a.join(b, "print")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_prints"))
    )


ORACLE_WINNOW_OVERLAP = r"""
WITH toks AS (
  SELECT doc_id, source,
         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
  FROM documents),
grams AS (
  SELECT doc_id, source,
         CASE WHEN len(t) >= 4
           THEN list_transform(range(len(t) - 3), i -> array_to_string(t[i+1:i+4], ' '))
           ELSE [] END AS gs
  FROM toks),
ex AS (
  SELECT doc_id, source, CAST(len(gs) AS BIGINT) AS n_grams, i AS pos,
         CAST('0x' || substring(md5(gs[i + 1]), 1, 8) AS BIGINT) * 2147483648 + i AS key
  FROM grams, UNNEST(range(len(gs))) AS u(i)),
win AS (
  SELECT doc_id, source, n_grams, pos,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM ex),
prints AS (
  SELECT DISTINCT source, wmin >> 31 AS print
  FROM win WHERE pos <= GREATEST(n_grams - 4, 0))
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_prints
FROM prints a JOIN prints b ON a.print = b.print AND a.source < b.source
GROUP BY 1, 2
"""
register("winnow_overlap_sources", q_winnow_overlap_sources, ORACLE_WINNOW_OVERLAP)


