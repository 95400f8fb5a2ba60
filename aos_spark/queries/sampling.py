"""Corpus sampling and packing queries over llm/sampling and
llm/packing: context packing, sliding chunks, split, weighted and k-fold
sampling, domain mixture plans and their application, stratified
allocation, and per-source, token-budget and quality-decile selection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.llm import packing, sampling
from aos_spark.llm import text as TX
from aos_spark.llm.dedup import WORD_SPLIT, tokens
from aos_spark.llm.sampling import proportional_allocation
from aos_spark.queries.text import ORACLE_QUALITY
from aos_spark.registry import register


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (llm/sampling): per
    (split, lang) doc counts and char totals. Assignment is a pure function
    of doc_id, so the same rows land in the same split in any engine."""
    d = read_sf_table(spark, sf_dir, "documents")
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


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (llm/packing.pack_into_chunks): documents →
    fixed-capacity training chunks in 8 parallel hash shards; windows are
    partitioned by shard, never global. All-integer arithmetic — the
    oracle reproduces the exact layout."""
    d = read_sf_table(spark, sf_dir, "documents")
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


def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (llm/packing.sliding_window_chunks): the
    RAG/eval-prep step that turns each document into overlapping token
    windows. Pure per-row fan-out — no shuffle until a consumer
    aggregates; integer span arithmetic is engine-exact."""
    d = read_sf_table(spark, sf_dir, "documents")
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


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sample of documents (weight =
    n_chars), rolled up per language — long documents sample
    proportionally more, yet the kept set is a pure hash function of
    doc_id (llm/sampling.weighted_sample)."""
    d = read_sf_table(spark, sf_dir, "documents").withColumn(
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


def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment (llm/sampling.kfold_assign)
    summarized as (fold, lang, n_docs) — fold membership is a pure hash
    of the id, so folds are identical on any cluster/partitioning."""
    d = read_sf_table(spark, sf_dir, "documents")
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


MIXTURE_TARGETS = {"en": 0.5, "es": 0.2, "fr": 0.2, "de": 0.1}


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.mixture_plan(
        read_sf_table(spark, sf_dir, "documents"), MIXTURE_TARGETS, domain_col="lang"
    )


def _mixture_oracle(targets: dict[str, float]) -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN CAST({v!r} AS DOUBLE)" for k, v in targets.items()
    )
    return rf"""
WITH per AS (
  SELECT lang AS domain, COUNT(*) AS n_docs,
         CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per),
shares AS (
  SELECT domain, n_docs, n_tokens,
         n_tokens / total AS current_share,
         COALESCE(CASE domain {cases} END, CAST(0.0 AS DOUBLE)) AS target_share
  FROM per, tot)
SELECT domain, n_docs, n_tokens, current_share, target_share,
       LEAST(CAST(1.0 AS DOUBLE), target_share / current_share) AS keep_rate,
       CAST(FLOOR(n_tokens * LEAST(CAST(1.0 AS DOUBLE), target_share / current_share)) AS BIGINT) AS expected_tokens
FROM shares
"""


register("domain_mixture_plan", q_mixture_plan, _mixture_oracle(MIXTURE_TARGETS))


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + quality score + lang/source, the shared front of the
    curation-policy queries below."""
    d = read_sf_table(spark, sf_dir, "documents")
    return (
        TX.quality_features(d)
        .withColumn("quality", TX.quality_score())
        .select("doc_id", "lang", "source", "n_tokens", "quality")
    )


def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps (crawler over-representation control, the
    RefinedWeb/Dolma per-domain cap): within each source keep the top
    ``cap`` docs by (quality DESC, doc_id), report kept/dropped and the
    surviving token mass. One partitioned window (source key) + one
    aggregation — no global sort anywhere."""
    cap = 15
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = _scored_docs(spark, sf_dir).withColumn(
        "__rn", F.row_number().over(w)
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("__rn") <= cap).cast("long")).alias("n_kept"),
        F.sum(
            F.when(F.col("__rn") <= cap, F.col("n_tokens")).otherwise(0).cast("long")
        ).alias("kept_tokens"),
    )


def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-greedy selection under a per-language token budget (the
    data-selection step of a fixed-size pretraining mix): order each
    language's docs by quality, admit while the running token total stays
    within budget, report what was admitted and the effective quality
    cutoff. The cumulative window is PARTITIONED by language — per-domain
    budgets keep the pattern scale-safe where a single global budget
    would force a global sort."""
    budget = 2000
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = _scored_docs(spark, sf_dir).withColumn(
        "__cum", F.sum(F.col("n_tokens").cast("long")).over(w)
    )
    sel = cum.filter(F.col("__cum") <= budget)
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum(F.col("n_tokens").cast("long")).alias("selected_tokens"),
        F.min("quality").alias("quality_cutoff"),
    )


def q_quality_decile_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile shard assignment (curriculum bucketing): NTILE(10)
    over (quality DESC, doc_id) within each language, then per-shard
    accounting. Windows stay language-partitioned; outputs are exact
    selections (min/max) and integer sums only."""
    w = Window.partitionBy("lang").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    tiled = _scored_docs(spark, sf_dir).withColumn(
        "decile", F.ntile(10).over(w)
    )
    return tiled.groupBy("lang", "decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("n_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


_CURATION_SCORED = f"""
scored AS (
  SELECT q.doc_id, q.n_tokens, q.quality, d.lang, d.source
  FROM ({ORACLE_QUALITY}) q JOIN documents d USING (doc_id))
"""
ORACLE_PER_SOURCE_CAP = f"""
WITH {_CURATION_SCORED},
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rn
  FROM scored)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn <= 15 THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
FROM ranked GROUP BY source
"""
register("per_source_cap", q_per_source_cap, ORACLE_PER_SOURCE_CAP)
ORACLE_TOKEN_BUDGET = f"""
WITH {_CURATION_SCORED},
cum AS (
  SELECT lang, n_tokens, quality,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
  FROM scored)
SELECT lang, COUNT(*) AS n_selected,
       CAST(SUM(n_tokens) AS BIGINT) AS selected_tokens,
       MIN(quality) AS quality_cutoff
FROM cum WHERE running <= 2000 GROUP BY lang
"""
register("token_budget_selection", q_token_budget_selection, ORACLE_TOKEN_BUDGET)
ORACLE_QUALITY_DECILES = f"""
WITH {_CURATION_SCORED},
tiled AS (
  SELECT lang, n_tokens, quality,
         CAST(NTILE(10) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS INTEGER) AS decile
  FROM scored)
SELECT lang, decile, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(quality) AS min_quality, MAX(quality) AS max_quality
FROM tiled GROUP BY lang, decile
"""
register("quality_decile_shards", q_quality_decile_shards, ORACLE_QUALITY_DECILES)


def q_mixture_apply_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mixture_plan EXECUTED: per-domain hash-threshold selection at the
    plan's keep rates, then per-domain accounting plus the realized
    post-selection token share — the check that the mix actually moved
    toward the targets. Selection is a pushed filter; the only shuffles
    are the plan's own aggregate and the final rollup."""
    d = read_sf_table(spark, sf_dir, "documents")
    plan = sampling.mixture_plan(d, MIXTURE_TARGETS, domain_col="lang")
    kept = sampling.apply_mixture(d, plan, domain_col="lang")
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


def q_stratified_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proportional sampling of the corpus by language
    (llm/sampling.proportional_allocation): 10% budget split exactly
    proportionally, md5-rank selection inside each stratum. Output is the
    per-stratum audit: population, exact quota, realized pick count and
    the picked docs' character volume — the numbers a curation run logs."""
    d = read_sf_table(spark, sf_dir, "documents")
    sel = proportional_allocation(d, ["lang"], budget_pct=10, id_col="doc_id")
    return sel.groupBy("lang").agg(
        F.min("__stratum_n").alias("n_docs"),
        F.min("__alloc").alias("alloc"),
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_chars").alias("sel_chars"),
    )


ORACLE_STRAT_ALLOC = """
WITH counts AS (
  SELECT lang, COUNT(*) AS stratum_n FROM documents GROUP BY lang),
tot AS (SELECT SUM(stratum_n) AS n_total FROM counts),
sized AS (
  SELECT lang, stratum_n, n_total,
         CAST(FLOOR(n_total * 10 / 100) AS BIGINT) AS budget
  FROM counts CROSS JOIN tot),
based AS (
  SELECT lang, stratum_n, n_total, budget,
         CAST(FLOOR((budget * stratum_n) / n_total) AS BIGINT) AS base,
         budget * stratum_n - CAST(FLOOR((budget * stratum_n) / n_total) AS BIGINT) * n_total AS rem
  FROM sized),
leftover AS (
  SELECT ANY_VALUE(budget) - SUM(base) AS slack FROM based),
alloc AS (
  SELECT lang, stratum_n,
         base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, lang) <=
                          (SELECT slack FROM leftover)
                     THEN 1 ELSE 0 END AS alloc
  FROM based),
ranked AS (
  SELECT d.lang, d.n_chars, a.stratum_n, a.alloc,
         ROW_NUMBER() OVER (
           PARTITION BY d.lang
           ORDER BY CAST('0x' || substring(md5('alloc' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                      % 4611686018427387904,
                    d.doc_id) AS rn
  FROM documents d JOIN alloc a USING (lang))
SELECT lang,
       CAST(MIN(stratum_n) AS BIGINT) AS n_docs,
       CAST(MIN(alloc) AS BIGINT) AS alloc,
       CAST(COUNT(*) AS BIGINT) AS n_selected,
       CAST(SUM(n_chars) AS BIGINT) AS sel_chars
FROM ranked WHERE rn <= alloc
GROUP BY lang
"""
register(
    "stratified_allocation_sample", q_stratified_allocation_sample, ORACLE_STRAT_ALLOC
)
