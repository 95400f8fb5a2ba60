"""Round-5 additions: the remaining large-scale training-data-pipeline
operators the earlier rounds had not yet covered as gate queries.

- **span_dedup_retention** — C4/RefinedWeb-style span-level exact dedup
  with per-doc retention accounting (llm/dedup.span_dedup_retention).
- **bloom_semijoin_prune** — exact semi-join behind a Bloom-bitset scan
  filter, the shuffle-pruning pattern for 100 TB fact×dim semi-joins
  (ops/bloom).
- **lm_bigram_rarity** — CCNet-flavoured corpus-LM quality signal as
  exact integer counts (llm/text.bigram_rarity).
- **embedding_random_projection** — ±1 sign-matrix projection, the
  codegen'd front half of sketch-based ANN/dedup (llm/similarity).
- **domain_mixture_plan** — DoReMi/Pile-style domain re-weighting plan
  (llm/sampling.mixture_plan).
- **per_source_cap / token_budget_selection / quality_decile_shards** —
  curation policies over the shared quality-score front, all with
  source/language-partitioned windows (no global sort).
- **embedding_pq_encode / sim_pq_topk** — product quantization with
  deterministic codebooks (llm/pq): relational encode + ADC top-k.
- **semantic_dedup** — SemDeDup cluster-then-prune over the IVF
  machinery (llm/dedup.semantic_dedup).

Determinism follows the repo contract: integer counts cast to BIGINT in
oracles, decimal accumulation for money sums, ROUND(x, 6) for float
dot-products, single final divisions elsewhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.queries_core import ORACLE_QUALITY
from aos_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_sf_table(spark, sf_dir, name)


def q_span_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import dedup as D

    return D.span_dedup_retention(_t(spark, sf_dir, "documents"), span=20)


ORACLE_SPAN_DEDUP = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
docs AS (
  SELECT doc_id, t, len(t) AS n_tokens,
         CAST(ceil(len(t) / 20.0) AS INTEGER) AS n_spans
  FROM toks WHERE len(t) > 0),
spans AS (
  SELECT d.doc_id, d.n_tokens, s.i AS span_idx,
         md5(array_to_string(d.t[s.i * 20 + 1 : s.i * 20 + 20], ' ')) AS span_hash,
         LEAST(20, d.n_tokens - s.i * 20) AS span_len
  FROM docs d, UNNEST(range(0, d.n_spans)) AS s(i)),
flagged AS (
  SELECT doc_id, n_tokens, span_len,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY span_hash ORDER BY doc_id, span_idx) = 1
              THEN 1 ELSE 0 END AS is_keeper
  FROM spans)
SELECT doc_id,
       CAST(MIN(n_tokens) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_spans,
       CAST(SUM(is_keeper) AS BIGINT) AS n_kept,
       CAST(SUM(is_keeper * span_len) AS BIGINT) AS kept_tokens,
       CAST(SUM(is_keeper * span_len) AS BIGINT) / CAST(MIN(n_tokens) AS BIGINT) AS retained_frac
FROM flagged GROUP BY doc_id
"""
register("span_dedup_retention", q_span_dedup_retention, ORACLE_SPAN_DEDUP)


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders placed by BUILDING-segment customers, via an explicit Bloom
    pre-filter feeding the exact semi-join (ops/bloom.bloom_semijoin). The
    bitset probe sits in the orders scan, so at scale the exchange feeding
    the semi-join sees only matching + false-positive rows. Result is
    bit-identical to the plain semi-join the oracle runs."""
    from aos_spark.ops import bloom as B

    orders = _t(spark, sf_dir, "orders")
    build = _t(spark, sf_dir, "customer").filter(
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


def q_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import text as TX

    return TX.bigram_rarity(_t(spark, sf_dir, "documents"), rare_max=2)


ORACLE_BIGRAM_RARITY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, g.g
  FROM (SELECT doc_id,
               CASE WHEN len(t) >= 2
                    THEN list_transform(range(len(t) - 1), i -> t[i + 1] || ' ' || t[i + 2])
                    ELSE [] END AS grams
        FROM toks) x, UNNEST(x.grams) AS g(g)),
counts AS (SELECT g, COUNT(*) AS corpus_freq FROM occ GROUP BY g)
SELECT o.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN c.corpus_freq <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(SUM(CASE WHEN c.corpus_freq <= 2 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*) AS rare_frac
FROM occ o JOIN counts c USING (g)
GROUP BY o.doc_id
"""
register("lm_bigram_rarity", q_bigram_rarity, ORACLE_BIGRAM_RARITY)


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import similarity as SIM

    return SIM.random_project(
        _t(spark, sf_dir, "embeddings"), out_dim=8, dim=64, seed=5
    )


def _random_projection_oracle(out_dim: int = 8, dim: int = 64, seed: int = 5) -> str:
    from aos_spark.llm.similarity import projection_signs

    signs = projection_signs(dim, out_dim, seed)
    inv = 1.0 / dim ** 0.5
    cols = ",\n       ".join(
        f"ROUND(list_dot_product(v, [{', '.join(f'{float(s)!r}' for s in row)}]::DOUBLE[]) * {inv!r}, 6) AS proj_{j}"
        for j, row in enumerate(signs)
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)\n"
        f"SELECT vec_id,\n       {cols}\nFROM e"
    )


register(
    "embedding_random_projection", q_random_projection, _random_projection_oracle()
)


MIXTURE_TARGETS = {"en": 0.5, "es": 0.2, "fr": 0.2, "de": 0.1}


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import sampling as S

    return S.mixture_plan(
        _t(spark, sf_dir, "documents"), MIXTURE_TARGETS, domain_col="lang"
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
    from aos_spark.llm import text as TX

    d = _t(spark, sf_dir, "documents")
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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

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


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import pq as PQ

    return PQ.pq_encode(_t(spark, sf_dir, "embeddings"))


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aos_spark.llm import pq as PQ

    e = _t(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return PQ.pq_topk(e, queries, top_k=10)


def _pq_sql_parts(dim: int = 64, n_sub: int = 8, k: int = 16, seed: int = 9):
    """Shared SQL fragments mirroring llm/pq.py's arithmetic exactly:
    identical literals (repr), identical expression trees, DECIMAL
    fragment accumulation."""
    from aos_spark.llm.pq import _sq_norm, pq_codebooks

    books = pq_codebooks(dim, n_sub, k, seed)
    sub_dim = dim // n_sub

    def sub(j: str | int) -> str:
        if isinstance(j, int):
            return f"v[{j * sub_dim + 1}:{j * sub_dim + sub_dim}]"
        return f"qv[{j}*{sub_dim}+1 : {j}*{sub_dim}+{sub_dim}]"

    def lst(cent: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in cent) + "]::DOUBLE[]"

    code_cols = []
    for j, book in enumerate(books):
        cands = ", ".join(
            f"[(-2.0 * list_dot_product({sub(j)}, {lst(cent)})) + CAST({_sq_norm(cent)!r} AS DOUBLE), "
            f"CAST({c} AS DOUBLE)]"
            for c, cent in enumerate(book)
        )
        code_cols.append(
            f"CAST(list_sort([{cands}])[1][2] AS INTEGER) AS code_{j}"
        )
    codes_sql = (
        "SELECT vec_id, " + ",\n       ".join(code_cols)
        + " FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    )

    frag_values = ",\n    ".join(
        f"({j}, {c}, {lst(cent)}, CAST({_sq_norm(cent)!r} AS DOUBLE))"
        for j, book in enumerate(books)
        for c, cent in enumerate(book)
    )
    return codes_sql, frag_values, sub


def _pq_encode_oracle() -> str:
    codes_sql, _, _ = _pq_sql_parts()
    return codes_sql


register("embedding_pq_encode", q_pq_encode, _pq_encode_oracle())


def _pq_topk_oracle(top_k: int = 10) -> str:
    codes_sql, frag_values, sub = _pq_sql_parts()
    return f"""
WITH codes AS ({codes_sql}),
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
  GROUP BY query_id, neighbor_id)
SELECT query_id, neighbor_id, approx_dist,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY approx_dist ASC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= {top_k}
"""


register("sim_pq_topk", q_pq_topk, _pq_topk_oracle())


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the scale-adaptive regime: n_clusters defaults to
    ceil(sqrt(N)) inside the engine (llm/dedup.semantic_dedup), so the
    gated plan IS the scale-safe plan — the r12 diagnostic measured the
    old n_clusters=8 pin at 25.8x wall for 10x data vs 10.76x under
    sqrt(N) (BENCH_SF1_DIAG.json). The oracle mirrors the regime with a
    COUNT(*) OVER () window, so both engines derive k from the data."""
    from aos_spark.llm import dedup as D

    return D.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.25
    )


ORACLE_SEMANTIC_DEDUP = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS vnorm
  FROM embeddings),
cents AS (
  -- scale-adaptive regime: k = ceil(sqrt(N)), same rule the engine
  -- applies when n_clusters is left at its None default
  SELECT vec_id AS centroid_id, v AS cvec, vnorm AS cnorm
  FROM (SELECT vec_id, v, vnorm,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS rn,
               COUNT(*) OVER () AS n
        FROM vecs)
  WHERE rn <= GREATEST(1, CAST(CEIL(SQRT(n)) AS BIGINT))),
assign AS (
  SELECT vec_id, v, vnorm, centroid_id FROM (
    SELECT x.vec_id, x.v, x.vnorm, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.cvec) / (x.vnorm * c.cnorm) DESC,
                      c.centroid_id) AS rn
    FROM vecs x CROSS JOIN cents c) WHERE rn = 1),
drops AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN assign b USING (centroid_id)
  WHERE b.vec_id < a.vec_id
    AND ROUND(list_dot_product(a.v, b.v) / (a.vnorm * b.vnorm), 6) >= 0.25)
SELECT a.vec_id, a.centroid_id AS cluster_id,
       d.vec_id IS NULL AS keep
FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
"""
register("semantic_dedup", q_semantic_dedup, ORACLE_SEMANTIC_DEDUP)
