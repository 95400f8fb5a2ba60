"""Near-duplicate queries over llm/dedup and llm/setjoin: exact,
n-gram Jaccard, MinHash-LSH, SimHash, embedding and semantic dedup,
clustering and resolution, span dedup, containment, prefix-filtered exact
joins, LSH diagnostics, cross-source overlap, threshold curves, benchmark
decontamination and split leakage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.llm import dedup as D
from aos_spark.llm import sampling
from aos_spark.llm import similarity as SIM
from aos_spark.llm import text as TX
from aos_spark.llm.dedup import (
    MINHASH_PRIME,
    banded_minhash_frame,
    ensure_min_partitions,
    minhash_params,
    ngram_jaccard_pairs,
    shingle_hash,
    shingle_intersection_counts,
    shingles_from_tokens,
    tokens,
)
from aos_spark.llm.setjoin import ppjoin_pairs
from aos_spark.llm.text import gram_occurrences
from aos_spark.ops.exact_round import round_ratio6, round_ratio6_micro
from aos_spark.queries.text import ORACLE_QUALITY
from aos_spark.registry import register


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_sf_table(spark, sf_dir, "documents")
    return D.exact_dedup(d)


ORACLE_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS content_hash,
       MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""
register("dedup_exact", q_dedup_exact, ORACLE_DEDUP_EXACT)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_sf_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(d, n=3, threshold=0.35)


_SHINGLES_SQL = r"""
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' '))
           ELSE [array_to_string(t, ' ')] END) AS shingles
  FROM (SELECT doc_id,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
        FROM documents)
"""

ORACLE_NGRAM_JACCARD = f"""
WITH sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS jaccard
FROM inter WHERE CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= 0.35
"""
register("dedup_ngram_jaccard", q_ngram_jaccard, ORACLE_NGRAM_JACCARD)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_sf_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(d, num_hashes=16, bands=4, n=3, threshold=0.3)


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.3) -> str:
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
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
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
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         x.shingles AS sh_a, y.shingles AS sh_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
),
verified AS (
  SELECT id_a, id_b,
         len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS n_inter,
         len(sh_a) + len(sh_b) - len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS n_union
  FROM cand
)
SELECT id_a, id_b, CAST((CAST(n_inter AS HUGEINT) * 1000000 * 2 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS jaccard
FROM verified WHERE CAST((CAST(n_inter AS HUGEINT) * 1000000 * 2 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= {threshold}
"""


register("dedup_minhash_lsh", q_minhash_lsh, _minhash_oracle())


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_sf_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dups(e, threshold=0.2, n_planes=4)


def embedding_neardup_oracle(threshold: float = 0.2, n_planes: int = 4, seed: int = 7, dim: int = 64) -> str:
    planes = SIM._hyperplanes(dim, n_planes, seed)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in p)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bucketed AS (SELECT vec_id, v, {bucket_terms} AS bucket FROM vecs),
pairs AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         ROUND(list_dot_product(x.v, y.v)
           / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
  FROM bucketed x JOIN bucketed y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {threshold}
"""


register("dedup_embedding_cosine", q_embedding_neardup, embedding_neardup_oracle())


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_sf_table(spark, sf_dir, "documents")
    return D.simhash_near_dups(d, max_hamming=3, band_bits=16)


def _simhash_oracle(max_hamming: int = 3) -> str:
    """DuckDB reproduction of the 64-bit simhash: per-token md5 (first 8
    bytes, big-endian = first 16 hex chars), bit-majority accumulation,
    band-bucket candidate join, popcount verification. Docs with no tokens
    get signature 0 (they band together), matching the UDF."""
    return f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS nt
  FROM documents),
toks AS (
  SELECT doc_id, unnest(string_split_regex(nt, '\\s+')) AS tok
  FROM norm WHERE nt <> ''),
th AS (SELECT doc_id, CAST('0x' || substring(md5(tok), 1, 16) AS UBIGINT) AS h FROM toks),
bits AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS bit) b
  GROUP BY doc_id, b.bit),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN CAST(CAST(1 AS UBIGINT) << bit AS HUGEINT)
                  ELSE 0 END) AS hsig
  FROM bits GROUP BY doc_id),
sigall AS (
  SELECT d.doc_id, CAST(COALESCE(s.hsig, 0) AS UBIGINT) AS ush
  FROM documents d LEFT JOIN sig s USING (doc_id)),
banded AS (
  SELECT doc_id, ush, b.band, CAST((ush >> (b.band * 16)) & 65535 AS BIGINT) AS band_key
  FROM sigall CROSS JOIN (SELECT unnest(range(4)) AS band) b),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.ush AS ua, y.ush AS ub
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(ua, ub)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ua, ub)) <= {max_hamming}
"""


register("dedup_simhash", q_simhash, _simhash_oracle())


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected-component clusters (llm/dedup.dup_clusters):
    the end-to-end "which docs are the same group" resolution over the
    n-gram Jaccard pair generator. Iterative min-label propagation on the
    Spark side; the oracle computes the same closure with a recursive CTE."""
    d = read_sf_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(d, n=3, threshold=0.35)
    return D.dup_clusters(pairs)


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2, 3, 4
),
pairs AS (
  SELECT id_a, id_b FROM inter
  WHERE CAST((CAST(n_common AS HUGEINT) * 1000000 * 2 + CAST(n_a + n_b - n_common AS HUGEINT)) // (CAST(n_a + n_b - n_common AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= 0.35
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
"""
register("dedup_clusters", q_dedup_clusters, ORACLE_DEDUP_CLUSTERS)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (llm/dedup.cross_contamination_pairs):
    split the corpus by the deterministic hash bucket (train = the large
    side, held-out = the small side), then find held-out docs leaking into
    train via the banded-LSH cross join. The held-out banded frame
    broadcasts; the training corpus never shuffles."""
    d = read_sf_table(spark, sf_dir, "documents")
    b = sampling.hash_bucket("doc_id", 100, "split")
    corpus = d.filter(b < 80)
    heldout = d.filter(b >= 80)
    return D.cross_contamination_pairs(corpus, heldout, threshold=0.3)


def _contamination_oracle(num_hashes: int = 16, bands: int = 4, threshold: float = 0.3) -> str:
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
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         x.shingles AS sh_a, y.shingles AS sh_b
  FROM banded x
  JOIN split sx ON x.doc_id = sx.doc_id AND sx.bucket < 80
  JOIN banded y ON x.band = y.band AND x.band_key = y.band_key
  JOIN split sy ON y.doc_id = sy.doc_id AND sy.bucket >= 80
),
verified AS (
  SELECT id_a, id_b,
         len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS n_inter,
         len(sh_a) + len(sh_b) - len(list_filter(sh_a, s -> list_contains(sh_b, s))) AS n_union
  FROM cand
)
SELECT id_a, id_b, CAST((CAST(n_inter AS HUGEINT) * 1000000 * 2 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS jaccard
FROM verified WHERE CAST((CAST(n_inter AS HUGEINT) * 1000000 * 2 + CAST(n_union AS HUGEINT)) // (CAST(n_union AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 >= {threshold}
"""


register("decontamination_pairs", q_contamination, _contamination_oracle())


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation accounting: per language, how much the exact-dedup
    pass saves — one hash aggregation by content digest (the same
    single-shuffle shape as dedup_exact), then a per-language rollup.
    Integer-only outputs, bit-exact."""
    d = read_sf_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_chars").alias("chars"),  # identical text → identical length
    )
    return g.groupBy("lang").agg(
        F.sum("n_copies").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.col("n_copies") * F.col("chars")).alias("chars_total"),
        F.sum((F.col("n_copies") - 1) * F.col("chars")).alias("chars_removed"),
    )


ORACLE_DEDUP_SAVINGS = """
WITH g AS (
  SELECT lang, md5(text) AS h, COUNT(*) AS n_copies, MIN(n_chars) AS chars
  FROM documents GROUP BY 1, 2)
SELECT lang, CAST(SUM(n_copies) AS BIGINT) AS n_docs, COUNT(*) AS n_unique,
       CAST(SUM(n_copies * chars) AS BIGINT) AS chars_total,
       CAST(SUM((n_copies - 1) * chars) AS BIGINT) AS chars_removed
FROM g GROUP BY lang
"""
register("dedup_storage_savings", q_dedup_savings, ORACLE_DEDUP_SAVINGS)


def q_decontamination_13gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 13-gram decontamination (llm/dedup.exact_ngram_contamination)
    over the same deterministic train/held-out split as the fuzzy LSH
    variant — the two tiers a real pretraining pipeline runs together."""
    d = read_sf_table(spark, sf_dir, "documents")
    b = sampling.hash_bucket("doc_id", 100, "split")
    corpus = d.filter(b < 80)
    heldout = d.filter(b >= 80)
    return D.exact_ngram_contamination(corpus, heldout, n=13)


ORACLE_13GRAM = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(len(t) - 12),
                                      i -> array_to_string(t[i+1:i+13], ' '))) AS g
  FROM t WHERE len(t) >= 13),
split AS (
  SELECT doc_id,
         CAST('0x' || substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS b
  FROM t),
ex AS (SELECT doc_id, unnest(g) AS g FROM sh)
SELECT tr.doc_id AS train_id, ho.doc_id AS heldout_id, COUNT(*) AS n_shared_ngrams
FROM ex tr
JOIN split st ON tr.doc_id = st.doc_id AND st.b < 80
JOIN ex ho ON tr.g = ho.g
JOIN split s2 ON ho.doc_id = s2.doc_id AND s2.b >= 80
GROUP BY 1, 2
"""
register("decontamination_13gram", q_decontamination_13gram, ORACLE_13GRAM)


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
    d = read_sf_table(spark, sf_dir, "documents")
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


def q_span_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.span_dedup_retention(read_sf_table(spark, sf_dir, "documents"), span=20)


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


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the scale-adaptive regime: n_clusters defaults to
    ceil(sqrt(N)) inside the engine (llm/dedup.semantic_dedup), so the
    gated plan IS the scale-safe plan — the r12 diagnostic measured the
    old n_clusters=8 pin at 25.8x wall for 10x data vs 10.76x under
    sqrt(N) (BENCH_SF1_DIAG.json). The oracle mirrors the regime with a
    COUNT(*) OVER () window, so both engines derive k from the data."""
    return D.semantic_dedup(
        read_sf_table(spark, sf_dir, "embeddings"), threshold=0.25
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


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-crawl admission check: the 80% hash-bucket slice of the
    corpus is the admitted history, the 20% slice is today's batch —
    the same deterministic split decontamination_pairs uses."""
    d = read_sf_table(spark, sf_dir, "documents")
    b = sampling.hash_bucket("doc_id", 100, "split")
    return D.incremental_dedup(
        d.filter(b < 80), d.filter(b >= 80), threshold=0.3
    )


def _incremental_dedup_oracle(
    num_hashes: int = 16, bands: int = 4, threshold: float = 0.3
) -> str:
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
    return D.lsh_recall_eval(
        read_sf_table(spark, sf_dir, "documents"),
        sample_docs=1000,
        threshold=0.3,
    )


def _lsh_recall_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
    sample_docs: int = 1000,
) -> str:
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
    d = read_sf_table(spark, sf_dir, "documents")
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


# -------------------------------------------------- source_minhash_similarity
def q_source_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level similarity between sources: one 16-slot MinHash
    signature PER SOURCE (min over every shingle hash the source emits,
    reusing llm/dedup's md5-base + affine permutations), then pairwise
    matched-slot counts as the Jaccard estimate. The min() aggregates
    combine map-side, so the shuffle carries one row per (partition,
    source) no matter the corpus size; the pairwise stage joins a
    #sources-row frame — broadcast by construction."""
    d = read_sf_table(spark, sf_dir, "documents")
    params = minhash_params(16)
    toks = ensure_min_partitions(d).select(
        "source", tokens().alias("__tokens")
    )
    sh = toks.select(
        "source", shingles_from_tokens(F.col("__tokens"), 3).alias("shingles")
    )
    # explode_outer, not explode (the dedup.py:~128 lesson): plain explode
    # makes Catalyst infer size(shingles)>0 and push it into the scan with
    # the whole shingle lambda tree inlined — re-evaluated per row,
    # single-threaded; measured 11.8 s -> 0.6 s on this chain at sf0.1.
    # Null rows are ignored by the min() aggregates.
    hv = sh.select("source", F.explode_outer("shingles").alias("s")).select(
        "source", shingle_hash(F.col("s")).alias("hv")
    )
    sig = hv.groupBy("source").agg(
        *[
            F.min(
                (F.col("hv") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)
            ).alias(f"s{i}")
            for i, (a, b) in enumerate(params)
        ]
        # min() ignores the explode_outer null rows; a source with ONLY
        # empty docs would aggregate to an all-null signature — drop it
        # post-agg (|sources| rows) instead of row-filtering the exploded
        # frame, which re-triggers the inferred-constraint pathology
        # (measured 0.6 s vs 2.7 s with the row filter)
    ).filter(F.col("s0").isNotNull())
    a, b = sig.alias("a"), sig.alias("b")
    matched = sum(
        F.when(F.col(f"a.s{i}") == F.col(f"b.s{i}"), 1).otherwise(0)
        for i in range(16)
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            matched.cast("long").alias("n_match"),
            F.round(matched.cast("double") / F.lit(16), 6).alias(
                "est_jaccard"
            ),
        )
    )


def _source_minhash_oracle(num_hashes: int = 16) -> str:
    params = minhash_params(num_hashes)
    sig_cols = ",\n         ".join(
        f"MIN((hv * {a} + {b}) % {MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    match_sum = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return rf"""
WITH sh AS (
  SELECT source,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(len(t) - 2),
                               i -> array_to_string(t[i+1:i+3], ' '))
           ELSE [array_to_string(t, ' ')] END) AS shingles
  FROM (SELECT source,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
        FROM documents)),
hv AS (
  SELECT source,
         CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) AS hv
  FROM (SELECT source, unnest(shingles) AS s FROM sh)),
sig AS (
  SELECT source,
         {sig_cols}
  FROM hv GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       CAST({match_sum} AS BIGINT) AS n_match,
       ROUND(CAST({match_sum} AS DOUBLE) / {num_hashes}, 6) AS est_jaccard
FROM sig a JOIN sig b ON a.source < b.source
"""


register(
    "source_minhash_similarity", q_source_minhash_similarity, _source_minhash_oracle()
)


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
    d = read_sf_table(spark, sf_dir, "documents")
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
    d = read_sf_table(spark, sf_dir, "documents")
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


# ------------------------------------------------------------ ppjoin_exact_pairs
def q_ppjoin_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= 0.5 document pairs via prefix filtering.
    The oracle below runs the UNFILTERED all-pairs shingle join, so a
    hash match is a completeness proof for the prefix-filter pruning
    (no pair at or above the threshold may be dropped)."""
    d = read_sf_table(spark, sf_dir, "documents")
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
    d = read_sf_table(spark, sf_dir, "documents")
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
    d = read_sf_table(spark, sf_dir, "documents")
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
    d = read_sf_table(spark, sf_dir, "documents")
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
