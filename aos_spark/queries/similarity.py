"""Vector search queries over llm/similarity, llm/pq and
llm/cluster: brute-force, LSH, IVF, PQ and IVF-PQ top-k, random
projection, int8 quantization, Gram matrices, k-means, label centroids,
rank fusion, hard negatives and recall evaluation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.llm import cluster as CL
from aos_spark.llm import pq as PQ
from aos_spark.llm import similarity as SIM
from aos_spark.llm.dedup import tokens
from aos_spark.llm.pq import _sq_norm, pq_codebooks
from aos_spark.llm.similarity import (
    brute_force_topk,
    deterministic_centroids,
    hard_negative_topk,
    ivf_assign,
    ivf_probes,
    projection_signs,
    rrf_fuse,
)
from aos_spark.ops.exact_round import round_ratio6
from aos_spark.ops.topk import topk_per_group
from aos_spark.registry import register


def q_sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_sf_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.brute_force_topk(e, queries, k=10)


ORACLE_SIM_BRUTE = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
           AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= 10
"""
register("sim_bruteforce_topk", q_sim_bruteforce, ORACLE_SIM_BRUTE)


def q_sim_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_sf_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.lsh_topk(e, queries, k=10, n_planes=6)


def _sim_lsh_oracle(n_planes: int = 6, seed: int = 7, dim: int = 64, k: int = 10) -> str:
    planes = SIM._hyperplanes(dim, n_planes, seed)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in p)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bucketed AS (SELECT vec_id, v, {bucket_terms} AS bucket FROM vecs),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.qv, c.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM q JOIN bucketed c USING (bucket) WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= {k}
"""


register("sim_lsh_topk", q_sim_lsh, _sim_lsh_oracle())


def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: corpus pre-assigned to inverted lists (nearest of k
    deterministic centroids), queries probe nprobe lists. The third ANN
    tier next to brute force (exact) and hyperplane LSH."""
    e = read_sf_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk(e, queries, k=10, n_centroids=8, nprobe=2)


ORACLE_SIM_IVF = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS vnorm
  FROM embeddings),
cents AS (
  SELECT vec_id AS centroid_id, v AS cvec, vnorm AS cnorm
  FROM vecs ORDER BY vec_id LIMIT 8),
assign AS (
  SELECT vec_id, v, vnorm, centroid_id FROM (
    SELECT x.vec_id, x.v, x.vnorm, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY list_dot_product(x.v, c.cvec) / (x.vnorm * c.cnorm) DESC,
                      c.centroid_id) AS rn
    FROM vecs x CROSS JOIN cents c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, vnorm AS qn FROM vecs WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, qn, centroid_id FROM (
    SELECT q.query_id, q.qv, q.qn, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, c.cvec) / (q.qn * c.cnorm) DESC,
                      c.centroid_id) AS rn
    FROM q CROSS JOIN cents c) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         list_dot_product(p.qv, a.v) / (p.qn * a.vnorm) AS cosine
  FROM assign a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
FROM scored QUALIFY rank <= 10
"""
register("sim_ivf_topk", q_sim_ivf, ORACLE_SIM_IVF)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — per-vector
    scale 127/max|x|, floor-clamped components. All-arithmetic (float→
    double promotion, one division, floor) so the quantized vectors are
    bit-identical cross-engine; at scale this is the storage/ANN-probe
    compression step and runs as one whole-stage-codegen projection.
    maxabs is materialized as a column BEFORE the transform lambda
    (Catalyst does not CSE across higher-order-function boundaries).
    The quantized vector is emitted as a comma-joined string — the
    driver's pandas canonicalizer can't hash LIST cells (r4 verdict);
    the array form stays under test in tests/test_relational_ops.py."""
    e = read_sf_table(spark, sf_dir, "embeddings")
    df = e.withColumn(
        "maxabs",
        F.array_max(F.transform("embedding", lambda x: F.abs(x))).cast("double"),
    ).withColumn(
        "scale",
        F.when(F.col("maxabs") > 0, F.lit(127.0) / F.col("maxabs")).otherwise(
            F.lit(0.0)
        ),
    )
    q8 = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127), F.floor(x.cast("double") * F.col("scale")).cast("int")
            ),
        ),
    )
    return df.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform(q8, lambda v: v.cast("string")), ","
        ).alias("q_int8"),
    )


ORACLE_QUANTIZE = """
WITH m AS (
  SELECT vec_id, embedding,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS maxabs
  FROM embeddings),
s AS (
  SELECT vec_id, embedding,
         CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale
  FROM m)
SELECT vec_id, scale,
       array_to_string(list_transform(embedding,
         x -> CAST(GREATEST(-127, LEAST(127,
                CAST(FLOOR(CAST(x AS DOUBLE) * scale) AS INTEGER))) AS VARCHAR)),
         ',') AS q_int8
FROM s
"""
register("embedding_quantize", q_embedding_quantize, ORACLE_QUANTIZE)


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed Lloyd iteration over the embeddings table, k=4,
    deterministic lowest-id seeding (llm/cluster.kmeans_lloyd_step);
    exact-decimal distances make assignment bit-stable, output is
    long-form centroids."""
    return CL.kmeans_lloyd_step(read_sf_table(spark, sf_dir, "embeddings"), k=4)


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


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.random_project(
        read_sf_table(spark, sf_dir, "embeddings"), out_dim=8, dim=64, seed=5
    )


def _random_projection_oracle(out_dim: int = 8, dim: int = 64, seed: int = 5) -> str:
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


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PQ.pq_encode(read_sf_table(spark, sf_dir, "embeddings"))


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_sf_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return PQ.pq_topk(e, queries, top_k=10)


def _pq_sql_parts(dim: int = 64, n_sub: int = 8, k: int = 16, seed: int = 9):
    """Shared SQL fragments mirroring llm/pq.py's arithmetic exactly:
    identical literals (repr), identical expression trees, DECIMAL
    fragment accumulation."""
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


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: recall@10 of the IVF probe against the
    brute-force ground truth on the same query set — the standard metric
    that justifies an (n_centroids, nprobe) choice. Both sides are the
    production operators (llm/similarity); the comparison adds one
    semi-join on (query, neighbor) plus two query-keyed counts."""
    e = read_sf_table(spark, sf_dir, "embeddings")
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


def q_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CL.label_centroid_similarity(read_sf_table(spark, sf_dir, "embeddings"))


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


def q_rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse a semantic ranking (exact cosine over the
    embedding corpus, the sim_bruteforce machinery) with a lexical
    ranking (distinct-term overlap against each query doc's token set)
    via reciprocal-rank fusion in integer micro-units
    (llm/similarity.rrf_fuse). Query set = ids < 5, both modalities.

    Scale shape: semantic side never shuffles the corpus (broadcast
    queries × corpus → per-query window over |Q| partitions); lexical
    side broadcasts the ≤|Q|·|query-tokens| term frame onto the exploded
    corpus tokens, aggregates on (query_id, doc_id); fusion runs on two
    |Q|·50-row frames."""
    emb = read_sf_table(spark, sf_dir, "embeddings")
    docs = read_sf_table(spark, sf_dir, "documents")
    qvec = emb.filter(F.col("vec_id") < 5)
    sem = brute_force_topk(emb, qvec, k=50, query_id_col="vec_id").select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )

    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("term")
    )
    qtok = tok.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    overlap = (
        tok.join(F.broadcast(qtok), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    lex = topk_per_group(
        overlap, ["query_id"], "overlap", "doc_id", 50, rank_col="rank"
    ).select("query_id", "doc_id", "rank")
    return rrf_fuse(sem, lex, k0=60, topk=10)


ORACLE_RRF = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
sem_scored AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
           AS cos
  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
sem AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rank
  FROM sem_scored QUALIFY rank <= 50),
tok AS (
  SELECT DISTINCT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS term
  FROM documents),
qtok AS (SELECT doc_id AS query_id, term FROM tok WHERE doc_id < 5),
ov AS (
  SELECT qt.query_id, t.doc_id, COUNT(*) AS overlap
  FROM tok t JOIN qtok qt USING (term)
  WHERE t.doc_id <> qt.query_id
  GROUP BY 1, 2),
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY overlap DESC, doc_id ASC) AS rank
  FROM ov QUALIFY rank <= 50),
fused AS (
  SELECT COALESCE(s.query_id, l.query_id) AS query_id,
         COALESCE(s.doc_id, l.doc_id) AS doc_id,
         COALESCE(1000000000 // (60 + s.rank), 0) AS sem_micros,
         COALESCE(1000000000 // (60 + l.rank), 0) AS lex_micros
  FROM sem s FULL OUTER JOIN lex l
    ON s.query_id = l.query_id AND s.doc_id = l.doc_id)
SELECT query_id, doc_id,
       CAST(sem_micros + lex_micros AS BIGINT) AS rrf_micros,
       CAST(sem_micros AS BIGINT) AS sem_micros,
       CAST(lex_micros AS BIGINT) AS lex_micros,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sem_micros + lex_micros DESC, doc_id ASC) AS INTEGER)
         AS fused_rank
FROM fused
QUALIFY fused_rank <= 10
"""
register("rrf_fusion_topk", q_rrf_fusion_topk, ORACLE_RRF)


def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram (second-moment) matrix over the first 8 embedding dimensions —
    the whitening/PCA-prep input — with every accumulated quantity in
    BIGINT micro-units (⌊v_i·v_j·10¹²⌋ per vector, then exact integer
    sums): the label_centroid discipline, so the matrix is bit-identical
    under any partitioning. Fan-out: posexplode to 8 dims → vec-keyed
    self-join (≤64 pairs per vector), one (i,j)-keyed rollup onto a
    36-row output."""
    e = read_sf_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).toDF("vec_id", "dim", "v").filter(F.col("dim") < 8)
    a = ex.select("vec_id", F.col("dim").alias("i"), F.col("v").alias("vi"))
    b = ex.select("vec_id", F.col("dim").alias("j"), F.col("v").alias("vj"))
    prods = (
        a.join(b, "vec_id")
        .filter(F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            F.floor(F.col("vi") * F.col("vj") * F.lit(1_000_000_000_000.0))
            .cast("long")
            .alias("q"),
        )
    )
    return prods.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("q").alias("m2_micro"),
    )


ORACLE_GRAM = """
WITH ex AS (
  SELECT vec_id, t.i - 1 AS dim, CAST(emb[t.i] AS DOUBLE) AS v
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) e,
       LATERAL (SELECT unnest(range(1, 9)) AS i) t),
prods AS (
  SELECT a.dim AS i, b.dim AS j,
         CAST(FLOOR(a.v * b.v * 1000000000000.0) AS BIGINT) AS q
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(q) AS BIGINT) AS m2_micro
FROM prods GROUP BY 1, 2
"""
register("embedding_gram_matrix", q_embedding_gram_matrix, ORACLE_GRAM)


# ------------------------------------------------------------ hard_negative_mining
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: for each of 5 anchor vectors, the top-5
    most-similar corpus vectors with a DIFFERENT label
    (llm/similarity.hard_negative_topk — broadcast anchors, label
    predicate inside the join, per-anchor window top-k)."""
    e = read_sf_table(spark, sf_dir, "embeddings")
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
    e = read_sf_table(spark, sf_dir, "embeddings")
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
    e = read_sf_table(spark, sf_dir, "embeddings")
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
