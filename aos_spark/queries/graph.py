"""Graph queries over ops/graph: triangles and common-neighbour link
prediction on the embedding near-duplicate graph, and one PageRank step
on the buyer-supplier graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.cache import persist_tracked
from aos_spark.io.readers import read_sf_table
from aos_spark.llm import dedup as D
from aos_spark.ops import graph as G
from aos_spark.ops.graph import _sized, common_neighbor_scores, triangle_count
from aos_spark.queries.dedup import embedding_neardup_oracle
from aos_spark.registry import register


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the embedding near-dup graph (ops/graph.triangle_count,
    degree-oriented wedge join — out-degree bounded by O(√E), so a hub
    node cannot quadratically explode the wedge stage)."""
    e = read_sf_table(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dups(e, threshold=0.2, n_planes=4)
    return triangle_count(pairs)


def _triangle_oracle() -> str:
    return f"""
WITH e AS (SELECT id_a AS a, id_b AS b FROM ({embedding_neardup_oracle()}))
SELECT COUNT(*) AS n_triangles
FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
"""


register("graph_triangle_count", q_triangle_count, _triangle_oracle())


def q_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic PageRank iteration over the bidirectional
    buyer-supplier graph (distinct customer↔supplier purchase edges from
    orders ⋈ lineitem). Bidirectional edges guarantee outdeg ≥ 1 — no
    dangling-node redistribution needed."""
    o = read_sf_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_sf_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")

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


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor Jaccard link prediction on the embedding near-dup
    graph (ops/graph.common_neighbor_scores) — the triangle-count
    machinery pointed at NON-edges: which unlinked vector pairs share the
    most neighborhood. Same degree-bounded wedge envelope."""
    e = read_sf_table(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dups(e, threshold=0.2, n_planes=4)
    return common_neighbor_scores(pairs, topk=50)


def _link_prediction_oracle() -> str:
    return f"""
WITH raw AS (SELECT id_a, id_b FROM ({embedding_neardup_oracle()})),
e AS (
  SELECT DISTINCT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
  FROM raw WHERE id_a <> id_b),
und AS (
  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
deg AS (SELECT a, COUNT(*) AS deg FROM und GROUP BY a),
wedges AS (
  SELECT n1.b AS x, n2.b AS y, COUNT(*) AS common_n
  FROM und n1 JOIN und n2 ON n1.a = n2.a AND n1.b < n2.b
  GROUP BY 1, 2),
cand AS (
  SELECT w.* FROM wedges w
  ANTI JOIN e ON e.a = w.x AND e.b = w.y)
SELECT c.x AS node_a, c.y AS node_b,
       CAST(c.common_n AS BIGINT) AS common_n,
       CAST(dx.deg AS BIGINT) AS deg_x,
       CAST(dy.deg AS BIGINT) AS deg_y,
       ROUND(CAST(c.common_n AS DOUBLE)
             / CAST(dx.deg + dy.deg - c.common_n AS DOUBLE), 6) AS jaccard
FROM cand c
JOIN deg dx ON dx.a = c.x
JOIN deg dy ON dy.a = c.y
ORDER BY jaccard DESC, node_a, node_b
LIMIT 50
"""


register("graph_link_prediction", q_graph_link_prediction, _link_prediction_oracle())
