"""Round-5 fourth wave gate queries.

Gaps-and-islands / concentration / diversity / basket-mining analytics:

- **interval_union_coverage** — per-user union of overlapping fixed-length
  event intervals (the classic merge-intervals sweep, ops/intervals
  .merge_intervals): ONE user-keyed shuffle carries both windows and the
  island rollup. All arithmetic in BIGINT epoch seconds.
- **gini_revenue_by_nation** — exact-rank Gini concentration of customer
  revenue within each nation (ops/stats.grouped_gini): decimal moments,
  one final IEEE division.
- **simpson_diversity_by_source** — language diversity per corpus source
  as Simpson's index 1 − Σc²/n², rational on exact counts (no ln —
  the cross-libm rule).
- **assoc_rules_brands** — market-basket association rules over per-order
  brand baskets (ops/assoc.association_rules): support/confidence/lift
  with an integer cross-multiplied support cut.

Determinism follows the repo contract: BIGINT counts, exact decimal
moments, single-division floats whose operand order the oracle mirrors
literally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.llm.dedup import tokens
from aos_spark.ops.exact_round import scaled_round
from aos_spark.queries_core import _embedding_neardup_oracle
from aos_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_sf_table(spark, sf_dir, name)


def q_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event opens a 1-hour activity interval; overlapping/touching
    intervals union into islands per user. Output: per-user island count,
    total covered seconds, and the densest island's event count — the
    'effective active time' metric sessionization approximates from the
    other direction."""
    from aos_spark.ops.intervals import merge_intervals

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("ivl_start"),
        (F.unix_timestamp("ts") + F.lit(3600)).alias("ivl_end"),
    )
    islands = merge_intervals(iv, ["user_id"], "ivl_start", "ivl_end")
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias(
            "covered_seconds"
        ),
        F.max("n_intervals").alias("max_island_events"),
    )


ORACLE_INTERVAL_COVERAGE = """
WITH iv AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
         CAST(FLOOR(epoch(ts)) AS BIGINT) + 3600 AS e
  FROM events),
m AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv),
g AS (
  SELECT user_id, s, e,
         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m),
isl AS (
  SELECT user_id, island,
         MIN(s) AS island_start, MAX(e) AS island_end,
         COUNT(*) AS n_intervals
  FROM g GROUP BY 1, 2)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(island_end - island_start) AS BIGINT) AS covered_seconds,
       CAST(MAX(n_intervals) AS BIGINT) AS max_island_events
FROM isl GROUP BY user_id
"""
register("interval_union_coverage", q_interval_union_coverage, ORACLE_INTERVAL_COVERAGE)


def q_gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per nation: exact decimal rank moments over
    per-customer order totals. Shuffles: custkey rollup → nation-keyed
    rank window (grouped_gini reuses that exchange for its rollup);
    customer joins on its own key, nation broadcasts."""
    from aos_spark.ops.stats import grouped_gini

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_rev = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(14,2)")
            .alias("rev")
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "o_custkey", "rev")
    )
    g = grouped_gini(cust_rev, ["nation"], "rev", order_cols=["o_custkey"])
    return g.select(
        "nation",
        F.col("n").alias("n_customers"),
        F.round("total_value", 2).alias("total_rev"),
        "gini",
    )


ORACLE_GINI = """
WITH cust_rev AS (
  SELECT n_name AS nation, o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(14,2)) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
ranked AS (
  SELECT nation, rev,
         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY rev, o_custkey) AS i
  FROM cust_rev),
m AS (
  SELECT nation,
         COUNT(*) AS n,
         SUM(rev) AS s,
         SUM(CAST(i AS DECIMAL(20,0)) * rev) AS s1
  FROM ranked GROUP BY nation)
SELECT nation,
       CAST(n AS BIGINT) AS n_customers,
       ROUND(CAST(s AS DOUBLE), 2) AS total_rev,
       ROUND((2.0 * CAST(s1 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS gini
FROM m
"""
register("gini_revenue_by_nation", q_gini_revenue_by_nation, ORACLE_GINI)


def q_simpson_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language diversity per corpus source: Simpson's index
    1 − Σc²/n² on exact counts — a rational diversity measure (Shannon
    entropy needs ln(), which diverges across libm implementations; the
    tf-idf/key-skew precedent). One (source, lang) rollup, then a
    source-sized re-aggregate: two map-combined shuffles, output
    |sources| rows."""
    d = _t(spark, sf_dir, "documents")
    by_lang = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    c18 = F.col("c").cast("decimal(18,0)")
    agg = by_lang.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(c18 * c18).alias("sum_c2"),
    )
    n18 = F.col("n_docs").cast("decimal(18,0)")
    return agg.select(
        "source",
        "n_docs",
        "n_langs",
        F.round(
            F.lit(1.0)
            - F.col("sum_c2").cast("double") / (n18 * n18).cast("double"),
            6,
        ).alias("simpson_diversity"),
    )


ORACLE_SIMPSON = """
WITH by_lang AS (
  SELECT source, lang, COUNT(*) AS c
  FROM documents GROUP BY 1, 2),
agg AS (
  SELECT source,
         SUM(c) AS n_docs,
         COUNT(*) AS n_langs,
         SUM(CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0))) AS sum_c2
  FROM by_lang GROUP BY source)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_langs AS BIGINT) AS n_langs,
       ROUND(1.0 - CAST(sum_c2 AS DOUBLE)
                   / CAST(CAST(n_docs AS DECIMAL(18,0)) * CAST(n_docs AS DECIMAL(18,0)) AS DOUBLE),
             6) AS simpson_diversity
FROM agg
"""
register("simpson_diversity_by_source", q_simpson_diversity_by_source, ORACLE_SIMPSON)


def q_assoc_rules_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over per-order brand baskets: which part brands
    are bought together more often than independence predicts. Brand dim
    broadcasts onto lineitem; the pair self-join is order-keyed
    (fan-out ≤ brands-per-order², never corpus²); support cut at 1% of
    baskets via integer cross-multiply."""
    from aos_spark.ops.assoc import association_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return association_rules(
        baskets, "l_orderkey", "p_brand", min_support_pct=1
    )


ORACLE_ASSOC = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey),
tot AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM ob),
item_n AS (SELECT item, COUNT(*) AS item_n FROM ob GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS pair_n
  FROM ob a JOIN ob b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2),
directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, pair_n FROM pairs
  UNION ALL
  SELECT item_b AS antecedent, item_a AS consequent, pair_n FROM pairs)
SELECT d.antecedent, d.consequent,
       CAST(d.pair_n AS BIGINT) AS pair_n,
       CAST(ia.item_n AS BIGINT) AS ant_n,
       CAST(ic.item_n AS BIGINT) AS con_n,
       CAST(t.n_baskets AS BIGINT) AS n_baskets,
       CAST((CAST(d.pair_n AS HUGEINT) * 1000000 * 2 + CAST(t.n_baskets AS HUGEINT)) // (CAST(t.n_baskets AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS support,
       CAST((CAST(d.pair_n AS HUGEINT) * 1000000 * 2 + CAST(ia.item_n AS HUGEINT)) // (CAST(ia.item_n AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS confidence,
       CAST((CAST(d.pair_n AS HUGEINT) * CAST(t.n_baskets AS HUGEINT) * 1000000 * 2 + CAST(ia.item_n AS HUGEINT) * CAST(ic.item_n AS HUGEINT)) // (CAST(ia.item_n AS HUGEINT) * CAST(ic.item_n AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS lift
FROM directed d
JOIN item_n ia ON d.antecedent = ia.item
JOIN item_n ic ON d.consequent = ic.item
CROSS JOIN tot t
WHERE d.pair_n * 100 >= 1 * t.n_baskets
"""
register("assoc_rules_brands", q_assoc_rules_brands, ORACLE_ASSOC)


def q_stratified_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proportional sampling of the corpus by language
    (llm/sampling.proportional_allocation): 10% budget split exactly
    proportionally, md5-rank selection inside each stratum. Output is the
    per-stratum audit: population, exact quota, realized pick count and
    the picked docs' character volume — the numbers a curation run logs."""
    from aos_spark.llm.sampling import proportional_allocation

    d = _t(spark, sf_dir, "documents")
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


def q_ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between the 'en' and 'zh' slices of the
    corpus: exact two-sample KS statistic over document lengths
    (ops/stats.ks_two_sample). The corpus reduces to a length histogram
    before any window runs — the windows order a bounded dim frame."""
    from aos_spark.ops.stats import ks_two_sample

    d = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    return ks_two_sample(d, "lang", "n_chars", "en", "zh")


ORACLE_KS_DRIFT = """
WITH h AS (
  SELECT n_chars,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS cb
  FROM documents WHERE lang IN ('en', 'zh') GROUP BY n_chars),
tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM h),
cum AS (
  SELECT n_chars, na, nb,
         SUM(ca) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM h CROSS JOIN tot),
d AS (
  SELECT n_chars, na, nb,
         ABS(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
             - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE)) AS dd
  FROM cum),
top AS (
  SELECT na, nb, n_chars, dd,
         ROW_NUMBER() OVER (ORDER BY dd DESC, n_chars) AS rk
  FROM d)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       n_chars AS ks_at, ROUND(dd, 6) AS ks_stat
FROM top WHERE rk = 1
"""
register("ks_length_drift", q_ks_length_drift, ORACLE_KS_DRIFT)


def q_seasonal_dow_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal baseline over daily event volume: each day is
    compared against its weekday's average via integer cross-multiply
    (cnt·n_days·100 > 105·total ⇔ ratio > 1.05 — float-free flagging);
    the reported ratio is ONE division of exact ints. Two tiny rollups:
    corpus → 365·years daily rows → 7-row baseline broadcast back."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # 1992-01-06 is a Monday: dow 0=Mon..6=Sun, engine-neutral integer math
    daily = daily.withColumn(
        "dow",
        F.pmod(F.datediff("day", F.lit("1992-01-06").cast("date")), F.lit(7)),
    )
    base = daily.groupBy("dow").agg(
        F.sum("cnt").alias("dow_total"), F.count(F.lit(1)).alias("dow_days")
    )
    j = daily.join(F.broadcast(base), "dow")
    return j.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dow",
        "cnt",
        F.round(
            (F.col("cnt") * F.col("dow_days")).cast("double")
            / F.col("dow_total").cast("double"),
            6,
        ).alias("ratio_to_dow_avg"),
        (
            F.col("cnt") * F.col("dow_days") * F.lit(100)
            > F.lit(105) * F.col("dow_total")
        ).alias("is_anomaly"),
    )


ORACLE_SEASONAL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1),
dw AS (
  SELECT day, cnt,
         ((date_diff('day', DATE '1992-01-06', day) % 7) + 7) % 7 AS dow
  FROM daily),
b AS (
  SELECT dow, SUM(cnt) AS dow_total, COUNT(*) AS dow_days
  FROM dw GROUP BY dow)
SELECT strftime(dw.day, '%Y-%m-%d') AS day,
       CAST(dw.dow AS INTEGER) AS dow,
       CAST(dw.cnt AS BIGINT) AS cnt,
       ROUND(CAST(dw.cnt * b.dow_days AS DOUBLE) / CAST(b.dow_total AS DOUBLE), 6)
         AS ratio_to_dow_avg,
       dw.cnt * b.dow_days * 100 > 105 * b.dow_total AS is_anomaly
FROM dw JOIN b USING (dow)
"""
register("seasonal_dow_anomaly", q_seasonal_dow_anomaly, ORACLE_SEASONAL)


def q_winsorized_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clamped, not trimmed) mean of extended price per
    return flag: exact-rank 5% bounds on the decimal column, clamped decimal
    sum, one final division (ops/stats.grouped_winsorized_mean)."""
    from aos_spark.ops.stats import grouped_winsorized_mean

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(14,2)").alias("price"),
    )
    return grouped_winsorized_mean(
        li,
        ["l_returnflag"],
        "price",
        tail_pct=5,
        # l_extendedprice spans ~[900, 105k] at any TPC-H SF (domain-
        # fixed): 64-unit buckets keep the rank histogram ~1.6k
        # rows/group; width only tunes bucket counts, never correctness
        bucket_width=64.0,
    )


ORACLE_WINSOR = """
WITH ranked AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(14,2)) AS price,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY CAST(l_extendedprice AS DECIMAL(14,2)),
                                     l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem),
rk AS (
  SELECT *,
         GREATEST(CAST(CEIL(n * 5 / 100) AS BIGINT), 1) AS lo_rk
  FROM ranked),
bounds AS (
  SELECT l_returnflag,
         MIN(CASE WHEN rn = lo_rk THEN price END) AS p_lo,
         MAX(CASE WHEN rn = n - lo_rk + 1 THEN price END) AS p_hi
  FROM rk WHERE rn = lo_rk OR rn = n - lo_rk + 1
  GROUP BY l_returnflag),
clamped AS (
  SELECT r.l_returnflag,
         CASE WHEN r.price < b.p_lo THEN b.p_lo
              WHEN r.price > b.p_hi THEN b.p_hi
              ELSE r.price END AS w
  FROM rk r JOIN bounds b USING (l_returnflag))
SELECT c.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(b.p_lo) AS DOUBLE) AS lo_bound,
       CAST(MIN(b.p_hi) AS DOUBLE) AS hi_bound,
       ROUND(CAST(SUM(c.w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS winsorized_mean
FROM clamped c JOIN bounds b USING (l_returnflag)
GROUP BY c.l_returnflag
"""
register("winsorized_mean_prices", q_winsorized_mean_prices, ORACLE_WINSOR)


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
    from aos_spark.llm.similarity import brute_force_topk, rrf_fuse
    from aos_spark.ops.topk import topk_per_group

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
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


def q_bm25_lite_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style lexical relevance for the fixed query {hash, join,
    table} with the tf-saturation term tf·(k1+1)/(tf+k1) and a RATIONAL
    idf (N−df+0.5)/(df+0.5) — BM25's odds ratio without the ln() wrapper,
    keeping the whole score inside the cross-libm determinism contract.
    The three per-term scores are added in one fixed literal order.

    Plan: one token explode with the term filter applied INSIDE the
    projection (only query terms survive to the shuffle), one doc-keyed
    conditional rollup, a 1-row df/N broadcast, TakeOrdered top-20."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("term")).filter(
        F.col("term").isin("hash", "join", "table")
    )
    tf = tok.groupBy("doc_id").agg(
        F.sum(F.when(F.col("term") == "hash", 1).otherwise(0)).alias("tf_hash"),
        F.sum(F.when(F.col("term") == "join", 1).otherwise(0)).alias("tf_join"),
        F.sum(F.when(F.col("term") == "table", 1).otherwise(0)).alias("tf_table"),
    )
    dfreq = tf.agg(
        F.sum((F.col("tf_hash") > 0).cast("long")).alias("df_hash"),
        F.sum((F.col("tf_join") > 0).cast("long")).alias("df_join"),
        F.sum((F.col("tf_table") > 0).cast("long")).alias("df_table"),
    )
    ntot = docs.agg(F.count(F.lit(1)).alias("n_total"))

    def idf(dfc):
        return ((F.col("n_total") - F.col(dfc)).cast("double") + F.lit(0.5)) / (
            F.col(dfc).cast("double") + F.lit(0.5)
        )

    def sat(tfc):
        return (F.col(tfc).cast("double") * F.lit(2.2)) / (
            F.col(tfc).cast("double") + F.lit(1.2)
        )

    scored = tf.crossJoin(F.broadcast(dfreq)).crossJoin(F.broadcast(ntot))
    score = (
        idf("df_hash") * sat("tf_hash")
        + idf("df_join") * sat("tf_join")
    ) + idf("df_table") * sat("tf_table")
    out = scored.select(
        "doc_id",
        "tf_hash",
        "tf_join",
        "tf_table",
        F.round(score, 6).alias("bm25_lite"),
    )
    return out.orderBy(F.col("bm25_lite").desc(), F.col("doc_id")).limit(20)


ORACLE_BM25 = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS term
  FROM documents),
tf AS (
  SELECT doc_id,
         SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS tf_hash,
         SUM(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS tf_join,
         SUM(CASE WHEN term = 'table' THEN 1 ELSE 0 END) AS tf_table
  FROM tok WHERE term IN ('hash', 'join', 'table')
  GROUP BY doc_id),
dfreq AS (
  SELECT SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
         SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
         SUM(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS df_table
  FROM tf),
ntot AS (SELECT COUNT(*) AS n_total FROM documents),
scored AS (
  SELECT t.doc_id,
         CAST(t.tf_hash AS BIGINT) AS tf_hash,
         CAST(t.tf_join AS BIGINT) AS tf_join,
         CAST(t.tf_table AS BIGINT) AS tf_table,
         ((((CAST(n.n_total - d.df_hash AS DOUBLE) + 0.5) / (CAST(d.df_hash AS DOUBLE) + 0.5))
            * ((CAST(t.tf_hash AS DOUBLE) * 2.2) / (CAST(t.tf_hash AS DOUBLE) + 1.2))
           + ((CAST(n.n_total - d.df_join AS DOUBLE) + 0.5) / (CAST(d.df_join AS DOUBLE) + 0.5))
             * ((CAST(t.tf_join AS DOUBLE) * 2.2) / (CAST(t.tf_join AS DOUBLE) + 1.2)))
          + ((CAST(n.n_total - d.df_table AS DOUBLE) + 0.5) / (CAST(d.df_table AS DOUBLE) + 0.5))
            * ((CAST(t.tf_table AS DOUBLE) * 2.2) / (CAST(t.tf_table AS DOUBLE) + 1.2))) AS score
  FROM tf t CROSS JOIN dfreq d CROSS JOIN ntot n)
SELECT doc_id, tf_hash, tf_join, tf_table,
       ROUND(score, 6) AS bm25_lite
FROM scored
ORDER BY bm25_lite DESC, doc_id
LIMIT 20
"""
register("bm25_lite_scores", q_bm25_lite_scores, ORACLE_BM25)


def q_feature_hash_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer: every token maps to one of 256 feature
    buckets via the md5 bucket hash (llm/sampling.hash_bucket — the
    engine-portable hash used by every sampling op); per-doc sparse
    vectors serialize as 'bucket:count' strings ordered by bucket, so
    the output is flat VARCHAR (the array-output rule). Two doc-keyed
    map-combined rollups, no vocabulary state anywhere — the property
    that makes feature hashing the scale path when a vocab won't fit."""
    from aos_spark.llm.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("term"))
    bucketed = tok.withColumn("bucket", hash_bucket("term", 256, "fh")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return bucketed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_features"),
        F.sum("cnt").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "cnt"))),
                lambda x: F.concat_ws(":", x["bucket"], x["cnt"]),
            ),
            ",",
        ).alias("fvec"),
    )


ORACLE_FEATURE_HASH = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS term
  FROM documents),
bucketed AS (
  SELECT doc_id,
         CAST('0x' || substring(md5('fh' || term), 1, 8) AS BIGINT) % 256 AS bucket,
         COUNT(*) AS cnt
  FROM tok WHERE term <> ''
  GROUP BY 1, 2)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(cnt AS VARCHAR), ','
                  ORDER BY bucket) AS fvec
FROM bucketed
GROUP BY doc_id
"""
register("feature_hash_vectorizer", q_feature_hash_vectorizer, ORACLE_FEATURE_HASH)


def q_welch_ttest_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t statistic comparing order totals between
    '1-URGENT' and '5-LOW' priorities — the A/B-test primitive, from the
    SAME exact-decimal-moment discipline as stats_correlation: sums are
    exact decimals, every derived quantity is a fixed IEEE sequence the
    oracle mirrors literally. One conditional-aggregate pass, 1 row out."""
    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    m = o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).agg(
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", price)
        ).cast("double").alias("s1"),
        F.sum(
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                (price * price).cast("decimal(38,4)"),
            )
        ).cast("double").alias("ss1"),
        F.sum(F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("o_orderpriority") == "5-LOW", price))
        .cast("double")
        .alias("s2"),
        F.sum(
            F.when(
                F.col("o_orderpriority") == "5-LOW",
                (price * price).cast("decimal(38,4)"),
            )
        ).cast("double").alias("ss2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    m1 = F.col("s1") / n1d
    m2 = F.col("s2") / n2d
    v1 = (F.col("ss1") - F.col("s1") * F.col("s1") / n1d) / (n1d - F.lit(1.0))
    v2 = (F.col("ss2") - F.col("s2") * F.col("s2") / n2d) / (n2d - F.lit(1.0))
    se2 = v1 / n1d + v2 / n2d
    t = (m1 - m2) / F.sqrt(se2)
    dfw = (se2 * se2) / (
        (v1 / n1d) * (v1 / n1d) / (n1d - F.lit(1.0))
        + (v2 / n2d) * (v2 / n2d) / (n2d - F.lit(1.0))
    )
    return m.select(
        "n1",
        "n2",
        scaled_round(m1, 4).alias("mean_urgent"),
        scaled_round(m2, 4).alias("mean_low"),
        scaled_round(m1 - m2, 4).alias("mean_diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(dfw, 2).alias("welch_df"),
    )


ORACLE_WELCH = """
WITH m AS (
  SELECT
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s1,
    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS DOUBLE) AS ss1,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                  THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS s2,
    CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS DOUBLE) AS ss2
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
SELECT n1, n2,
       ROUND((s1 / CAST(n1 AS DOUBLE)) * 10000.0, 0) / 10000.0 AS mean_urgent,
       ROUND((s2 / CAST(n2 AS DOUBLE)) * 10000.0, 0) / 10000.0 AS mean_low,
       ROUND((s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE)) * 10000.0, 0) / 10000.0 AS mean_diff,
       ROUND((s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE))
             / SQRT(((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
                    + ((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)),
             6) AS t_stat,
       ROUND(
         (((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
          + ((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
         * (((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
            + ((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
         / ((((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE))
            * (((ss1 - s1 * s1 / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE))
            / (CAST(n1 AS DOUBLE) - 1.0)
            + (((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
              * (((ss2 - s2 * s2 / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
              / (CAST(n2 AS DOUBLE) - 1.0)),
         2) AS welch_df
FROM m
"""
register("welch_ttest_priorities", q_welch_ttest_priorities, ORACLE_WELCH)


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level audio plumbing through the driver gate: each doc_id
    synthesizes a closed-form RIFF/WAVE PCM16 payload (pandas UDF), the
    bytes go through the actual chunk-walking WAV parser inside an
    Arrow-batched mapInPandas kernel, and every output feature is an
    order-independent INTEGER aggregate of the recovered samples
    (llm/multimodal.audio_int_features) — so the oracle can recompute the
    whole encode→decode→feature chain from the closed form, exactly.
    Unlike multimodal_image_features' declared-fake kernel, nothing here
    is faked: a corrupted RIFF header would flip every feature."""
    import pandas as pd  # noqa: F401

    from aos_spark.llm.multimodal import audio_int_features, synth_wav_pcm16
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def wav_bytes(mid):
        return mid.map(lambda m: synth_wav_pcm16(int(m)))

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("audio").alias("kind"),
        wav_bytes(F.col("doc_id")).alias("payload"),
    )
    return audio_int_features(media)


ORACLE_AUDIO = """
WITH s AS (
  SELECT doc_id, 100 + doc_id % 50 AS n FROM documents),
samp AS (
  SELECT s.doc_id, s.n, t.i,
         ((s.doc_id * 31 + t.i * 7919) % 65536) - 32768 AS v,
         ((s.doc_id * 31 + (t.i + 1) * 7919) % 65536) - 32768 AS v_next
  FROM s, LATERAL (SELECT unnest(range(s.n)) AS i) t)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(MIN(n) AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(SUM(CASE WHEN ABS(v) >= 32766 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       CAST(SUM(CASE WHEN i < n - 1 AND v * v_next < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS zero_crossings
FROM samp GROUP BY doc_id
"""
register("multimodal_audio_features", q_multimodal_audio_features, ORACLE_AUDIO)


def q_cusum_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact CUSUM change-point detection over daily order volume:
    cum_k = Σ_{i≤k}(x_i·n_days − N) (BIGINT — the deviation-from-mean
    running sum scaled by n_days so no float ever accumulates), change
    point = the earliest day where |cum| peaks. The cumulative windows run
    over the DAILY frame (|days| rows, bounded dim — TPC-H spans ~2.4k
    days at any SF), after a single corpus rollup."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    tot = daily.agg(
        F.sum("x").alias("n_orders"), F.count(F.lit(1)).alias("n_days")
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "cusum",
            F.sum(F.col("x") * F.col("n_days") - F.col("n_orders")).over(w_cum),
        )
    )
    w_top = Window.orderBy(F.abs(F.col("cusum")).desc(), F.col("day"))
    return (
        cum.withColumn("__rk", F.row_number().over(w_top))
        .filter(F.col("__rk") == 1)
        .select(
            "n_days",
            "n_orders",
            F.date_format("day", "yyyy-MM-dd").alias("cp_date"),
            F.col("cusum").alias("peak_cusum_scaled"),
            F.round(
                F.col("cusum").cast("double") / F.col("n_days").cast("double"), 4
            ).alias("peak_deviation_orders"),
        )
    )


ORACLE_CUSUM = """
WITH daily AS (
  SELECT o_orderdate AS day, COUNT(*) AS x FROM orders GROUP BY 1),
tot AS (SELECT SUM(x) AS n_orders, COUNT(*) AS n_days FROM daily),
cum AS (
  SELECT day, n_days, n_orders,
         SUM(x * n_days - n_orders)
           OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM daily CROSS JOIN tot),
top AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(cusum) DESC, day) AS rk FROM cum)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(n_orders AS BIGINT) AS n_orders,
       strftime(day, '%Y-%m-%d') AS cp_date,
       CAST(cusum AS BIGINT) AS peak_cusum_scaled,
       ROUND(CAST(cusum AS DOUBLE) / CAST(n_days AS DOUBLE), 4) AS peak_deviation_orders
FROM top WHERE rk = 1
"""
register("cusum_change_point", q_cusum_change_point, ORACLE_CUSUM)


def q_vocab_jaccard_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-overlap matrix between corpus sources: exact Jaccard of
    each source pair's distinct-token sets. The pair join is TERM-keyed
    (fan-out per term ≤ |sources|², never corpus-sized); per-source vocab
    sizes broadcast onto the |sources|²-row pair frame; Jaccard is one
    division of exact BIGINTs."""
    d = _t(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens()).alias("term"))
        .distinct()
        .persist()
    )
    vocab = st.groupBy("source").agg(F.count(F.lit(1)).alias("vocab_n"))
    a = st.select(F.col("source").alias("source_a"), "term")
    b = st.select(F.col("source").alias("source_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter_n"))
    )
    va = vocab.select(F.col("source").alias("source_a"), F.col("vocab_n").alias("va"))
    vb = vocab.select(F.col("source").alias("source_b"), F.col("vocab_n").alias("vb"))
    out = inter.join(F.broadcast(va), "source_a").join(F.broadcast(vb), "source_b")
    return out.select(
        "source_a",
        "source_b",
        "inter_n",
        (F.col("va") + F.col("vb") - F.col("inter_n")).alias("union_n"),
        F.round(
            F.col("inter_n").cast("double")
            / (F.col("va") + F.col("vb") - F.col("inter_n")).cast("double"),
            6,
        ).alias("jaccard"),
    )


ORACLE_VOCAB_JACCARD = """
WITH st AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS term
  FROM documents),
vocab AS (SELECT source, COUNT(*) AS vocab_n FROM st GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS inter_n
  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2)
SELECT i.source_a, i.source_b,
       CAST(i.inter_n AS BIGINT) AS inter_n,
       CAST(va.vocab_n + vb.vocab_n - i.inter_n AS BIGINT) AS union_n,
       ROUND(CAST(i.inter_n AS DOUBLE)
             / CAST(va.vocab_n + vb.vocab_n - i.inter_n AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN vocab va ON i.source_a = va.source
JOIN vocab vb ON i.source_b = vb.source
"""
register("vocab_jaccard_matrix", q_vocab_jaccard_matrix, ORACLE_VOCAB_JACCARD)


def q_priority_mix_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square standardized residuals for the order-priority mix across
    years — the independence test's per-cell evidence, WITHOUT the
    cross-cell float sum (whose addition order no engine guarantees):
    each cell's expected count and residual is its own fixed IEEE
    sequence over exact integer marginals. Corpus → ≤|years|·|priorities|
    cells → two marginal rollups broadcast back."""
    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.year("o_orderdate").cast("int").alias("year"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    year_tot = cells.groupBy("year").agg(F.sum("obs").alias("year_n"))
    prio_tot = cells.groupBy("priority").agg(F.sum("obs").alias("prio_n"))
    n_tot = cells.agg(F.sum("obs").alias("n_total"))
    j = (
        cells.join(F.broadcast(year_tot), "year")
        .join(F.broadcast(prio_tot), "priority")
        .crossJoin(F.broadcast(n_tot))
    )
    exp = (
        F.col("year_n").cast("decimal(18,0)") * F.col("prio_n").cast("decimal(18,0)")
    ).cast("double") / F.col("n_total").cast("double")
    resid = (F.col("obs").cast("double") - exp) / F.sqrt(exp)
    return j.select(
        "year",
        "priority",
        "obs",
        F.round(exp, 4).alias("expected"),
        F.round(resid, 6).alias("std_residual"),
        F.round(resid * resid, 6).alias("chi2_cell"),
    )


ORACLE_CHI2 = """
WITH cells AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
         o_orderpriority AS priority, COUNT(*) AS obs
  FROM orders GROUP BY 1, 2),
yt AS (SELECT year, SUM(obs) AS year_n FROM cells GROUP BY year),
pt AS (SELECT priority, SUM(obs) AS prio_n FROM cells GROUP BY priority),
nt AS (SELECT SUM(obs) AS n_total FROM cells)
SELECT c.year, c.priority, CAST(c.obs AS BIGINT) AS obs,
       ROUND(CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
             / CAST(nt.n_total AS DOUBLE), 4) AS expected,
       ROUND((CAST(c.obs AS DOUBLE)
              - CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                / CAST(nt.n_total AS DOUBLE))
             / SQRT(CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                    / CAST(nt.n_total AS DOUBLE)), 6) AS std_residual,
       ROUND(((CAST(c.obs AS DOUBLE)
               - CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                 / CAST(nt.n_total AS DOUBLE))
              / SQRT(CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                     / CAST(nt.n_total AS DOUBLE)))
             * ((CAST(c.obs AS DOUBLE)
                 - CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                   / CAST(nt.n_total AS DOUBLE))
                / SQRT(CAST(CAST(yt.year_n AS DECIMAL(18,0)) * CAST(pt.prio_n AS DECIMAL(18,0)) AS DOUBLE)
                       / CAST(nt.n_total AS DOUBLE))), 6) AS chi2_cell
FROM cells c
JOIN yt USING (year)
JOIN pt USING (priority)
CROSS JOIN nt
"""
register("priority_mix_residuals", q_priority_mix_residuals, ORACLE_CHI2)


def q_multimodal_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video plumbing through the driver gate — the audio query's
    sibling and the close of the last declared-stub in the multimodal
    tier: each doc_id synthesizes a closed-form RIFF/AVI payload with
    uncompressed 24-bit DIB frames (pandas UDF), the bytes go through the
    actual LIST-tree AVI parser and bottom-up BGR raster decode inside an
    Arrow-batched mapInPandas kernel (llm/multimodal.video_int_features),
    and every feature is an order-independent integer aggregate the
    oracle recomputes from the closed form. A corrupted LIST tree, frame
    stride, or channel order flips the result."""
    from aos_spark.llm.multimodal import synth_avi_dib, video_int_features
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def avi_bytes(mid):
        return mid.map(lambda m: synth_avi_dib(int(m)))

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        avi_bytes(F.col("doc_id")).alias("payload"),
    )
    return video_int_features(media)


ORACLE_VIDEO = """
WITH s AS (SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
px AS (
  SELECT s.doc_id, s.nf,
         (s.doc_id * 7 + f.f * 131 + y.y * 17 + x.x * 29 + c.c * 53) % 256 AS v
  FROM s,
       LATERAL (SELECT unnest(range(s.nf)) AS f) f,
       LATERAL (SELECT unnest(range(2)) AS y) y,
       LATERAL (SELECT unnest(range(4)) AS x) x,
       LATERAL (SELECT unnest(range(3)) AS c) c)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(MIN(nf) AS BIGINT) AS n_frames,
       CAST(4 AS BIGINT) AS width,
       CAST(2 AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS sum_rgb,
       CAST(MAX(v) AS BIGINT) AS max_pixel,
       CAST(MIN(v) AS BIGINT) AS min_pixel
FROM px GROUP BY doc_id
"""
register("multimodal_video_features", q_multimodal_video_features, ORACLE_VIDEO)


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation per nation: recency/frequency/monetary
    quintiles (NTILE over nation-partitioned windows — the Pareto
    precedent: windows run over the customer AGGREGATE, dim-sized, never
    raw orders), segments rolled up to ≤125 cells per nation with exact
    decimal revenue totals. NTILE's equal-division-remainder-first
    semantics match across engines given the total tiebreak order."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
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


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor Jaccard link prediction on the embedding near-dup
    graph (ops/graph.common_neighbor_scores) — the triangle-count
    machinery pointed at NON-edges: which unlinked vector pairs share the
    most neighborhood. Same degree-bounded wedge envelope."""
    from aos_spark.llm import dedup as D
    from aos_spark.ops.graph import common_neighbor_scores

    e = _t(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dups(e, threshold=0.2, n_planes=4)
    return common_neighbor_scores(pairs, topk=50)


def _link_prediction_oracle() -> str:
    return f"""
WITH raw AS (SELECT id_a, id_b FROM ({_embedding_neardup_oracle()})),
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


def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram (second-moment) matrix over the first 8 embedding dimensions —
    the whitening/PCA-prep input — with every accumulated quantity in
    BIGINT micro-units (⌊v_i·v_j·10¹²⌋ per vector, then exact integer
    sums): the label_centroid discipline, so the matrix is bit-identical
    under any partitioning. Fan-out: posexplode to 8 dims → vec-keyed
    self-join (≤64 pairs per vector), one (i,j)-keyed rollup onto a
    36-row output."""
    e = _t(spark, sf_dir, "embeddings")
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


