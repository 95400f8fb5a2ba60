"""Round-5 fifth wave gate queries.

Corpus-redundancy / sequence / corpus-similarity / distribution analytics:

- **ngram_novelty_rate** — per-source fraction of word bigrams first seen
  in that document (corpus redundancy growth, the metric a curation run
  watches to decide when a source is mined out). ONE gram-keyed shuffle:
  first-appearance is a window ``min(doc_id)`` riding the same partition
  as the novelty flag — no second join back.
- **markov_two_step** — two-step event-type transition probabilities
  (lead-2 over user timelines). The T² view of the transition matrix
  computed directly from paths, not by squaring the matrix.
- **source_minhash_similarity** — corpus-level MinHash signatures per
  source (min over ALL the source's shingle hashes, reusing the affine
  permutations of llm/dedup) and pairwise estimated Jaccard. Map-side
  partial mins collapse the shuffle to one row per (partition, source).
- **benford_first_digit** — first-significant-digit distribution of order
  totals (the classic fraud/quality screen). FLOOR before the BIGINT cast
  on both engines (DuckDB CAST rounds, Spark truncates).
- **ewma_monthly_revenue** — per-nation EWMA over the last five observed
  months with binary weights 16/8/4/2/1 (alpha=1/2 truncated): every
  multiply stays in exact DECIMAL, ONE cast-to-double + division by 31.
- **type_token_ratio** — lexical diversity per source: Σ distinct-tokens /
  Σ tokens, exact BIGINT sums, one division.
- **above_nation_avg_customers** — customers whose order count exceeds
  2× their nation's average, decorrelated into nation-partitioned window
  totals with an all-integer cross-multiplied comparison (no float avg).

Determinism follows the repo contract: BIGINT counts, exact decimal
moments, single-division floats whose operand order the oracle mirrors
literally, no libm transcendentals in output columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aos_spark.io.readers import read_sf_table
from aos_spark.ops.exact_round import round_ratio6
from aos_spark.llm.dedup import (
    MINHASH_PRIME,
    ensure_min_partitions,
    minhash_params,
    shingle_hash,
    shingles_from_tokens,
    tokens,
)
from aos_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_sf_table(spark, sf_dir, name)


# DuckDB spelling of the same token list, exact for empty/edge tokens
# (list_filter drops the '' artifacts string_split_regex emits where
# Spark's array_remove drops them).
_TOKENS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)


# ------------------------------------------------------- ngram_novelty_rate
def q_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram novelty: of each document's distinct word bigrams,
    the fraction whose first corpus appearance (min doc_id over the whole
    corpus) is this document. Low novelty = the source is re-treading
    already-seen text — the signal a data-curation pass uses to down-weight
    a crawl slice. Plan (r6, replacing a gram-partitioned window): each
    gram's first appearance is min(struct(doc_id, source)) — an ordinary
    MAP-SIDE-COMBINED aggregation, so the gram-keyed exchange carries one
    partial state per (partition, gram) instead of every exploded row into
    a sort+window (8.7 s -> the aggregate shape at sf0.1). Since exactly
    one (gram, doc) row attains the min, n_novel per source is a count
    over the per-gram winners; n_grams per source needs no exploded rows
    at all — it is sum(size(grams)) over the PRE-explosion array frame
    (one row per doc), which is what gets persisted (array rows, ~20x
    fewer than exploded rows — persisting the exploded frame instead
    measured SLOWER than the window it replaced). Linear in total grams;
    the gram key is high-cardinality so the shuffle spreads evenly at
    any scale."""
    from aos_spark.cache import persist_tracked

    d = _t(spark, sf_dir, "documents")
    toks = ensure_min_partitions(d).select(
        "doc_id", "source", tokens().alias("__tokens")
    )
    grams = persist_tracked(
        toks.select(
            "doc_id",
            "source",
            shingles_from_tokens(F.col("__tokens"), 2).alias("grams"),
        )
    )
    ex = grams.select("doc_id", "source", F.explode_outer("grams").alias("gram"))
    # min(struct) = lexicographic (doc_id, source) min; doc_id is unique
    # per doc, so the winner — the gram's first corpus appearance — is
    # deterministic and its source rides along for free
    winners = ex.filter(F.col("gram").isNotNull()).groupBy("gram").agg(
        F.min(F.struct("doc_id", "source")).alias("m")
    )
    novel = winners.groupBy(F.col("m.source").alias("source")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    totals = grams.groupBy("source").agg(
        F.sum(F.size("grams")).alias("n_grams")
    )
    per_src = totals.join(novel, "source", "left").select(
        "source", "n_grams", F.coalesce("n_novel", F.lit(0)).alias("n_novel")
    )
    return per_src.select(
        "source",
        "n_grams",
        "n_novel",
        round_ratio6(F.col("n_novel"), F.col("n_grams")).alias(
            "novelty_rate"
        ),
    )


ORACLE_NGRAM_NOVELTY = r"""
WITH sh AS (
  SELECT doc_id, source,
         list_distinct(CASE WHEN len(t) >= 2
           THEN list_transform(range(len(t) - 1),
                               i -> array_to_string(t[i+1:i+2], ' '))
           ELSE [array_to_string(t, ' ')] END) AS grams
  FROM (SELECT doc_id, source,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
        FROM documents)),
ex AS (SELECT doc_id, source, unnest(grams) AS gram FROM sh),
f AS (SELECT doc_id, source,
             MIN(doc_id) OVER (PARTITION BY gram) AS first_doc
      FROM ex)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST((CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS HUGEINT) * 1000000 * 2 + CAST(COUNT(*) AS HUGEINT)) // (CAST(COUNT(*) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS novelty_rate
FROM f GROUP BY source
"""
register("ngram_novelty_rate", q_ngram_novelty_rate, ORACLE_NGRAM_NOVELTY)


# ----------------------------------------------------------- markov_two_step
def q_markov_two_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step transition probabilities between event types: for each
    event, the type two steps later on the same user's timeline (lead-2
    over a user-partitioned window, ts then event_id tiebreak — the repo's
    deterministic ordering contract). P(c | a, ·) = paths(a→·→c) /
    paths-from-a, one division. Same single user-keyed shuffle as
    sessionize; the tiny (type,type) matrix aggregates map-side."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.withColumn("to_type", F.lead("event_type", 2).over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "to_type")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    wt = Window.partitionBy("from_type")
    return paths.withColumn("n_from", F.sum("n_paths").over(wt)).select(
        "from_type",
        "to_type",
        "n_paths",
        round_ratio6(F.col("n_paths"), F.col("n_from")).alias("prob"),
    )


ORACLE_MARKOV_TWO_STEP = """
WITH p AS (
  SELECT event_type AS from_type,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS to_type
  FROM events),
c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_paths
  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
t AS (
  SELECT from_type, to_type, n_paths,
         CAST(SUM(n_paths) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
  FROM c)
SELECT from_type, to_type, n_paths,
       CAST((CAST(n_paths AS HUGEINT) * 1000000 * 2 + CAST(n_from AS HUGEINT)) // (CAST(n_from AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS prob
FROM t
"""
register("markov_two_step", q_markov_two_step, ORACLE_MARKOV_TWO_STEP)


# -------------------------------------------------- source_minhash_similarity
def q_source_minhash_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level similarity between sources: one 16-slot MinHash
    signature PER SOURCE (min over every shingle hash the source emits,
    reusing llm/dedup's md5-base + affine permutations), then pairwise
    matched-slot counts as the Jaccard estimate. The min() aggregates
    combine map-side, so the shuffle carries one row per (partition,
    source) no matter the corpus size; the pairwise stage joins a
    #sources-row frame — broadcast by construction."""
    d = _t(spark, sf_dir, "documents")
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


# ---------------------------------------------------------- benford_first_digit
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals (Benford
    screen). The digit is extracted from the integer part as a string —
    FLOOR before the BIGINT cast because DuckDB's double→int cast rounds
    while Spark's truncates; FLOOR makes both exact. Pure map-side digit
    extraction, one 9-key rollup; the grand total re-aggregates the 9-row
    digit frame and broadcasts back (the repo's no-global-window rule —
    even a 9-row single-partition WindowExec is a shape that must not leak
    into templates people copy at fact-table scale)."""
    o = _t(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        ).alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    total = counts.agg(F.sum("n_orders").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n_orders",
        round_ratio6(F.col("n_orders"), F.col("total")).alias("share"),
    )


ORACLE_BENFORD = """
WITH d AS (
  SELECT substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS digit
  FROM orders),
c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM d GROUP BY 1),
t AS (SELECT digit, n_orders,
             CAST(SUM(n_orders) OVER () AS BIGINT) AS total FROM c)
SELECT digit, n_orders,
       CAST((CAST(n_orders AS HUGEINT) * 1000000 * 2 + CAST(total AS HUGEINT)) // (CAST(total AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS share
FROM t
"""
register("benford_first_digit", q_benford_first_digit, ORACLE_BENFORD)


# ------------------------------------------------------- ewma_monthly_revenue
def q_ewma_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation EWMA of monthly revenue over the last five OBSERVED
    months, binary weights 16/8/4/2/1 (alpha=1/2, truncated): the weighted
    sum stays in exact DECIMAL (integer multipliers), with ONE
    cast-to-double and ONE division by 31 at the end — no float
    accumulation order to diverge. Broadcast dims onto orders, one
    (nation, month) rollup, lag-window on the rollup partitioning."""
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
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    w = Window.partitionBy("nation").orderBy("month")
    lagged = monthly.select(
        "nation",
        "month",
        "rev",
        *[F.lag("rev", k).over(w).alias(f"r{k}") for k in range(1, 5)],
    ).filter(F.col("r4").isNotNull())
    latest = lagged.withColumn(
        "mx", F.max("month").over(Window.partitionBy("nation"))
    ).filter(F.col("month") == F.col("mx"))
    wsum = (
        F.col("rev") * F.lit(16)
        + F.col("r1") * F.lit(8)
        + F.col("r2") * F.lit(4)
        + F.col("r3") * F.lit(2)
        + F.col("r4")
    )
    return latest.select(
        "nation",
        F.col("month").alias("latest_month"),
        F.col("rev").cast("double").alias("latest_revenue"),
        F.round(wsum.cast("double") / F.lit(31), 6).alias("ewma_revenue"),
    )


ORACLE_EWMA_MONTHLY = """
WITH monthly AS (
  SELECT n_name AS nation,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
lagged AS (
  SELECT nation, month, rev,
         LAG(rev, 1) OVER w AS r1, LAG(rev, 2) OVER w AS r2,
         LAG(rev, 3) OVER w AS r3, LAG(rev, 4) OVER w AS r4
  FROM monthly
  WINDOW w AS (PARTITION BY nation ORDER BY month)),
f AS (
  SELECT nation, month, rev, r1, r2, r3, r4,
         MAX(month) OVER (PARTITION BY nation) AS mx
  FROM lagged WHERE r4 IS NOT NULL)
SELECT nation, month AS latest_month,
       CAST(rev AS DOUBLE) AS latest_revenue,
       ROUND(CAST(rev * 16 + r1 * 8 + r2 * 4 + r3 * 2 + r4 AS DOUBLE) / 31, 6)
         AS ewma_revenue
FROM f WHERE month = mx
"""
register("ewma_monthly_revenue", q_ewma_monthly_revenue, ORACLE_EWMA_MONTHLY)


# ----------------------------------------------------------- type_token_ratio
def q_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: Σ per-doc distinct tokens over Σ
    tokens (a corpus-curation quality signal — low TTR flags templated or
    repetitive sources). Token and distinct counts are per-row map-side
    expressions; one small source rollup; one division."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("source", tokens().alias("t"))
    per_doc = toks.select(
        "source",
        F.size("t").alias("n_tok"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
    )
    agg = per_doc.groupBy("source").agg(
        F.sum("n_tok").alias("n_tokens"),
        F.sum("n_distinct").alias("n_distinct_tokens"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_distinct_tokens",
        F.round(
            F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("type_token_ratio"),
    )


ORACLE_TTR = f"""
WITH per_doc AS (
  SELECT source,
         len({_TOKENS_SQL}) AS n_tok,
         len(list_distinct({_TOKENS_SQL})) AS n_distinct
  FROM documents)
SELECT source,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(n_distinct) AS BIGINT) AS n_distinct_tokens,
       ROUND(CAST(SUM(n_distinct) AS DOUBLE) / SUM(n_tok), 6)
         AS type_token_ratio
FROM per_doc GROUP BY source
"""
register("type_token_ratio", q_type_token_ratio, ORACLE_TTR)


# --------------------------------------------------- above_nation_avg_customers
def q_above_nation_avg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: how many customers place more than 2× the nation's
    average order count. The correlated-subquery classic, decorrelated
    into nation-partitioned window totals; the comparison cross-multiplies
    (cnt * n_customers > 2 * total_orders) so it stays in exact integers —
    no float average to tie-break. Customers with zero orders count in the
    denominator (left join + coalesce)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    cust = (
        c.join(per_cust, c["c_custkey"] == per_cust["o_custkey"], "left")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    w = Window.partitionBy("nation")
    flagged = cust.select(
        "nation",
        "cnt",
        F.count(F.lit(1)).over(w).alias("n_customers"),
        F.sum("cnt").over(w).alias("total_orders"),
    )
    return (
        flagged.groupBy("nation")
        .agg(
            F.max("n_customers").alias("n_customers"),
            F.max("total_orders").alias("total_orders"),
            F.sum(
                F.when(
                    F.col("cnt") * F.col("n_customers")
                    > F.lit(2) * F.col("total_orders"),
                    1,
                ).otherwise(0)
            ).alias("n_above"),
        )
        .select("nation", "n_customers", "total_orders", "n_above")
    )


ORACLE_ABOVE_NATION_AVG = """
WITH per_cust AS (
  SELECT c_custkey, c_nationkey,
         (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS cnt
  FROM customer),
named AS (
  SELECT n_name AS nation, CAST(cnt AS BIGINT) AS cnt
  FROM per_cust JOIN nation ON c_nationkey = n_nationkey),
flagged AS (
  SELECT nation, cnt,
         CAST(COUNT(*) OVER (PARTITION BY nation) AS BIGINT) AS n_customers,
         CAST(SUM(cnt) OVER (PARTITION BY nation) AS BIGINT) AS total_orders
  FROM named)
SELECT nation,
       MAX(n_customers) AS n_customers,
       MAX(total_orders) AS total_orders,
       CAST(SUM(CASE WHEN cnt * n_customers > 2 * total_orders
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM flagged GROUP BY nation
"""
register(
    "above_nation_avg_customers", q_above_nation_avg_customers, ORACLE_ABOVE_NATION_AVG
)


