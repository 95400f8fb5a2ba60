"""Market-basket association mining — pair support / confidence / lift.

The reference pipeline has no basket mining; this is the LLM/warehouse
tier's co-occurrence family (the order-basket sibling of
llm-side term_cooccurrence_lift) expressed in the shape that survives
100 TB: the ONLY corpus-sized stages are (a) the distinct
(basket, item) projection and (b) the basket-keyed pair self-join whose
fan-out is bounded per basket by |items-in-basket|² — never corpus².
Item and pair vocabularies are bounded (|items| ≤ a few thousand for
brand/category granularity), so every frame after the pair count is
dim-sized and broadcastable.

Determinism contract (repo-wide): all counts BIGINT; support,
confidence and lift are each ONE IEEE division (or one division of
integer products), bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aos_spark.ops.exact_round import round_ratio6


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support_pct: int = 5,
) -> DataFrame:
    """Pairwise association rules over baskets: for every ordered item
    pair (antecedent → consequent) whose unordered pair appears in at
    least ``min_support_pct`` percent of baskets, emit

      pair_n       — baskets containing both (BIGINT)
      support      — pair_n / N
      confidence   — pair_n / n_antecedent
      lift         — (pair_n · N) / (n_antecedent · n_consequent)

    Plan shape (r15, guide §2.3/§2.4 — the llm/dedup._grouped_pair_counts
    precedent): ONE basket-keyed collect_set aggregation builds each
    basket's sorted distinct-item array (the map-side partial collect_set
    collapses duplicate lines early, so this replaces the historical
    distinct + basket-keyed SORT-MERGE SELF-JOIN — two corpus passes,
    two sorts — with a single exchange); pair candidates are the LOCAL
    i<j combination expansion of each array (bounded by the item
    vocabulary per basket), map-combine-aggregated to pair counts. Item
    frequencies explode off the same persisted sets frame, and the 1-row
    basket total is its row count. Item/pair frames are vocabulary-sized
    and broadcast onto the pair frame. The support threshold is applied
    as an INTEGER cross-multiply (pair_n·100 ≥ pct·N) so the cut is
    SF-invariant and float-free.

    100 TB: per-basket fan-out ≤ items-per-basket², shuffles keyed by
    basket/(pair) — both bounded-cardinality; nothing quadratic in the
    corpus. Skewed mega-baskets are the one hazard (now a per-basket
    array buffer rather than join fan-out) — cap upstream with a
    per-basket distinct-item limit if the item granularity is unbounded.
    """
    sets = (
        df.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .groupBy("basket")
        .agg(F.array_sort(F.collect_set("item")).alias("items"))
        .persist()
    )
    n_baskets = sets.agg(F.count(F.lit(1)).alias("n_baskets"))
    item_n = (
        sets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("item_n"))
    )

    items = F.col("items")
    # sorted distinct array → each unordered pair exactly once with
    # item_a < item_b, identical to the self-join + filter's pair multiset
    pair_arr = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = (
        # explode_OUTER + null filter (the _grouped_pair_counts lesson):
        # plain explode triggers InferFiltersFromGenerate, which inlines a
        # copy of the whole pair-expansion tree into a size(...)>0 filter
        # below the generate — every basket would pay the expansion twice
        sets.select(F.explode_outer(pair_arr).alias("p"))
        .filter(F.col("p").isNotNull())
        .groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )

    # Both rule directions from the one undirected pair count.
    directed = pairs.select(
        F.col("item_a").alias("antecedent"),
        F.col("item_b").alias("consequent"),
        "pair_n",
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("antecedent"),
            F.col("item_a").alias("consequent"),
            "pair_n",
        )
    )
    ant_n = item_n.select(
        F.col("item").alias("antecedent"), F.col("item_n").alias("ant_n")
    )
    con_n = item_n.select(
        F.col("item").alias("consequent"), F.col("item_n").alias("con_n")
    )
    out = (
        directed.join(F.broadcast(ant_n), "antecedent")
        .join(F.broadcast(con_n), "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .filter(
            F.col("pair_n") * F.lit(100)
            >= F.lit(int(min_support_pct)) * F.col("n_baskets")
        )
    )
    return out.select(
        "antecedent",
        "consequent",
        "pair_n",
        "ant_n",
        "con_n",
        "n_baskets",
        round_ratio6(F.col("pair_n"), F.col("n_baskets")).alias("support"),
        round_ratio6(F.col("pair_n"), F.col("ant_n")).alias("confidence"),
        round_ratio6(
            F.col("pair_n").cast("decimal(38,0)") * F.col("n_baskets"),
            F.col("ant_n").cast("decimal(38,0)") * F.col("con_n"),
        ).alias("lift"),
    )
