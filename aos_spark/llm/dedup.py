"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB: never do all-pairs work. Every near-dup variant is
candidate-generation (bucket by a locality-sensitive key — a bounded-
cardinality shuffle) followed by within-bucket verification. Hashes are
md5-based Catalyst expressions where an external oracle must reproduce
them; SimHash uses a vectorized Arrow pandas UDF (bit-level ops).
"""

from __future__ import annotations

import hashlib
import math
import random
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import LongType

from aos_spark.cache import persist_tracked
from aos_spark.llm.similarity import (
    cosine_from_norms,
    deterministic_centroids,
    hyperplane_bucket,
    ivf_assign,
    norm_expr,
)
from aos_spark.ops.exact_round import round_ratio6
from aos_spark.ops.fixpoint import NotConverged, iterate, observed_checkpoint


# The tokenization rule of every text, dedup and packing operator:
# lower-case, split on runs of the excluded characters, drop the empty
# edge tokens. WORD_SPLIT keeps apostrophes inside words (the mixture
# and bigram-rarity token counts).
TOKEN_SPLIT = "[^a-z0-9]+"
WORD_SPLIT = "[^a-z0-9']+"


def _lowered(text_col: str) -> Column:
    # U+0130 (İ) lower-cases to "i" + U+0307 in both Spark case mappings
    # (ICU and JVM) but to "i" in DuckDB's, so "İstanbul" would split into
    # "i", "stanbul"; mapping it to "i" first keeps one token "istanbul".
    return F.lower(F.translate(F.col(text_col), "\u0130", "i"))


def tokens(text_col: str = "text", split: str = TOKEN_SPLIT) -> Column:
    """The token array of ``text_col``; NULL text gives NULL, text with no
    token gives [].

    ONE regex pass — split on the excluded-character runs directly and
    drop the empty edge tokens — instead of regexp_replace + trim + a
    second split on whitespace (~3× less regex CPU per row, measured at
    sf0.1; at corpus scale tokenize dominates the shingle pipeline). The
    token lists equal the two-pass form's with its empty strings dropped.
    That form gives [""] for a text with no token; where a DuckDB oracle
    keeps it, the consumer yields the same rows for [""] and [] (n-grams
    with n ≥ 2, dropped empty terms)."""
    return F.array_remove(F.split(_lowered(text_col), split), "")


def normalized_text(text_col: str = "text") -> Column:
    """The tokens of ``text_col`` joined by single spaces."""
    return F.trim(F.regexp_replace(_lowered(text_col), TOKEN_SPLIT, " "))


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content hash: one row per distinct normalized text,
    keeper = min id, plus the duplicate count. Single hash-shuffle keyed by
    digest — the canonical scale-out exact dedup."""
    return (
        df.withColumn("content_hash", F.md5(normalized_text(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles_from_tokens(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED token-array column.

    ``tokens`` must be a plain column reference, not the split/regexp
    expression itself: Catalyst re-evaluates a non-trivial subexpression at
    every reference inside a higher-order-function lambda (no CSE across the
    lambda boundary), which turns one regex split per row into one per
    shingle element — a ~25× slowdown measured at sf0.1."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0)))
    # n element_at lookups beat slice(): no per-gram array allocation
    # (~25% faster shingle build measured at sf0.1)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            *[
                F.element_at(tokens, (i + F.lit(k + 1)).cast("int"))
                for k in range(n)
            ],
        ),
    )
    return F.array_distinct(
        F.when(F.size(tokens) >= n, grams).otherwise(
            F.array(F.concat_ws(" ", tokens))
        )
    )


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input is under-partitioned
    (e.g. a single small parquet file, which cannot split below one row
    group). At warehouse scale inputs already carry enough partitions and
    this is a no-op — no gratuitous shuffle.

    At a tokenize entry the guard moves the regex tokenize + explode map
    work, which runs BEFORE the first exchange, off the single task a
    one-row-group corpus scans as. It is applied only where the
    interleaved A/B won (postings_index 1.11×, bigram_rarity 1.26×,
    winnow_fingerprints 1.37× — heavy explode fan-out) and left out where
    it measured a net loss (tfidf, cooccurrence, vocab-encode: 0.79–0.85×
    — light tokenize, persisted frames, where the round-robin shuffle and
    extra stage outweigh the spread)."""
    min_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df


def shingle_frame(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles) with the tokenization (see tokens) materialized in
    its own projection so the shingle lambda references a column, not an
    expression tree (see shingles_from_tokens)."""
    toks = ensure_min_partitions(df).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__tokens")
    )
    return toks.select("id", shingles_from_tokens(F.col("__tokens"), n).alias("shingles"))


def pair_budget_drop_set(
    freq: DataFrame,
    budget: int,
    shingle_col: str = "shingle",
    df_col: str = "sdf",
) -> DataFrame:
    """Join keys to DROP so the kept vocabulary satisfies the candidate
    pair budget  Σ_shingle C(df, 2) ≤ ``budget``.

    Why this exists (r13 scale finding, BENCH_SCALE_CURVE.json): a
    per-key document-frequency cap (``max_shingle_df``) bounds the WORST
    key but not the SUM — a boilerplate-heavy corpus with many
    moderately-common shingles, each under the cap, is jointly quadratic
    (the sf3 curve measured Σ C(df,2) growing 9× for 3× docs with the
    df cap never engaging). The shingle self-join emits exactly C(df,2)
    candidate rows per key, so bounding the sum bounds the candidate
    stage's total work at ANY corpus shape.

    Semantics — deterministic, rarest-first (the prefix-filter total
    order): keep shingles in (df ASC, shingle ASC) order while the
    running Σ C(df,2) stays within budget; the first level that would
    overflow keeps its first ``(remaining budget) DIV C(df,2)`` shingles
    in shingle ASC order and drops the rest; all hotter levels drop
    entirely. Keys with df ≤ 1 contribute 0 pairs and are never dropped.

    Scale notes: the cumulative window runs over the per-df-level
    HISTOGRAM (distinct df values — a vocabulary statistic, ≤ max df,
    typically a few thousand rows), not the vocabulary; the per-shingle
    ranking touches only levels that actually drop, broadcast-joined on
    the tiny level list. A degenerate corpus whose entire vocabulary sits
    at one df level serializes that one level's ranking window — the
    bounded price of an exact partial-level boundary. C(df,2) is exact
    int64 up to df ~3e9 (beyond any per-key df a budgeted run survives).

    Returns a two-column (``shingle_col``, ``df_col``) frame of keys to
    anti-join away; the df column rides along so the
    ``on_over_budget='raise'`` arm (raise_on_budget_drops) can report an
    offender's df without recomputing frequencies. Anti-join callers
    select/join on ``shingle_col`` alone.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    pairs = f"CAST({df_col} AS BIGINT) * ({df_col} - 1) DIV 2"
    lvl = (
        freq.groupBy(df_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__pp", F.expr(pairs))
        .withColumn("__lvl", F.col("__n") * F.col("__pp"))
    )
    cum_w = (
        Window.orderBy(F.col(df_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lvl = lvl.withColumn("__cum", F.sum("__lvl").over(cum_w)).withColumn(
        "__cum_excl", F.col("__cum") - F.col("__lvl")
    )
    keep_n = (
        F.when(F.col("__cum") <= budget, F.col("__n"))
        .when(F.col("__cum_excl") >= budget, F.lit(0))
        # boundary level: __cum_excl < budget < __cum implies __lvl > 0,
        # hence __pp > 0 — the DIV is safe
        .otherwise(
            F.expr(f"(CAST({budget} AS BIGINT) - __cum_excl) DIV __pp")
        )
    )
    need = lvl.withColumn("__keep_n", keep_n).filter(
        F.col("__keep_n") < F.col("__n")
    )
    rk = F.row_number().over(
        Window.partitionBy(df_col).orderBy(F.col(shingle_col).asc())
    )
    return (
        freq.join(F.broadcast(need.select(df_col, "__keep_n")), df_col)
        .withColumn("__rk", rk)
        .filter(F.col("__rk") > F.col("__keep_n"))
        .select(shingle_col, df_col)
    )


PAIRS_PER_SEC_PER_CORE = 100_000
"""Measured candidate-pair throughput of the shingle verification
pipeline, candidate pairs / second / core: at sf3 the family processed
1.123e9 candidates in 279-516 s warm on 32 threads
(BENCH_SCALE_CURVE.json — 0.68-1.26e5 pairs/s/core; the
wall_per_candidate block's 0.64-1.55x spread is the same measurement
normalized per query). Round figure used by suggested_pair_budget."""


def suggested_pair_budget(
    n_docs: int,
    avg_shingles: float,
    cores: int = 32,
    target_seconds: float = 300.0,
    pairs_per_sec_per_core: float = PAIRS_PER_SEC_PER_CORE,
) -> int:
    """Sizing rule for ``max_candidate_pairs`` (VERDICT r14 #2): the
    budget is a bound on candidate ROWS the self-join emits, so size it
    from the work you can afford —

        work cap = target_seconds x pairs_per_sec_per_core x cores

    with the measured rate ~1e5 pairs/s/core on the 32-thread reference
    box (see PAIRS_PER_SEC_PER_CORE; cross-check: the r14 guarded run's
    150M budget predicts 150e6 / (1e5 x 32) ~ 47 s of candidate work,
    vs 44-80 s measured end-to-end walls at sf1/sf3) — floored at the
    POSTINGS count

        floor = ceil(n_docs x avg_shingles)

    because a healthy (Heaps-law) corpus generates O(1) candidate pairs
    per posting row; a budget below the posting count would bind and
    drop keys even with NO vocabulary densification, i.e. guaranteed
    recall loss on a corpus that never needed guarding. When the floor
    exceeds the work cap the floor wins: the caller should add cores or
    relax target_seconds rather than silently shed recall, and the
    returned value keeps the run correct-first while still bounding the
    quadratic densification regime the budget exists for.

    Returns an int suitable to pass as ``max_candidate_pairs`` to
    shingle_intersection_counts / ngram_jaccard_pairs / ppjoin_pairs.
    """
    if n_docs < 0:
        raise ValueError(f"n_docs must be >= 0, got {n_docs}")
    if avg_shingles < 0:
        raise ValueError(f"avg_shingles must be >= 0, got {avg_shingles}")
    if cores < 1:
        raise ValueError(f"cores must be >= 1, got {cores}")
    if target_seconds <= 0 or pairs_per_sec_per_core <= 0:
        raise ValueError(
            "target_seconds and pairs_per_sec_per_core must be > 0, got "
            f"{target_seconds}, {pairs_per_sec_per_core}"
        )
    work_cap = int(target_seconds * pairs_per_sec_per_core * cores)
    postings_floor = int(math.ceil(n_docs * avg_shingles))
    return max(work_cap, postings_floor)


def raise_on_budget_drops(
    drops: DataFrame,
    op: str,
    budget: int,
    shingle_col: str = "shingle",
    df_col: str = "sdf",
) -> DataFrame:
    """``on_over_budget='raise'`` arm shared by the shingle family: fail
    fast AT EXECUTION (the df stats don't exist at plan time) the moment
    any key would have been dropped, naming one offender. The condition
    references the df attribute, not a literal, so constant folding can
    never evaluate the raise at planning time on an empty drop set —
    the same pattern as ppjoin_pairs' oversize='raise'."""
    return drops.filter(
        F.when(
            F.col(df_col) > 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{op}: candidate pair budget exceeded — "
                        f"sum C(df,2) over shingle join keys > "
                        f"max_candidate_pairs={budget} "
                        f"(on_over_budget='raise'); example dropped "
                        f"shingle: '"
                    ),
                    F.col(shingle_col),
                    F.lit("' (df="),
                    F.col(df_col).cast("string"),
                    F.lit(")"),
                )
            ).isNotNull(),
        ).otherwise(F.lit(True))
    ).select(shingle_col, df_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
    max_candidate_pairs: int | None = None,
    on_over_budget: str = "drop",
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard, candidate-generated by shared
    shingle: explode shingles → self-join on shingle (co-occurrence count =
    |A∩B|) → Jaccard from per-doc shingle counts.

    ``max_shingle_df`` caps the document frequency of join keys: a shingle
    appearing in > K documents ("in the", boilerplate) is dropped BEFORE the
    self-join, bounding each key's candidate fan-out at K² — without the cap
    one hot shingle is quadratic in corpus size and dominates the shuffle at
    100 TB. Effect on results: n_common can only be UNDERcounted (the
    Jaccard denominators still use the full shingle counts), so the cap can
    only suppress pairs, never invent them — and a genuine near-dup pair at
    threshold 0.8 shares mostly non-ubiquitous shingles, so in practice
    results are unchanged (exactly unchanged whenever no shingle exceeds K,
    as at the test SFs). Pass None to disable.

    ``max_candidate_pairs`` bounds the SUM the per-key cap cannot:
    Σ C(df,2) over surviving join keys — i.e. the total candidate rows
    the self-join emits — by dropping the hottest keys rarest-last (see
    pair_budget_drop_set for the exact deterministic rule). Same
    effect contract as the df cap: n_common only ever UNDERcounts, so
    pairs can be suppressed, never invented; denominators stay exact.
    ``on_over_budget='raise'`` fails fast instead, for callers whose
    recall contract must never silently degrade. Default None (off)."""
    inter = shingle_intersection_counts(
        df, id_col, text_col, n, max_shingle_df,
        max_candidate_pairs, on_over_budget,
    )
    # engine-exact rounding of the int/int rational (ops/exact_round):
    # ROUND(double_ratio, 6) is a cross-engine coin flip whenever
    # n_common/n_union sits on a .5 micro-boundary (e.g. n_union=128,
    # n_common odd) — the round-9 hazard class
    jac = round_ratio6(
        F.col("n_common"), F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def shingle_intersection_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = 1000,
    max_candidate_pairs: int | None = None,
    on_over_budget: str = "drop",
) -> DataFrame:
    """The shared candidate machinery behind every shingle-overlap metric
    (Jaccard here, containment in queries/dedup): one capped, PERSISTED
    exploded-shingle frame feeding the df statistics and ONE grouped
    posting-list build, then per-key LOCAL pair expansion and one
    count-keyed aggregation. Returns (id_a, id_b, n_a, n_b, n_common)
    with id_a < id_b; n_a/n_b are the FULL per-doc distinct-shingle
    counts (the caps only suppress join keys, so denominators built from
    them stay exact).

    Candidate-stage shape (r15 optimization, guide §2.3/§2.4 "remove
    shuffles outright / shuffle fewer bytes"): the historical form was a
    sort-merge SELF-join of the posting list — the exploded frame
    exchanged TWICE (once per aliased side), sorted twice, merged, then
    pair-aggregated: 4 exchanges + 2 sorts end to end. Every candidate
    the join can emit is confined to one shingle key, so grouping the
    posting list ONCE (groupBy shingle → array_sort(collect_list)) and
    expanding the C(df,2) ordered combinations locally produces the
    identical pair multiset with 3 exchanges and 0 sorts, and halves the
    posting-list bytes crossing the network. The aggregation buffer is
    BOUNDED by construction: hot keys are dropped by the broadcast
    anti-join BEFORE the collect, so no per-key list exceeds
    ``max_shingle_df`` entries (and under a pair budget, no kept key's
    df exceeds ~sqrt(2·budget)); the worst-case per-key expanded pair
    array is C(max_shingle_df, 2) structs — ~16 MB at the default 1000,
    transient within one task. With BOTH guards disabled (None) the
    grouped build would be unbounded per key, so that path keeps the
    legacy merge self-join, which bounds per-task state at any key
    heat.

    Two complementary guards on the candidate fan-out:
    ``max_shingle_df`` bounds the WORST key (drop any shingle hotter
    than K docs); ``max_candidate_pairs`` bounds the TOTAL —
    Σ C(df,2) over kept keys, which is exactly the candidate row count
    the expansion emits — via pair_budget_drop_set's deterministic
    hottest-first drop (or fail-fast with ``on_over_budget='raise'``).
    Defaults leave the budget off.
    Choosing a value: see suggested_pair_budget — budget = tolerable
    candidate rows = target_seconds x ~1e5 pairs/s/core x cores,
    floored at the posting count (linear-regime work)."""
    if on_over_budget not in ("drop", "raise"):
        raise ValueError(
            f"on_over_budget must be 'drop' or 'raise', got {on_over_budget!r}"
        )
    sh = shingle_frame(df, id_col, text_col, n).withColumn("n_sh", F.size("shingles"))
    # explode_outer, not explode: plain explode makes Catalyst infer a
    # size(shingles)>0 filter and push it into the scan with the whole
    # shingle expression tree inlined (paying the lambda re-evaluation
    # pathology once more, single-threaded). NULL/empty rows never join
    # (legacy path) and are filtered before the grouped build (bounded
    # path), so semantics are identical.
    exploded = sh.select("id", "n_sh", F.explode_outer("shingles").alias("shingle"))
    if max_shingle_df is not None and max_candidate_pairs is None:
        # Common registry path (df cap only) — r15 (guide §2.4): df rides
        # a COUNT OVER (PARTITION BY shingle) window on the SAME exchange
        # the grouped posting build needs (the groupBy below reuses the
        # window's hash partitioning), so the whole candidate stage is
        # ONE exchange of the exploded frame and a partition-local sort —
        # no persist (single consumer: the tokenize pass runs once by
        # construction), no separate df aggregation, no hot-key
        # anti-join. Dropping rows where the windowed df exceeds the cap
        # removes exactly the rows the broadcast anti-join removed, so
        # the pair multiset is identical. WindowExec buffers each key
        # group spillably where the aggregate form pre-shrank hot keys
        # map-side — acceptable because the rows of a hot key all landed
        # on one task under the old SMJ probe too, and the df-cap filter
        # bounds everything downstream.
        posting = (
            exploded.filter(F.col("shingle").isNotNull())
            .withColumn(
                "sdf", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("sdf") <= max_shingle_df)
            .drop("sdf")
        )
        return _grouped_pair_counts(posting)
    # the exploded frame feeds the df aggregate AND the candidate build;
    # Spark's exchange reuse does not fire across those consumers, so
    # without a persist the tokenize+shingle work re-runs per consumer. At
    # warehouse scale the same role is played by materializing the shingle
    # posting list to storage once per corpus snapshot.
    exploded = persist_tracked(exploded)
    freq = None
    if max_shingle_df is not None or max_candidate_pairs is not None:
        # ONE df aggregation serves both guards (r15: the budget arm used
        # to recompute df on the post-cap rows — identical by construction,
        # since dropping whole keys leaves survivors' df untouched)
        freq = exploded.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("sdf")
        )
    if max_shingle_df is not None:
        # hot-shingle set is the Zipf head — tiny by construction (df > K
        # shingles number ≪ corpus), so it broadcasts; the anti-join adds no
        # shuffle beyond the aggregation's map-side-combined pass
        hot = freq.filter(F.col("sdf") > max_shingle_df).select("shingle")
        exploded = exploded.join(F.broadcast(hot), "shingle", "left_anti")
        freq = freq.filter(F.col("sdf") <= max_shingle_df)
    if max_candidate_pairs is not None:
        drops = pair_budget_drop_set(freq, max_candidate_pairs)
        if on_over_budget == "raise":
            drops = raise_on_budget_drops(
                drops, "shingle_intersection_counts", max_candidate_pairs
            )
        # NO broadcast hint, unlike the df-cap head: under a saturating
        # vocabulary the drop set can be most of the vocabulary — let
        # AQE pick the strategy from its actual size
        exploded = exploded.join(drops, "shingle", "left_anti")
    if max_shingle_df is None and max_candidate_pairs is None:
        # UNBOUNDED per-key df: the grouped build below would buffer one
        # list per key with no cap, so keep the legacy sort-merge
        # self-join (spillable, bounded per-task state at any key heat).
        a = exploded.select(
            F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"), "shingle"
        )
        b = exploded.select(
            F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"), "shingle"
        )
        return (
            # merge-join hint: both sides are corpus-sized posting lists —
            # the planner must never try to broadcast one (scale_smoke
            # caught a 3.6 GiB broadcast attempt on the minhash variant at
            # 1M docs)
            a.join(b.hint("merge"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    # Bounded path: group the (guard-filtered) posting list once per key
    # and expand pairs locally — see _grouped_pair_counts.
    return _grouped_pair_counts(exploded)


def _grouped_pair_counts(exploded: DataFrame) -> DataFrame:
    """Per-key LOCAL pair expansion over an exploded posting frame
    (id, n_sh, shingle) → (id_a, id_b, n_a, n_b, n_common) with
    id_a < id_b, n_common = number of shared keys.

    The caller must guarantee a BOUND on per-key document frequency
    (a df cap / pair budget, or an absolutely capped input corpus):
    each key buffers its posting list (collect_list) and a transient
    C(df,2) pair array inside one task. Within that contract this is
    the cheapest exact intersection-count shape — one exchange for the
    grouped build, zero sorts, and the pair aggregation — versus the
    posting self-join's two exchanges + two sorts (guide §2.3/§2.4).

    array_sort on struct(id, n_sh) orders by id (ids are unique within a
    key — shingles are array_distinct per doc), so the combination
    expansion emits each unordered pair exactly once with id_a < id_b —
    the same pair multiset a self-join + id_a < id_b filter produces,
    independent of collect_list's arrival order."""
    grouped = (
        exploded.filter(F.col("shingle").isNotNull())
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("id", "n_sh"))).alias("docs"))
    )
    docs = F.col("docs")
    pair_arr = F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + F.lit(2), F.size(docs)),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["n_sh"].alias("n_a"),
                    y["n_sh"].alias("n_b"),
                ),
            ),
        )
    )
    return (
        # explode_OUTER + null filter, not plain explode: explode makes
        # InferFiltersFromGenerate add a size(...)>0 filter containing a
        # COPY of the whole pair-expansion tree below the generate —
        # every key would pay the C(df,2) expansion twice. The outer
        # generate infers no filter; df=1 keys emit one null row each,
        # dropped by the output-side filter (which cannot be pushed below
        # the generate, so no re-evaluation).
        grouped.select(F.explode_outer(pair_arr).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b")
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32


def minhash_params(num_hashes: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic affine-permutation parameters (a, b), a odd, a,b < 2^20
    so a*h + b stays well inside int64 for 32-bit h."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 20) | 1, rng.randrange(0, 1 << 20))
        for _ in range(num_hashes)
    ]


def shingle_hash(s: Column) -> Column:
    """32-bit integer hash of a shingle: first 8 hex chars of md5 — computed
    ONCE per shingle; the k minhash functions are cheap affine transforms of
    it. Reproducible in any SQL engine (DuckDB: CAST('0x'||… AS BIGINT))."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def minhash_signature(hashed: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as array<long>: sig_i = min over shingle hashes of
    (a_i * h + b_i) mod P. ``hashed`` must be a MATERIALIZED array<long>
    column (one md5 per shingle total — see shingles_from_tokens for why the
    hash pass cannot be inlined into this expression)."""

    def perm(a: int, b: int):
        return lambda h: (h * a + b) % MINHASH_PRIME

    return F.array(
        *[
            F.array_min(F.transform(hashed, perm(a, b)))
            for a, b in minhash_params(num_hashes)
        ]
    )


def banded_minhash_frame(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """(id, shingles, band, band_key) — the LSH bucket frame shared by
    within-corpus pair mining and cross-corpus contamination checks:
    banded_keys_from_shingles over shingle_frame, carrying the shingle
    arrays (same columns, same plan)."""
    return banded_keys_from_shingles(
        shingle_frame(df, id_col, text_col, n), num_hashes, bands,
        carry_shingles=True,
    )


def _band_rows(df: DataFrame, cols: list[str], keys: list[Column]) -> DataFrame:
    """(cols…, band, band_key), one row per band with band_key =
    keys[band] — the bucket rows of every banded candidate generator
    (MinHash signature bands, SimHash bit bands)."""
    bands = F.array(
        *[
            F.struct(F.lit(bi).alias("band"), key.alias("band_key"))
            for bi, key in enumerate(keys)
        ]
    )
    return df.select(*cols, F.explode(bands).alias("bk")).select(
        *cols, "bk.band", "bk.band_key"
    )


def banded_keys_from_shingles(
    sh: DataFrame, num_hashes: int = 16, bands: int = 4,
    *, carry_shingles: bool = False,
) -> DataFrame:
    """(id, band, band_key) — the LIGHT banded-LSH frame: signature band
    keys computed from an existing (id, shingles) frame, WITHOUT carrying
    the shingle payload. ``num_hashes`` must divide evenly into
    ``bands``: the band slices cover rows_per_band·bands signature rows,
    so a remainder would mean silently computing (and paying for) hashes
    that never enter any band key, with a different recall curve than
    requested (r9 review). The candidate bucket join only needs to decide
    WHICH ids collide; shuffling the full shingle arrays through it
    (×bands copies per doc, both join sides, plus the pair-dedup
    aggregation) moved orders of magnitude more bytes than the decision
    needs (guide §2.3 "shuffle keys and metadata instead of payloads",
    §8). Callers attach the arrays afterwards, id-keyed, exactly once
    per verified candidate side — see _attach_shingles.

    ``carry_shingles=True`` keeps the shingle array on the banded rows —
    for the regime where the BUCKET JOIN side never shuffles (probe side
    of a broadcast join) and candidates ≪ corpus, so the only exchange
    that would ever move arrays is the candidate dedup, and an id-keyed
    re-attach would shuffle MORE (the whole corpus's arrays plus two
    extra exchanges). cross_contamination_pairs is that regime
    (measured r16: 274 pre-dedup candidates vs 4010 corpus docs at
    sf0.1); the self-join pipelines keep the light frame."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            f"{num_hashes % bands} trailing signature rows would be ignored"
        )
    rows_per_band = num_hashes // bands
    payload = ["shingles"] if carry_shingles else []
    sig = sh.select(
        "id", *payload, F.transform("shingles", shingle_hash).alias("__hashed")
    ).select(
        "id", *payload,
        minhash_signature(F.col("__hashed"), num_hashes).alias("sig"),
    )
    keys = [
        F.concat_ws(
            "|",
            F.transform(
                F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band),
                lambda h: h.cast("string"),
            ),
        )
        for bi in range(bands)
    ]
    return _band_rows(sig, ["id", *payload], keys)


def _attach_shingles(
    cand: DataFrame, sh: DataFrame, sh_b: DataFrame | None = None,
    *, broadcast_b: bool = False,
) -> DataFrame:
    """Attach shingle arrays to candidate (id_a, id_b) pairs by two
    id-keyed joins against the (persisted) shingle frame(s) — the heavy
    payload moves once per side, keyed by doc id, AFTER the bucket join
    has shrunk the row set to actual candidates (guide §8's
    decide-with-small-rows / move-big-rows-once shape; the same verify
    idiom as setjoin.ppjoin_pairs). ``sh_b`` (default: ``sh``) supplies
    the id_b side — the cross-corpus probes pass the held-out frame,
    broadcast when eval-set-sized."""
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b_src = sh if sh_b is None else sh_b
    sb = b_src.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    if broadcast_b:
        sb = F.broadcast(sb)
    return cand.join(sa, "id_a").join(sb, "id_b")


def _bucket_self_join(frame: DataFrame, keys) -> DataFrame:
    """Bucket-mates of one corpus-sized frame: ``x`` ⋈ ``y`` on ``keys``,
    restricted to x.id < y.id. FORCES a sort-merge join — the frame is
    corpus-sized and statistics under-estimate it (the planner attempted
    a 3.6 GiB broadcast at 1M docs — scale_smoke r5). ONE copy for the
    MinHash, SimHash, embedding-bucket and SemDeDup cluster self-joins;
    callers select the x./y. columns they verify on."""
    return (
        frame.alias("x")
        .join(frame.alias("y").hint("merge"), keys)
        .filter(F.col("x.id") < F.col("y.id"))
    )


def _banded_candidates(
    x: DataFrame,
    y: DataFrame | None = None,
    *,
    broadcast_y: bool = False,
) -> DataFrame:
    """Candidate ID pairs from LIGHT banded-LSH frames (id, band,
    band_key): bucket-mates on (band, band_key), deduped to one row per
    (id_a, id_b). Self-join mode (``y`` None) is _bucket_self_join on
    (band, band_key); cross-corpus mode broadcasts the (eval-set-sized)
    ``y`` side when asked. ONE copy of this block
    (r9 review): minhash_lsh_pairs, cross_contamination_pairs, and
    lsh_recall_eval carried three drifting hand-rolled variants, so a
    candidate-shape fix had to be remembered in three places. r15: the
    frames no longer carry shingle arrays through this join — see
    banded_keys_from_shingles — except an ``x`` built with
    carry_shingles=True, whose arrays ride along as sh_a (one row per
    pair; sh_a is identical on every collision row of a pair, so the
    kept row's payload is value-deterministic)."""
    if y is None:
        cand = _bucket_self_join(x, ["band", "band_key"])
    else:
        ya = y.alias("y")
        yb = F.broadcast(ya) if broadcast_y else ya.hint("merge")
        cand = x.alias("x").join(yb, ["band", "band_key"])
    cols = [F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b")]
    if "shingles" in x.columns:
        cols.append(F.col("x.shingles").alias("sh_a"))
    return cand.select(*cols).dropDuplicates(["id_a", "id_b"])


def _verified_pairs(cand: DataFrame, threshold: float) -> DataFrame:
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.withColumn("jaccard", round_ratio6(inter, union))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: signature → band keys → bucket join →
    verify with exact n-gram Jaccard. Only bucket-mates are compared; the
    shuffle key is the band hash (uniform by construction).

    r15 shape (guide §2.3/§8): the bucket join moves only (id, band,
    band_key) — the historical form shuffled every doc's full shingle
    array ×bands copies through both join sides AND the pair-dedup
    aggregation. Arrays now ride one id-keyed attach join per candidate
    side, after the bucket join has shrunk the row set."""
    # persist: the shingle frame feeds the banded keys AND both verify
    # attach sides; the keys frame feeds both bucket-join sides — exchange
    # reuse does not fire across aliases, so without the persists the
    # tokenize/shingle pass and the 16 affine min-hash transforms re-run
    # per consumer
    sh = persist_tracked(shingle_frame(df, id_col, text_col, n))
    keys = persist_tracked(banded_keys_from_shingles(sh, num_hashes, bands))
    cand = _banded_candidates(keys)
    return _verified_pairs(_attach_shingles(cand, sh), threshold)


def cross_contamination_pairs(
    corpus: DataFrame,
    heldout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Train/test DECONTAMINATION: near-dup pairs ACROSS two corpora —
    which held-out (benchmark/eval) documents leak into the training
    corpus. Same banded-LSH machinery as minhash_lsh_pairs, but the bucket
    join is corpus × heldout instead of a self-join, so cost scales with
    bucket co-occupancy, never |corpus|×|heldout|. The held-out side is
    normally tiny (eval sets) — its banded keys broadcast, and the
    training corpus never shuffles for candidate generation. Output:
    (id_a = corpus doc, id_b = held-out doc, jaccard).

    r16 shape (guide §2.3/§8, narrow fast-path): the held-out banded
    keys broadcast, so the corpus side of the bucket join NEVER
    shuffles — the only exchange left is the candidate dedup. In that
    regime the r15 "shuffle keys, re-attach id-keyed" discipline is a
    net LOSS for the corpus side: the attach joins shuffled every
    corpus doc's array plus the candidate frame (two extra exchanges)
    to re-deliver arrays to candidates ≪ corpus (274 pre-dedup
    candidates vs 4010 corpus docs at sf0.1). The corpus arrays
    therefore ride the bucket join rows (broadcast probe — no shuffle)
    and the dedup exchange carries only CANDIDATE arrays; held-out
    arrays attach as the same small broadcast as before. The self-join
    pipelines (minhash_lsh_pairs) keep the attach shape — there the
    banded frame shuffles on both sides and candidates ≫ corpus."""
    # persist: the held-out shingle frame feeds its banded keys AND the
    # verify attach side; the corpus frame now has a single consumer
    # (the payload-carrying banded keys), so it needs no persist
    hsh = persist_tracked(shingle_frame(heldout, id_col, text_col, n))
    csh = shingle_frame(corpus, id_col, text_col, n)
    ck = banded_keys_from_shingles(
        csh, num_hashes, bands, carry_shingles=True
    )
    hk = banded_keys_from_shingles(hsh, num_hashes, bands)
    cand = _banded_candidates(ck, hk, broadcast_y=True)
    sb = F.broadcast(
        hsh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    )
    return _verified_pairs(cand.join(sb, "id_b"), threshold)


@pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens (vectorized Arrow UDF; bit-majority
    accumulation in numpy). Token hash = first 8 bytes of md5 — stable
    across runs/platforms. Tokenization is the same rule as tokens(), so
    external engines (and the DuckDB oracle) can reproduce the signature
    exactly."""
    out = np.zeros(len(texts), dtype=np.int64)
    shifts = np.arange(64, dtype=np.uint64)
    # per-batch token→±1-bit-vector cache: corpora repeat tokens heavily, so
    # each distinct token is md5'd once per Arrow batch, not once per use
    sign_cache: dict[str, "np.ndarray"] = {}

    def tok_signs(tok: str):
        s = sign_cache.get(tok)
        if s is None:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            # h can exceed int64 — stay in uint64 for the bit extraction
            bits = (np.uint64(h) >> shifts) & np.uint64(1)
            s = np.where(bits == np.uint64(1), 1, -1).astype(np.int64)
            sign_cache[tok] = s
        return s

    for row_i, t in enumerate(texts):
        if not t:
            continue
        lowered = t.replace("\u0130", "i").lower()
        toks = [w for w in re.split(TOKEN_SPLIT, lowered) if w]
        if not toks:
            continue
        acc = np.zeros(64, dtype=np.int64)
        for tok in toks:
            acc += tok_signs(tok)
        sh = 0
        for bit_i in range(64):
            if acc[bit_i] > 0:
                sh |= 1 << bit_i
        # wrap to signed 64-bit
        out[row_i] = sh - (1 << 64) if sh >= (1 << 63) else sh
    return pd.Series(out)


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    band_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit simhash, candidate-generated by exact
    match on one of 4 16-bit bands (any pair within Hamming distance 3
    shares at least one exact band — pigeonhole), verified by popcount of
    XOR. All verification is JVM-side (bit ops are Catalyst expressions)."""
    hashed = df.select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sh")
    )
    mask = (1 << band_bits) - 1
    keys = [
        F.shiftrightunsigned("sh", bi * band_bits).bitwiseAND(F.lit(mask))
        for bi in range(64 // band_bits)
    ]
    banded = _band_rows(hashed, ["id", "sh"], keys)
    # persist: without it the Arrow simhash UDF runs once per self-join side
    banded = persist_tracked(banded)
    cand = (
        _bucket_self_join(banded, ["band", "band_key"])
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.sh").alias("sh_a"),
            F.col("y.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, candidate-generated by a random-
    hyperplane sign bucket (deterministic seed): vectors with cosine ≥ t
    almost always share the bucket key for small n_planes; verification is
    exact cosine in Catalyst (zip_with + aggregate)."""
    bucketed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm_expr(F.col(vec_col)).alias("nv"),
        hyperplane_bucket(vec_col, n_planes=n_planes, seed=seed).alias("bucket"),
    )
    # persist: the 8 plane dot-products feed both self-join sides.
    # (r16: the 1-task-scan spread guard was measured a net loss on the
    # light-compute similarity paths — see llm/similarity ivf_assign —
    # so the cache build stays at scan parallelism here too)
    bucketed = persist_tracked(bucketed)
    # no pair dedup: one bucket key per vector cannot yield a pair twice
    return (
        _bucket_self_join(bucketed, "bucket")
        .withColumn(
            "cosine", F.round(cosine_from_norms("x.v", "y.v", "x.nv", "y.nv"), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"), "cosine"
        )
    )


# Round bounds and the broadcast threshold of dup_clusters. Propagation
# runs first; a graph it cannot settle in PROPAGATE_ROUNDS (a long chain)
# is resolved by the star rounds, whose count is O(log n).
PROPAGATE_ROUNDS = 20
STAR_ROUNDS = 40
BROADCAST_MAX_NODES = 4_000_000


def _star_large(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond", Alg. 2): on the symmetric closure, every node u
    connects each STRICTLY LARGER neighbor to the minimum of its
    neighborhood (incl. itself). One groupBy + one self-join per round."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = sym.groupBy("src").agg(F.min("dst").alias("__mn"))
    m = m.select("src", F.least(F.col("__mn"), F.col("src")).alias("__m"))
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
        .distinct()
    )


def _star_small(edges: DataFrame) -> DataFrame:
    """Small-star round (ibid., Alg. 3): orient edges large→small, then
    every node connects its smaller neighbors (and itself) to the minimum
    of that set. Keeps every node attached to its component min."""
    ori = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    m = ori.groupBy("src").agg(F.min("dst").alias("__m"))
    to_min = (
        ori.join(m, "src")
        .filter(F.col("dst") != F.col("__m"))
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
    )
    return to_min.union(m.select("src", F.col("__m").alias("dst"))).distinct()


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round, with ``__tag`` = 1 on each edge
    whose dst (parent) is also some edge's src (child). The edge set is a
    forest of stars (parent set ∩ child set = ∅) exactly when the tag
    sums to 0, so the convergence test rides on the round's checkpoint
    job. The tag is one window over nodes (each edge keyed by its dst, a
    NULL marker row by its src): one shuffle, two jobs fewer per round
    than a join against the distinct child set."""
    out = _star_small(_star_large(edges.select("src", "dst")))
    rows = out.select("src", "dst", F.col("dst").alias("__n")).union(
        out.select(F.lit(None).alias("src"), F.lit(None).alias("dst"), F.col("src").alias("__n"))
    )
    is_child = F.max(F.col("src").isNull().cast("long")).over(Window.partitionBy("__n"))
    return rows.select("src", "dst", is_child.alias("__tag")).filter(F.col("src").isNotNull())


def _star_components(edges: DataFrame) -> tuple[DataFrame, list[int]]:
    """Alternating large-star/small-star rounds until the edge set is a
    forest of stars: O(log n) rounds on ANY graph shape, chains included.
    Returns (star edges child→root, per-round counts of edges whose
    parent is still a child); raises NotConverged after STAR_ROUNDS."""
    edges = edges.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint()
    stars, changes = iterate(edges, _star_round, STAR_ROUNDS, changed=F.sum("__tag"))
    return stars.select("src", "dst"), changes


def _propagate(e: DataFrame, n_pairs: int) -> DataFrame:
    """Min-label propagation over the checkpointed (src, dst) pairs E:
    (doc_id, cluster_id = smallest reachable id). Raises NotConverged
    after PROPAGATE_ROUNDS rounds.

    Round shape: (edges ⋈ labels on dst) ∪ labels, then one min-groupBy —
    a SINGLE shuffle per round. When the node set is small enough
    (≤ BROADCAST_MAX_NODES) the labels side is broadcast, so the edge
    table never shuffles for the join; above that, edges are
    pre-partitioned by dst once and the checkpointed partitioning is
    reused every round. Convergence is type-safe for ANY id type (bigint,
    string, ...): the previous label rides along through the min-groupBy
    as a second aggregate (each id contributes exactly one non-null
    ``__prev`` row, so ``max`` recovers it), and the round stops when the
    count of rows with ``label != __prev`` is 0 — no numeric cast of the
    label, so string ids cannot silently break the convergence test."""
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # Smart init: label = min(own id, min neighbor id) — the first
    # propagation step fused into the init aggregation (same single
    # shuffle as the plain distinct() init, since every node appears as
    # src in the doubled edge frame). On the dense near-clique components
    # dedup produces, this IS the fixpoint, so the loop ends after one
    # confirming round instead of two — measured 1.14 s -> 0.83 s on the
    # sf0.1 resolution graph.
    labels, labels_obs = observed_checkpoint(
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("__mn"))
        .select("id", F.least("id", "__mn").alias("label")),
        n=F.count(F.lit(1)),
    )
    n_nodes = labels_obs["n"]
    small = n_nodes <= BROADCAST_MAX_NODES
    if small:
        # Right-size the per-round task width from the materialized
        # counts. In the small path the labels side broadcasts, so the
        # edge frame needs no dst partitioning at all: each round
        # re-derives the doubled view from the checkpointed pair blocks
        # (narrow, recompute-free). Size by EDGE count, not node count
        # (r6 review): dense near-clique dup graphs have edges ~
        # Σclique², so a node-count divisor could collapse billions of
        # doubled edge rows onto a handful of tasks.
        edges = edges.coalesce(max(1, -(-(2 * n_pairs) // 250_000)))
        label_width = max(1, -(-n_nodes // 250_000))
    else:
        # large path: pre-partition the doubled edges by dst ONCE and
        # checkpoint, so every round's sort-merge join reuses the
        # partitioning instead of re-shuffling the edge table
        edges = edges.repartition("dst").localCheckpoint()
    label_t = dict(labels.dtypes)["label"]

    def current(state: DataFrame) -> DataFrame:
        # the node-sized width is re-applied EVERY round (ADVICE r6): a
        # round's groupBy resets labels to the default shuffle width.
        # Narrow coalesce on the checkpointed frame — recompute-free.
        labels = state.select("id", "label")
        return labels.coalesce(label_width) if small else labels

    def step(state: DataFrame) -> DataFrame:
        labels = current(state)
        rhs = F.broadcast(labels) if small else labels
        nbr = (
            edges.join(rhs, edges["dst"] == rhs["id"])
            .select(F.col("src").alias("id"), "label")
            .withColumn("__prev", F.lit(None).cast(label_t))
        )
        return (
            nbr.union(labels.withColumn("__prev", F.col("label")))
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.max("__prev").alias("__prev"))
        )

    changed = F.sum((F.col("label") != F.col("__prev")).cast("long"))
    labels, _ = iterate(labels, step, PROPAGATE_ROUNDS, changed=changed)
    return current(labels).select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve near-dup PAIRS (id_a, id_b) into connected-component
    CLUSTERS — (doc_id, cluster_id = smallest reachable id) — the step
    that turns any pair generator above into "keep one doc per duplicate
    group".

    Min-label propagation runs first: O(component diameter) rounds, and
    near-dup components are dense near-cliques. When PROPAGATE_ROUNDS
    pass without a zero-change round (an adversarial chain), the same
    checkpointed pairs go to the large-star/small-star rounds (Kiveris et
    al., "Connected Components in MapReduce and Beyond"), O(log n) rounds
    regardless of diameter. So the observed change count, not a flag,
    picks the algorithm. Both loops run on ops/fixpoint.iterate."""
    # The pair frame is checkpointed before doubling: ReuseExchange does
    # not fire across the two aliased branches of the union, so
    # checkpointing the doubled view would run the pair pipeline twice.
    e, e_obs = observed_checkpoint(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        n=F.count(F.lit(1)),
    )
    try:
        return _propagate(e, e_obs["n"])
    except NotConverged:
        stars, _ = _star_components(e)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return nodes.join(stars, nodes["id"] == stars["src"], "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce(F.col("dst"), F.col("id")).alias("cluster_id"),
    )


def exact_ngram_contamination(
    corpus: DataFrame,
    heldout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Exact n-gram decontamination (the GPT-3-style 13-gram rule,
    complementing the fuzzy LSH tier of cross_contamination_pairs): flag
    every (train, heldout) doc pair sharing at least one exact word
    n-gram, with the shared-gram count as evidence strength.

    Scale shape: both sides explode their distinct n-grams (docs shorter
    than n tokens have none); the held-out side is benchmark-sized and
    BROADCASTS, so the training corpus never shuffles — the join is a
    map-side hash probe followed by one pair-keyed aggregation."""

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        toks = ensure_min_partitions(df).select(
            F.col(id_col).alias(out_id),
            tokens(text_col).alias("__tokens"),
        ).filter(F.size("__tokens") >= n)
        # explode_OUTER: plain explode lets InferFiltersFromGenerate push a
        # size(...)>0 filter through the __tokens projection, inlining the
        # regex split at every element_at inside the shingle lambda —
        # re-tokenizing the document once PER GRAM (quadratic in doc
        # length; see llm/setjoin.ppjoin_pairs for the measured case).
        # The inner join on "g" below drops the null rows empty docs emit.
        return toks.select(
            out_id,
            F.explode_outer(shingles_from_tokens(F.col("__tokens"), n)).alias("g"),
        )

    tr = grams(corpus, "train_id")
    ho = grams(heldout, "heldout_id")
    return (
        tr.join(F.broadcast(ho), "g")
        .groupBy("train_id", "heldout_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def span_dedup_retention(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 20,
) -> DataFrame:
    """Span-level exact dedup retention (the C4/RefinedWeb pattern of
    removing repeated SPANS rather than whole documents): tokenize, cut
    each doc into consecutive ``span``-token windows, keep the globally
    first occurrence of each distinct span (ordered by (doc_id,
    span_idx)), and report per-doc how much text survives.

    Returns (id, n_tokens, n_spans, n_kept, kept_tokens, retained_frac).

    Scale shape: spans fan out ~n_tokens/span rows per doc; the keeper
    pick is ONE hash-shuffle keyed by span digest (a partitioned
    row_number window — never global), then one doc-keyed aggregation.
    Both keys are high-cardinality and unskewed (md5 digests; doc ids),
    so the plan is two well-balanced exchanges regardless of corpus size.
    """
    toks = ensure_min_partitions(df).select(
        F.col(id_col), tokens(text_col).alias("__tokens")
    )
    spans = (
        toks.filter(F.size("__tokens") > 0)
        .select(
            id_col,
            F.size("__tokens").cast("long").alias("n_tokens"),
            "__tokens",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("__tokens") / F.lit(span)).cast("int") - 1,
                )
            ).alias("span_idx"),
        )
        .select(
            id_col,
            "n_tokens",
            "span_idx",
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("__tokens"), F.col("span_idx") * span + 1, span
                    ),
                )
            ).alias("span_hash"),
            F.least(
                F.lit(span), F.col("n_tokens") - F.col("span_idx") * span
            ).alias("span_len"),
        )
    )
    # Keeper = lexicographic min (id, span_idx) per span_hash, computed as
    # a MAP-SIDE-COMBINED struct-min aggregate instead of a row_number
    # window partitioned by span_hash (r9 review): a boilerplate span
    # repeated in 100M documents put all 100M rows through ONE window
    # task — the unsalted hot-key funnel postings_index salts against —
    # while the struct-min collapses each partition's contribution to one
    # row per hash before the shuffle, so the hottest span costs one row
    # per map task. Keeper choice (and thus every output number) is
    # identical. The span frame feeds the keeper agg AND the per-doc
    # rollup, hence the persist.
    spans = persist_tracked(spans)
    keepers = spans.groupBy("span_hash").agg(
        F.min(F.struct(id_col, "span_idx", "span_len")).alias("__k")
    )
    keeper_stats = keepers.groupBy(
        F.col(f"__k.{id_col}").alias(id_col)
    ).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("__k.span_len").alias("kept_tokens"),
    )
    return (
        spans.groupBy(id_col)
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .join(keeper_stats, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_spans",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce(F.col("kept_tokens"), F.lit(0).cast("long")).alias(
                "kept_tokens"
            ),
            (
                F.coalesce(F.col("kept_tokens"), F.lit(0).cast("long"))
                / F.col("n_tokens")
            ).alias("retained_frac"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.7,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    space, then inside each cluster drop every vector that has a
    LOWER-id neighbor at cosine >= ``threshold`` — semantic near-dups
    never meet across clusters, so the quadratic step is bounded by
    cluster size, never corpus size. Returns (id, cluster_id, keep).
    The drop rule is a single deterministic pass: a vector drops if ANY
    lower-id neighbor is within threshold, whether or not that neighbor
    itself survives (no iterative kept-set re-evaluation — on an
    A–B–C similarity chain with A–C far, both B and C drop).

    Composition of the existing IVF machinery: deterministic centroids
    (swap in kmeans_fit offline without changing this path) + broadcast
    argmin assignment, then one within-cluster self-join under the
    corpus-sized ``merge`` discipline. Cosines round to 6 places before
    the threshold compare (the repo's cross-engine float contract).

    ``n_clusters=None`` (the default, and the only scale-safe choice)
    resolves to ceil(sqrt(N)) via one cheap count — the paper's regime,
    where expected cluster size is ~sqrt(N) and the verify join stays
    near-linear at ANY corpus size. A fixed pin (e.g. 8) leaves an
    O((N/k)^2) term that the sf0.1->sf1 diagnostic measured at 25.8x
    wall for 10x data vs 10.76x under sqrt(N) (BENCH_SF1_DIAG.json);
    pass an explicit int only for unit fixtures or an offline-trained
    codebook of known size."""
    if n_clusters is None:
        # EAGER: this count() runs a Spark job at DataFrame-BUILD time
        # (plan-fingerprint sweeps included). Cheap only when df is a
        # bare parquet scan (row-group stats); a filtered/derived input
        # pays a full evaluation here and again when the result runs —
        # such callers should persist the input first or pass an
        # explicit n_clusters. Double sqrt + ceil matches the DuckDB
        # oracle's CEIL(SQRT(n)) bit-for-bit at any realistic corpus size
        n_clusters = max(1, math.ceil(math.sqrt(df.count())))
    cents = deterministic_centroids(df, n_clusters, id_col, vec_col)
    assigned = persist_tracked(
        ivf_assign(df, cents, id_col, vec_col).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
            "vnorm", "centroid_id",
        )
    )
    # the higher id (y) of each close within-cluster pair drops
    dropped = (
        _bucket_self_join(assigned, "centroid_id")
        .filter(
            F.round(
                cosine_from_norms("y.v", "x.v", "y.vnorm", "x.vnorm"), 6
            )
            >= threshold
        )
        .select(F.col("y.id").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__dropped", F.lit(1)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("centroid_id").alias("cluster_id"),
            F.col("__dropped").isNull().alias("keep"),
        )
    )


def incremental_dedup(
    history: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental (daily-crawl) near-dup admission: classify every doc
    in ``batch`` against the already-admitted ``history`` corpus AND
    against earlier docs of the same batch — the production dedup shape,
    where re-mining all |history|² pairs per ingest would be absurd.

    Two LSH probes on the shared banded machinery:
    - history × batch: the batch's banded frame BROADCASTS (a daily
      batch is small next to the corpus), so history never shuffles —
      and at warehouse scale the history banded frame is exactly the
      materialized signature store the persist()s in this module stand
      in for, i.e. the probe cost is |batch buckets|, independent of
      history size beyond the bucket lookup.
    - batch × batch: the within-batch self-join (merge-hinted like every
      corpus-sized self-join here); the lower id wins, mirroring
      minhash_lsh_pairs' keeper rule.

    Both probes verify with EXACT n-gram Jaccard ≥ ``threshold``
    (banding only generates candidates).

    Output, one row per batch doc: id_col, dup_of_history,
    dup_in_batch (duplicates an earlier batch doc), keep
    (= neither). A batch doc that is only a near-dup of a batch doc
    which itself duplicates history is still dropped via dup_in_batch —
    admission is per-doc, not transitive-cluster, by design (the
    cluster-level keeper pick is dup_clusters/dedup_resolution).
    """
    # both probes compose the SAME audited building blocks the standalone
    # pipelines use (banded_keys_from_shingles → _banded_candidates →
    # _attach_shingles → _verified_pairs), so probe-shape fixes still live
    # in exactly one place (review catch) — but the batch's shingle and
    # banded-key frames are now built ONCE and shared across the
    # history×batch and batch×batch probes (r15, guide §1/§2: the
    # standalone calls each recomputed the batch tokenize+signature pass)
    bsh = persist_tracked(shingle_frame(batch, id_col, text_col, n))
    bk = persist_tracked(banded_keys_from_shingles(bsh, num_hashes, bands))
    hsh = persist_tracked(shingle_frame(history, id_col, text_col, n))
    hk = banded_keys_from_shingles(hsh, num_hashes, bands)
    hist_hits = (
        _verified_pairs(
            _attach_shingles(
                _banded_candidates(hk, bk, broadcast_y=True),
                hsh,
                bsh,
                broadcast_b=True,
            ),
            threshold,
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__h", F.lit(True))
    )
    batch_hits = (
        _verified_pairs(_attach_shingles(_banded_candidates(bk), bsh), threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("__b", F.lit(True))
    )
    return (
        batch.select(F.col(id_col).alias("id"))
        .join(hist_hits, "id", "left")
        .join(batch_hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("__h"), F.lit(False)).alias("dup_of_history"),
            F.coalesce(F.col("__b"), F.lit(False)).alias("dup_in_batch"),
            (F.col("__h").isNull() & F.col("__b").isNull()).alias("keep"),
        )
    )


def lsh_recall_eval(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    sample_docs: int = 1000,
) -> DataFrame:
    """Banding-parameter evaluation: on a DETERMINISTIC hash sample of
    the corpus, compare the LSH candidate pairs against ground truth
    (exact Jaccard over ALL sample pairs) and report recall/precision —
    the measurement that justifies a (num_hashes, bands) choice before a
    full-corpus run.

    The ground truth is quadratic-in-the-sample BY DESIGN and therefore
    confined to the sample: the first ``sample_docs`` docs in
    md5('lsh_eval'||id) order — a deterministic uniform hash, no RNG,
    reproducible under any partitioning, compiled to
    TakeOrderedAndProject (per-partition partial top-k, no full sort, no
    shuffle of the corpus), so the eval cost is O(sample_docs²) at ANY
    corpus size (the evaluation needs statistical mass, 10³-10⁴ docs, not
    the whole corpus; a corpus FRACTION made it 59.8x wall sf0.1→sf1,
    BENCH_SF1_DIAG r12). For any positive threshold it is computed from
    exact posting-list intersection counts (no array payload shuffles —
    r15), falling back to the all-pairs BNLJ only at threshold <= 0. The
    LSH side reuses the production banded machinery on the same sample.
    Output is ONE row: n_sample_docs, n_true_pairs, n_candidate_pairs (bucket-mates),
    n_hit_pairs (true pairs the banding surfaced), recall, precision —
    exact integers and single divisions.
    """
    h = F.md5(F.concat(F.lit("lsh_eval"), F.col(id_col).cast("string")))
    sample = df.orderBy(h.asc(), F.col(id_col).asc()).limit(sample_docs)
    sh = persist_tracked(shingle_frame(sample, id_col, text_col, n))
    if threshold > 0.0:
        # Ground truth via exact posting-list intersection counts (r15,
        # guide §2.3): the historical BNLJ materialized all C(sample,2)
        # pair rows each carrying BOTH full shingle arrays, then
        # array-intersected every one. A pair below any positive
        # threshold must share >= 1 shingle, so the pair set at
        # jaccard >= t is exactly recoverable from per-key pair counts —
        # same arithmetic (|A∪B| = n_a+n_b-n_common for distinct-element
        # arrays), no array payload ever crosses a shuffle. Per-key df is
        # bounded by the sample cap, so the grouped expansion's local
        # state is bounded by design (the _grouped_pair_counts contract).
        ex = sh.select(
            "id",
            F.size("shingles").alias("n_sh"),
            F.explode_outer("shingles").alias("shingle"),
        )
        inter = _grouped_pair_counts(ex)
        jac = round_ratio6(
            F.col("n_common"),
            F.col("n_a") + F.col("n_b") - F.col("n_common"),
        )
        true_pairs = persist_tracked(
            inter.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    else:
        # threshold <= 0 admits zero-overlap pairs, which no posting key
        # can generate — keep the quadratic BNLJ, the intended plan on
        # the bounded sample, nowhere else
        truth = (
            sh.alias("x")
            .join(sh.alias("y"), F.col("x.id") < F.col("y.id"))
            .select(
                F.col("x.id").alias("id_a"),
                F.col("y.id").alias("id_b"),
                F.col("x.shingles").alias("sh_a"),
                F.col("y.shingles").alias("sh_b"),
            )
        )
        true_pairs = persist_tracked(_verified_pairs(truth, threshold))
    keys = persist_tracked(banded_keys_from_shingles(sh, num_hashes, bands))
    cand = persist_tracked(_banded_candidates(keys))
    hits = true_pairs.join(cand, ["id_a", "id_b"], "left_semi")
    # all four counts as lazy 1-row frames crossed together — no job runs
    # at construction time (the repo's no-collect-in-construction rule)
    stats = (
        sample.agg(F.count_distinct(F.col(id_col)).alias("n_sample_docs"))
        .crossJoin(true_pairs.agg(F.count(F.lit(1)).alias("n_true_pairs")))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit_pairs")))
    )
    return stats.select(
        "n_sample_docs",
        "n_true_pairs",
        "n_candidate_pairs",
        "n_hit_pairs",
        F.when(
            F.col("n_true_pairs") > 0,
            round_ratio6(F.col("n_hit_pairs"), F.col("n_true_pairs")),
        ).otherwise(F.lit(1.0)).alias("recall"),
        F.when(
            F.col("n_candidate_pairs") > 0,
            round_ratio6(F.col("n_hit_pairs"), F.col("n_candidate_pairs")),
        ).otherwise(F.lit(1.0)).alias("precision"),
    )
