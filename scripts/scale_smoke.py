"""Scale smokes: run operators on spark.range-generated frames well past
the sf0.1 gate volume (no testdata writes) and print wall times. This is
the evidence behind PLANS.md's "survives 100x" claims — not a correctness
gate (the oracle covers that at sf0.01) but a does-the-shape-hold check:
linear operators should scale ~linearly, and nothing should OOM or
collapse onto one task.

Usage: python scripts/scale_smoke.py <suite> [size]

  suite     size unit (default)       operators
  core      rows, millions (20)       sessionize, as-of join, skewed distinct,
                                      exact/MinHash/span dedup, incremental
                                      merge, funnel, range join, cohort,
                                      bloom semi-join, bigram rarity,
                                      sequences, postings, key skew
  stats     rows, millions (20)       merge-intervals, Gini, winsorized mean,
                                      KS, proportional allocation, basket rules
  setjoin   docs, thousands (200)     capped containment near-dup with a
                                      corpus-wide hot shingle, PPJoin, graph
                                      tier (triangles, capped link prediction)
  megadoc   doc tokens, millions (3)  PPJoin at the default heap with one
                                      giant document among 50k ordinary ones
                                      (the per-doc shingle cap must hold)
  doubling  docs, millions (1)        PPJoin and dup_clusters forced onto the
                                      star rounds, on a parquet-materialized
                                      corpus

The last stdout line is {"suite", "size", "timings": {name: seconds}}.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from aos_spark.cache import release_tracked
from aos_spark.session import get_spark


def timed(name, frame, results):
    """Run `frame` through a noop write and record its wall time. `frame`
    is a DataFrame, or a zero-argument callable returning one when building
    the plan itself runs jobs (ppjoin's coalesce right-sizing runs an eager
    count) — then the build is timed too."""
    t0 = time.time()
    df = frame() if callable(frame) else frame
    df.write.format("noop").mode("overwrite").save()
    results[name] = round(time.time() - t0, 2)
    print(f"{name}: {results[name]}s", file=sys.stderr)
    release_tracked()


def suite_core(spark, size, results):
    n = int(size * 1_000_000)

    # 1. sessionize: n events, 100k users (~200 events/user)
    ev = spark.range(n).select(
        (F.col("id") % 100_000).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") * 37 % 5_000_000)
        ).alias("ts"),
        (F.col("id") % 100).cast("double").alias("value"),
    )
    from aos_spark.ops.windows import sessionize

    timed("sessionize_20x_users", sessionize(ev, ["user_id"], "ts", 1800, "value"), results)

    # 2. as-of join: n left rows against n/10 right rows, same key space
    from aos_spark.ops.asof import asof_join

    left = ev.select("user_id", "ts").withColumn("event_id", F.monotonically_increasing_id())
    right = spark.range(n // 10).select(
        (F.col("id") % 100_000).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") * 370 % 5_000_000)
        ).alias("ts"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    timed(
        "asof_join",
        asof_join(left, right, on="ts", by=["user_id"], value_cols=["value"]),
        results,
    )

    # 3. salted distinct under heavy skew: 90% of rows share ONE key
    skewed = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit("HOT"))
        .otherwise(F.col("id").cast("string"))
        .alias("k"),
        (F.col("id") % 1_000_003).alias("v"),
    )
    from aos_spark.ops.skew import salted_distinct_count

    timed("salted_distinct_skew90", salted_distinct_count(skewed, "k", "v"), results)

    # 4. exact dedup at n docs (hash groupBy)
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text body "), (F.col("id") % (n // 4)).cast("string")).alias(
            "text"
        ),
    )
    from aos_spark.llm.dedup import exact_dedup

    timed("exact_dedup_4x_dups", exact_dedup(docs), results)

    # 5. incremental agg state build + merge at n rows
    from aos_spark.ops import incremental as I

    half1 = ev.filter(F.col("user_id") % 2 == 0)
    half2 = ev.filter(F.col("user_id") % 2 == 1)
    merged = I.finalize(
        I.merge_states(
            I.agg_state(half1, ["user_id"], "value"),
            I.agg_state(half2, ["user_id"], "value"),
            ["user_id"],
        ),
        ["user_id"],
    )
    timed("incremental_state_merge", merged, results)

    # 6. funnel window-chain: n events, 100k users
    from pyspark.sql import Window

    fe = ev.withColumn(
        "event_type",
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase"), F.lit("other")),
            ((F.col("user_id") + F.col("value").cast("long")) % 4 + 1).cast("int"),
        ),
    ).withColumn("event_id", F.monotonically_increasing_id())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s1 = F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(w)
    fe2 = fe.withColumn("__s1", s1)
    s2 = F.max(
        F.when((F.col("event_type") == "click") & (F.col("__s1") == 1), 1).otherwise(0)
    ).over(w)
    funnel = (
        fe2.withColumn("__s2", s2)
        .groupBy("user_id")
        .agg(F.max("__s1").alias("u1"), F.max("__s2").alias("u2"))
        .agg(F.sum("u1").alias("a"), F.sum("u2").alias("b"))
    )
    timed("funnel_window_chain", funnel, results)

    # 7. MinHash LSH dedup at n/20 synthetic docs (~1M at the 20M setting):
    # 25-word hash-derived docs; every 10th doc is a near-dup of a base doc
    # (one word changed), so the banded join has real candidates to verify.
    n_docs = n // 20
    base_id = F.when(F.col("id") % 10 == 0, F.col("id") - (F.col("id") % 100)).otherwise(
        F.col("id")
    )
    words = F.transform(
        F.sequence(F.lit(0), F.lit(24)),
        lambda i: F.substring(F.md5(F.concat(base_id.cast("string"), i.cast("string"))), 1, 6),
    )
    tail = F.when(F.col("id") % 10 == 0, F.substring(F.md5(F.col("id").cast("string")), 1, 6)).otherwise(
        F.lit("common")
    )
    docs_lsh = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.concat(words, F.array(tail))).alias("text"),
    )
    from aos_spark.llm.dedup import minhash_lsh_pairs

    timed("minhash_lsh_1m_docs", minhash_lsh_pairs(docs_lsh), results)

    # 8. bucketized range join: n points against n/10 intervals
    from aos_spark.ops.intervals import bucketized_range_join

    pts = spark.range(n).select((F.col("id") % 10_000_000).cast("double").alias("v"))
    ivs = spark.range(n // 10).select(
        (F.col("id") % 10_000_000).cast("double").alias("lo"),
        ((F.col("id") % 10_000_000) + 50.0).alias("hi"),
        F.col("id").alias("interval_id"),
    )
    timed(
        "range_join_2m_intervals",
        bucketized_range_join(pts, ivs, "v", "lo", "hi", bucket_width=64.0)
        .groupBy()
        .count(),
        results,
    )

    # 9. cohort retention shape: first-touch agg + user-keyed join at n rows
    evd = ev.select("user_id", F.to_date("ts").alias("d"))
    first = evd.groupBy("user_id").agg(F.min("d").alias("c"))
    cohort = (
        evd.distinct()
        .join(first, "user_id")
        .groupBy("c", F.datediff("d", "c").alias("ds"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    timed("cohort_retention", cohort, results)

    # 10. span-level dedup on the same ~1M synthetic doc corpus: 26-word
    # docs -> 2 spans each; the every-10th near-dups share their first
    # 20-token span, so the keeper window sees real collisions.
    from aos_spark.llm.dedup import span_dedup_retention

    timed("span_dedup_1m_docs", span_dedup_retention(docs_lsh, span=20), results)

    # 11. bloom semi-join: n-row fact against an n/100-key build side —
    # the bitset must stay O(m) regardless of n. m=2^22 dispatches to the
    # broadcast-join probe tier, a fully LAZY plan (no eager bitset
    # collect — that is the ≤2^17 literal tier), so the standard timed()
    # wrapper measures build + probe + verify end-to-end.
    from aos_spark.ops.bloom import bloom_semijoin

    fact = spark.range(n).select((F.col("id") * 7 % (n * 2)).alias("fk"))
    build = spark.range(n // 100).select((F.col("id") * 14).alias("bk"))
    timed(
        "bloom_semijoin_fact_n",
        bloom_semijoin(fact, "fk", build, "bk", m_bits=1 << 22).groupBy().count(),
        results,
    )

    # 12. bigram rarity at ~1M docs: the occurrence explode (~25M rows)
    # and the zipfian-hot count join are the stress points.
    from aos_spark.llm.text import bigram_rarity

    timed("bigram_rarity_1m_docs", bigram_rarity(docs_lsh), results)

    # 13. Markov transition matrix at n events: the lag window is the only
    # data-sized stage; the count/normalize frames are |states|²-bounded.
    from aos_spark.ops.sequences import session_paths, transition_matrix

    seq_ev = ev.select(
        "user_id",
        "ts",
        (F.col("user_id") % 8).cast("string").alias("state"),
    ).withColumn("event_id", F.monotonically_increasing_id())
    timed(
        "transition_matrix_n_events",
        transition_matrix(seq_ev, "user_id", "state", ["ts", "event_id"]),
        results,
    )

    # 14. session paths at n events: same key shuffle; the path-count
    # frame is |states|^max_len-bounded, top-k via TakeOrdered.
    timed(
        "session_paths_n_events",
        session_paths(seq_ev, "user_id", "ts", "state", "event_id"),
        results,
    )

    # 15. burst detection at n events: hourly rollup shrinks the window
    # input by ~events-per-hour before the RANGE frame runs.
    from aos_spark.ops.sequences import burst_hours

    timed("burst_hours_n_events", burst_hours(ev, "user_id", "ts"), results)

    # 16. postings index at ~1M docs: the cap window must keep hot-term
    # state bounded while df/tf stay exact.
    from aos_spark.llm.text import postings_index

    timed("postings_index_1m_docs", postings_index(docs_lsh), results)

    # 17. key skew profile on a 90%-hot key column at n rows: one count
    # shuffle + a scalar agg per profiled column.
    from aos_spark.ops.skew import key_distribution_profile

    hotk = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k")
    )
    timed("key_skew_profile_hot", key_distribution_profile(hotk, ["k"]), results)


def suite_stats(spark, size, results):
    n = int(size * 1_000_000)

    # 1. merge_intervals: n intervals over 100k users (~200/user), spans
    # engineered so ~half the intervals chain into islands.
    from aos_spark.ops.intervals import merge_intervals

    iv = spark.range(n).select(
        (F.col("id") % 100_000).alias("user_id"),
        (F.col("id") * 37 % 5_000_000).alias("s"),
    ).withColumn("e", F.col("s") + 40)
    timed("merge_intervals", merge_intervals(iv, ["user_id"], "s", "e"), results)

    # 2. grouped_gini: n decimal values across 25 groups — the window
    # sorts ~n/25 rows per partition, the worst case the docstring owns.
    from aos_spark.ops.stats import grouped_gini

    vals = spark.range(n).select(
        (F.col("id") % 25).alias("g"),
        F.col("id").alias("rid"),
        ((F.col("id") * 7919 % 1_000_000) / 100).cast("decimal(14,2)").alias("v"),
    )
    timed("grouped_gini", grouped_gini(vals, ["g"], "v", ["rid"]), results)

    # 3. grouped_winsorized_mean on the same frame.
    from aos_spark.ops.stats import grouped_winsorized_mean

    timed(
        "winsorized_mean",
        grouped_winsorized_mean(vals, ["g"], "v", tail_pct=5),
        results,
    )

    # 4. ks_two_sample: n rows, values bounded to a 10k-wide histogram —
    # the corpus reduces before any window runs.
    from aos_spark.ops.stats import ks_two_sample

    ks = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("g"),
        (F.col("id") * 31 % 10_000 + F.when(F.col("id") % 2 == 0, 0).otherwise(500)).alias("v"),
    )
    timed("ks_two_sample", ks_two_sample(ks, "g", "v", "a", "b"), results)

    # 5. proportional_allocation: n docs, 20 strata, 10% budget — two
    # stratum-keyed corpus shuffles, allocation math on a 20-row frame.
    from aos_spark.llm.sampling import proportional_allocation

    docs = spark.range(n).select(
        F.concat(F.lit("s"), (F.col("id") % 20).cast("string")).alias("lang"),
        F.col("id").alias("doc_id"),
    )
    timed(
        "proportional_allocation",
        proportional_allocation(docs, ["lang"], 10, "doc_id"),
        results,
    )

    # 6. association_rules: n basket lines, n/10 baskets x 100-item
    # vocabulary (~10 items/basket -> ~45 pairs/basket fan-out; pair key
    # space 4950). The self-join is the cost driver — basket-keyed, never
    # corpus-squared.
    from aos_spark.ops.assoc import association_rules

    lines = spark.range(n).select(
        (F.col("id") % (n // 10)).alias("basket"),
        F.concat(F.lit("i"), (F.col("id") * 613 % 100).cast("string")).alias("item"),
    )
    timed(
        "association_rules",
        association_rules(lines, "basket", "item", min_support_pct=1),
        results,
    )


def corpus(spark, n_docs):
    """Synthetic corpus: every doc shares a boilerplate prefix (the
    hot-shingle worst case — one 3-gram in ALL docs) plus a mostly-unique
    tail; ~5% of docs are near-dups of a neighbor."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("terms of service apply to all content here "),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit(f"w{j}x"),
                        (F.col("id") / F.lit(20 if j < 3 else 1)).cast("long"),
                    )
                    for j in range(24)
                ],
            ),
        ).alias("text"),
    )


def materialize(spark, df, name):
    """Write the synthetic corpus to parquet and read it back, so the
    operator under test sees a STORAGE-shaped input (real corpora are
    parquet scans, not expression trees). Without this the giant
    generator expression is re-evaluated interpreted inside downstream
    stages — a benchmark artifact, not an operator cost."""
    import tempfile

    path = f"{tempfile.gettempdir()}/aos_scale_smoke_{name}"
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def suite_setjoin(spark, size, results):
    n_docs = int(size * 1000)
    docs = corpus(spark, n_docs)

    from aos_spark.llm.dedup import shingle_intersection_counts

    inter = shingle_intersection_counts(docs, "doc_id", "text", 3)
    cont = inter.withColumn(
        "containment",
        F.col("n_common").cast("double") / F.least("n_a", "n_b"),
    ).filter(F.col("containment") >= 0.5)
    timed(f"containment_capped_{n_docs}docs_hot_shingle", cont, results)

    from aos_spark.llm.setjoin import ppjoin_pairs

    timed(
        f"ppjoin_{n_docs}docs",
        lambda: ppjoin_pairs(docs, "doc_id", "text", 3, 0.5),
        results,
    )

    # Graph tier at a size where coalesce must be a no-op: ~n_docs*8
    # edges over n_docs nodes (well past 100k rows/partition per task).
    n_edges = n_docs * 8
    edges = spark.range(n_edges).select(
        (F.col("id") % n_docs).alias("id_a"),
        ((F.col("id") * 31 + 7) % n_docs).alias("id_b"),
    )
    from aos_spark.ops.graph import common_neighbor_scores, triangle_count

    timed(f"triangle_{n_edges}edges", triangle_count(edges), results)
    timed(
        f"linkpred_capped_{n_edges}edges",
        common_neighbor_scores(edges, topk=50, max_degree=64),
        results,
    )


def suite_megadoc(spark, size, results):
    from aos_spark.llm.setjoin import ppjoin_pairs

    # 50k ordinary docs + ONE size-M-token doc (~size M distinct 3-gram
    # shingles; at the default 3M, 3x the default 1M cap — truncation
    # must fire).
    n_small, mega_tokens = 50_000, int(size * 1_000_000)
    small = corpus(spark, n_small)
    mega = spark.range(1).select(
        F.lit(10_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(mega_tokens - 1)),
                lambda i: F.concat(F.lit("m"), i.cast("string")),
            ),
        ).alias("text"),
    )
    docs = materialize(spark, small.unionByName(mega), "megadoc")
    timed(
        f"ppjoin_megadoc_{mega_tokens}tok_default_heap",
        lambda: ppjoin_pairs(docs, "doc_id", "text", 3, 0.5),  # default cap
        results,
    )


def suite_doubling(spark, size, results):
    from aos_spark.llm import dedup
    from aos_spark.llm.setjoin import ppjoin_pairs

    n_docs = int(size * 1_000_000)
    docs = materialize(spark, corpus(spark, n_docs), "corpus_doubling")
    timed(
        f"ppjoin_{n_docs}docs",
        lambda: ppjoin_pairs(docs, "doc_id", "text", 3, 0.5),
        results,
    )

    # dup_clusters over an n_docs-node synthetic pair graph: chains of length
    # ~8 plus random cross links that glue chains into high-diameter
    # components — exactly the shape where O(diameter) propagation is the
    # wrong tool and the O(log n) star algorithm is the scale path.
    # PROPAGATE_ROUNDS = 0 sends the pairs straight to the star rounds.
    pairs = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("id_a"),
            F.when((F.col("id") % 8) < 7, F.col("id") + 1)
            .otherwise((F.col("id") * 37 + 11) % n_docs)
            .alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    dedup.PROPAGATE_ROUNDS = 0
    timed(f"dup_clusters_{n_docs}nodes_star", lambda: dedup.dup_clusters(pairs), results)


SUITES = {
    "core": (suite_core, 20.0),
    "stats": (suite_stats, 20.0),
    "setjoin": (suite_setjoin, 200.0),
    "megadoc": (suite_megadoc, 3.0),
    "doubling": (suite_doubling, 1.0),
}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in SUITES:
        raise SystemExit(__doc__)
    suite = sys.argv[1]
    run, default = SUITES[suite]
    size = float(sys.argv[2]) if len(sys.argv) > 2 else default
    spark = get_spark(f"scale-smoke-{suite}")
    results: dict[str, float] = {}
    run(spark, size, results)
    print(json.dumps({"suite": suite, "size": size, "timings": results}))


if __name__ == "__main__":
    main()
