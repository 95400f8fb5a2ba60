"""Graph analytics over pair frames (the near-dup graphs the dedup tier
produces): triangle counting with degree orientation.

Degree orientation is the scale story (Suri & Vassilvitskii, "Counting
Triangles and the Curse of the Last Reducer", WWW'11): orienting every
edge from its lower-degree endpoint to its higher-degree endpoint bounds
any node's out-degree by O(√|E|), so the wedge self-join — the quadratic
step — fans out per node by out-degree², never by a hub's full degree².
A naive wedge join on a power-law dup graph (one boilerplate string
shared by a million docs) dies on the hub; the oriented join does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aos_spark.cache import persist_tracked
from aos_spark.ops.fixpoint import iterate

# edge-list rows per partition for count-adaptive coalesce: small enough
# that a partition's joins stay in memory, large enough that a tiny graph
# collapses to one task instead of 32 near-empty ones
_EDGE_ROWS_PER_PART = 100_000


def _sized(e: DataFrame, n: int) -> DataFrame:
    """Coalesce a MATERIALIZED (persisted + counted) edge list to
    ceil(n/100k) partitions. On a 12.5k-edge graph this turns every
    downstream stage from 32 scheduler-dominated tasks into 1 real one
    (orient step 2.1 s -> 0.5 s at sf0.1); on a billion-edge graph the
    target exceeds the current partition count and coalesce is a no-op.
    Runtime-count-driven, so correct at both extremes."""
    parts = max(1, -(-n // _EDGE_ROWS_PER_PART))
    return e.coalesce(parts)


def _canonical_edges(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """The undirected edge list (a < b; self-loops dropped, duplicates
    merged), persisted, materialized by a count and ``_sized`` by it."""
    e = persist_tracked(
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return _sized(e, e.count())


def triangle_count(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Count triangles in the undirected graph given by pair rows.
    Self-loops dropped, edges deduped canonically. Two joins: wedge
    generation over the DEGREE-ORIENTED edge list, then closure check
    against the canonical edge set. The edge frame feeds FIVE consumers
    (degree count twice via the union, orientation, both wedge sides,
    closure probe), and when ``pairs`` is itself an expensive pipeline
    (the near-dup bucket join), each consumer would re-run it — a plan
    audit showed 22 parquet scans and zero ReusedExchange without the
    persist, 4.7 s warm; persisting the (tiny, |E|-row) canonical edge
    list runs the pair pipeline once. The count() then MATERIALIZES the
    cache before downstream planning, so Catalyst sees the real
    InMemoryRelation size and join strategies follow the data: a
    broadcast-sized edge list broadcasts (measured 5.3 s -> 2.2 s warm
    at sf0.1), while an edge list past the broadcast threshold keeps
    sort-merge — the right call either way, decided by stats instead of
    guesswork. The count also right-sizes the edge list (``_sized``)."""
    e = _canonical_edges(pairs, a_col, b_col)
    deg = (
        e.select(F.col("a").alias("n")).union(e.select("b"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("__da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("__db"))
    # orient low-(degree, id) -> high-(degree, id); total order breaks ties
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    w1 = o.select(F.col("src"), F.col("dst").alias("x"))
    w2 = o.select(F.col("src"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "src").filter(F.col("x") < F.col("y"))
    closure = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    return wedges.join(closure, ["x", "y"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def pagerank_step(
    edges: DataFrame, src: str = "src", dst: str = "dst", damping: float = 0.85
) -> DataFrame:
    """One PageRank power iteration from the uniform unnormalized start
    (r₀ = 1 per node), made ORDER-INDEPENDENT by integer micro-unit
    arithmetic: each edge's contribution is ``round(10¹²/outdeg)`` as a
    BIGINT, summed exactly, and only the final rank derivation touches
    floating point (int64→double conversion is IEEE round-to-nearest —
    deterministic in every engine at any magnitude, unlike a float SUM,
    whose result depends on partial-aggregation order).

    rank(v) = (1−d) + d · Σ_{u→v} round(10¹²/outdeg(u)) / 10¹²

    Every node must have outdeg ≥ 1 (no dangling handling here — feed a
    bidirectional edge list, as the gate query does with the
    buyer-supplier graph, or add self-loops). The full algorithm is
    ``pagerank`` below, fixed rounds on ops/fixpoint.iterate; one step is
    the gate-verified unit (the kmeans_lloyd_step precedent).

    Physical shape: outdeg agg (src-keyed X) → contribution join on the
    SAME src partitioning → dst-keyed rank agg (map-side combined) → a
    node-keyed join attaching outdeg. All shuffles keyed; nothing
    quadratic, nothing partition-less.
    """
    outdeg = edges.groupBy(F.col(src).alias("__s")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    contrib = edges.join(
        outdeg, edges[src] == F.col("__s")
    ).select(
        F.col(dst).alias("__d"),
        F.round(F.lit(1e12) / F.col("out_degree"), 0)
        .cast("long")
        .alias("__c"),
    )
    ranks = contrib.groupBy("__d").agg(
        F.count(F.lit(1)).alias("__in_edges"),
        F.sum("__c").alias("__sum"),
    )
    # LEFT join from the node universe (= sources, which the outdeg ≥ 1
    # precondition makes complete): a zero-IN-degree node still exists and
    # holds the teleport mass (1−d) — an inner join would silently drop it
    # (review catch).
    return outdeg.join(ranks, outdeg["__s"] == ranks["__d"], "left").select(
        F.col("__s").alias("node"),
        "out_degree",
        F.coalesce(F.col("__in_edges"), F.lit(0)).alias("in_edges"),
        F.round(
            F.lit(1.0 - damping)
            + F.lit(damping)
            * (F.coalesce(F.col("__sum"), F.lit(0)) / F.lit(1e12)),
            6,
        ).alias("rank"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
) -> DataFrame:
    """Full PageRank power iteration: ``iterations`` rounds of the
    micro-unit step with ranks carried as BIGINT micro-units end to end,
    so every iteration is partitioning-independent and the composition is
    too (no float accumulation ever crosses a shuffle). The rounds run on
    ops/fixpoint.iterate (a local checkpoint per round); each round is
    one src-keyed contribution join + one dst-keyed aggregate.

    rank_{t+1}(v) = (1−d)·10¹² + d-weighted Σ round(rank_t(u)/outdeg(u))
    (the damping multiply is applied per-edge on exact integers:
    ``round(d · contrib)``), starting from rank_0 = 10¹² per node.

    Returns (node, rank) with rank scaled back to doubles (rank mass ≈ 1
    per node, the unnormalized convention of pagerank_step). Requires
    outdeg ≥ 1 for every node (bidirectional edge lists).
    """
    e = persist_tracked(edges.select(F.col(src).alias("s"), F.col(dst).alias("d")))
    outdeg = persist_tracked(e.groupBy("s").agg(F.count(F.lit(1)).alias("od")))
    teleport = F.lit(int(round((1.0 - damping) * 10**12)))
    c = F.round(F.lit(damping) * F.round(F.col("r") / F.col("od"), 0), 0).cast("long")

    def step(ranks: DataFrame) -> DataFrame:
        contrib = e.join(ranks, "s").join(outdeg, "s").select(F.col("d"), c.alias("c"))
        # LEFT from the node universe: a node nobody links to keeps the
        # teleport mass and keeps CONTRIBUTING on its out-edges next round
        # — the inner-join form silently dropped it after round 1 and
        # lost its recurring contributions (review catch)
        incoming = contrib.groupBy(F.col("d").alias("s")).agg(F.sum("c").alias("__in"))
        return (
            outdeg.select("s")
            .join(incoming, "s", "left")
            .select("s", (teleport + F.coalesce(F.col("__in"), F.lit(0))).alias("r"))
        )

    # nodes = sources, each starting at rank 1 (10¹² micro-units)
    ranks, _ = iterate(outdeg.select("s", F.lit(10**12).alias("r")), step, iterations)
    return ranks.select(
        F.col("s").alias("node"),
        F.round(F.col("r") / F.lit(1e12), 6).alias("rank"),
    )


def common_neighbor_scores(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    topk: int = 50,
    max_degree: int | None = None,
) -> DataFrame:
    """Link prediction by common-neighbor Jaccard: for every NON-edge
    vertex pair that shares ≥1 neighbor, score = |N(a)∩N(b)| /
    |N(a)∪N(b)| — one exact-integer division over BIGINT counts.

    Plan: canonicalize + persist the edge list (the triangle_count
    lesson: the pair pipeline feeds the wedge join, both degree sides and
    the existing-edge anti-join); wedges come from the center-keyed
    neighbor self-join — fan-out Σdeg(v)², the triangle envelope;
    degree frames join on the candidate keys; the final top-k is a
    TakeOrdered, never a global sort.

    ``max_degree`` is the hub cap (the max_shingle_df precedent,
    llm/dedup.py): on a power-law graph one hub of degree d contributes
    d² wedge rows, quadratic and unbounded; with the cap, vertices whose
    degree exceeds it are excluded AS WEDGE CENTERS (the hub set is the
    power-law head — tiny, so it broadcasts into an anti-join). Effect on
    results: common_n can only be UNDERcounted (pairs linked only through
    mega-hubs score lower or vanish — usually the desired semantics,
    since sharing a celebrity neighbor is weak evidence); the Jaccard
    denominator still uses FULL degrees, so admitted scores are never
    inflated. None disables (exact)."""
    # materialized + right-sized as in triangle_count: this operator
    # chains SIX joins over the cached edge list
    e = _canonical_edges(pairs, a_col, b_col)
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    centers = und
    if max_degree is not None:
        hubs = deg.filter(F.col("deg") > max_degree).select("a")
        centers = und.join(F.broadcast(hubs), "a", "left_anti")
    n1 = centers.select(F.col("a").alias("c"), F.col("b").alias("x"))
    n2 = centers.select(F.col("a").alias("c"), F.col("b").alias("y"))
    wedges = (
        n1.join(n2, "c")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common_n"))
    )
    cand = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    dx = deg.select(F.col("a").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("a").alias("y"), F.col("deg").alias("deg_y"))
    scored = (
        cand.join(dx, "x")
        .join(dy, "y")
        .select(
            F.col("x").alias("node_a"),
            F.col("y").alias("node_b"),
            "common_n",
            "deg_x",
            "deg_y",
            F.round(
                F.col("common_n").cast("double")
                / (F.col("deg_x") + F.col("deg_y") - F.col("common_n")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("node_a"), F.col("node_b")
    ).limit(topk)
