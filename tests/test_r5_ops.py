"""Round-5 operators: span-level dedup, bloom semi-join, bigram rarity,
random projection, mixture planning."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from aos_spark.llm.dedup import span_dedup_retention
from aos_spark.llm.sampling import mixture_plan
from aos_spark.llm.similarity import projection_signs, random_project
from aos_spark.llm.text import bigram_rarity
from aos_spark.ops.bloom import (
    bloom_build,
    bloom_might_contain,
    bloom_semijoin,
)


# ---------------------------------------------------------------- span dedup
def test_span_dedup_repeated_span_is_dropped(spark):
    base = " ".join(f"w{i}" for i in range(20))  # exactly one span
    df = spark.createDataFrame(
        [
            (1, base + " " + " ".join(f"x{i}" for i in range(20))),
            (2, base),  # doc 2's only span duplicates doc 1's first span
            (3, "unique words only here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in span_dedup_retention(df, span=20).collect()
    }
    assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["n_spans"] == 1 and out[2]["n_kept"] == 0
    assert out[2]["kept_tokens"] == 0 and out[2]["retained_frac"] == 0.0
    assert out[3]["n_kept"] == 1 and out[3]["retained_frac"] == 1.0


def test_span_dedup_partial_tail_span_len(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(25)))], ["doc_id", "text"]
    )
    row = span_dedup_retention(df, span=20).collect()[0]
    assert row["n_tokens"] == 25
    assert row["n_spans"] == 2
    assert row["kept_tokens"] == 25  # 20 + 5-token tail


def test_span_dedup_empty_doc_excluded(spark):
    df = spark.createDataFrame([(1, "   "), (2, "a b")], ["doc_id", "text"])
    rows = span_dedup_retention(df, span=20).collect()
    assert [r["doc_id"] for r in rows] == [2]


# ---------------------------------------------------------------- bloom
def test_bloom_no_false_negatives(spark):
    build = spark.range(0, 200).withColumnRenamed("id", "k")
    bits = bloom_build(build, "k", m_bits=1 << 12, n_hashes=4)
    probe = spark.range(0, 200).select(
        bloom_might_contain(F.col("id"), bits).alias("hit")
    )
    assert probe.filter(~F.col("hit")).count() == 0


def test_bloom_prunes_most_non_members(spark):
    build = spark.range(0, 100).withColumnRenamed("id", "k")
    bits = bloom_build(build, "k", m_bits=1 << 14, n_hashes=4)
    misses = (
        spark.range(10_000, 20_000)
        .filter(bloom_might_contain(F.col("id"), bits))
        .count()
    )
    # fp rate at n=100, m=16384, k=4 is ~1e-6; allow slack
    assert misses < 50


def test_bloom_semijoin_matches_exact(spark):
    fact = spark.range(0, 1000).select(
        F.col("id").alias("fk"), (F.col("id") % 7).alias("grp")
    )
    build = spark.range(0, 1000, 3).select(F.col("id").alias("bk"))
    got = bloom_semijoin(fact, "fk", build, "bk", m_bits=1 << 12)
    expected = fact.join(
        build.withColumnRenamed("bk", "fk"), "fk", "left_semi"
    )
    assert got.count() == expected.count() == 334
    assert got.exceptAll(expected).count() == 0


# ---------------------------------------------------------------- bigram rarity
def test_bigram_rarity_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat"),  # bigrams: "the cat", "cat sat"
            (2, "the cat ran"),  # "the cat", "cat ran"
            (3, "the cat sat"),  # duplicates doc 1
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bigram_rarity(df, rare_max=2).collect()}
    # "the cat" freq 3 (common), "cat sat" freq 2 (rare), "cat ran" freq 1
    assert out[1]["n_bigrams"] == 2 and out[1]["n_rare"] == 1
    assert out[2]["n_rare"] == 1  # "cat ran"
    assert out[1]["rare_frac"] == 0.5


def test_bigram_rarity_short_docs_absent(spark):
    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words")], ["doc_id", "text"]
    )
    rows = bigram_rarity(df).collect()
    assert [r["doc_id"] for r in rows] == [2]


# ---------------------------------------------------------------- projection
def test_projection_signs_deterministic_pm1():
    a = projection_signs(16, 4, seed=5)
    b = projection_signs(16, 4, seed=5)
    assert a == b
    assert {v for row in a for v in row} <= {-1, 1}
    assert projection_signs(16, 4, seed=6) != a


def test_random_project_shape_and_scale(spark):
    dim = 16
    df = spark.createDataFrame(
        [(0, [1.0] * dim), (1, [0.0] * dim)], ["vec_id", "embedding"]
    )
    out = {
        r["vec_id"]: r
        for r in random_project(df, out_dim=4, dim=dim, seed=5).collect()
    }
    assert set(out[0].asDict()) == {"vec_id", "proj_0", "proj_1", "proj_2", "proj_3"}
    # all-ones vector: proj_j = (sum of signs)/sqrt(d) — integer/4
    signs = projection_signs(dim, 4, seed=5)
    for j in range(4):
        assert out[0][f"proj_{j}"] == pytest.approx(
            sum(signs[j]) / math.sqrt(dim), abs=1e-6
        )
        assert out[1][f"proj_{j}"] == 0.0


def test_random_project_preserves_norm_roughly(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
    proj = random_project(emb, out_dim=32, dim=64, seed=5)
    pnorm = proj.select(
        F.sqrt(sum(F.col(f"proj_{j}") ** 2 for j in range(32))).alias("pn"),
        "vec_id",
    )
    onorm = emb.select(
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") ** 2),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias("on"),
    )
    joined = pnorm.join(onorm, "vec_id").select(
        (F.col("pn") / F.col("on")).alias("ratio")
    )
    ratios = [r["ratio"] for r in joined.collect()]
    # JL: 32-of-64 sign projection keeps norms within a loose band
    assert all(0.4 < r < 1.8 for r in ratios)


# ---------------------------------------------------------------- mixture
def test_mixture_plan_rates(spark):
    df = spark.createDataFrame(
        [(i, "w " * 10, "en") for i in range(8)]
        + [(100 + i, "w " * 10, "fr") for i in range(2)],
        ["doc_id", "text", "lang"],
    )
    out = {
        r["domain"]: r
        for r in mixture_plan(
            df, {"en": 0.5, "fr": 0.5}, domain_col="lang"
        ).collect()
    }
    assert out["en"]["current_share"] == 0.8
    assert out["en"]["keep_rate"] == pytest.approx(0.5 / 0.8)
    assert out["fr"]["keep_rate"] == 1.0  # under-represented: never upsampled
    assert out["en"]["expected_tokens"] == math.floor(80 * 0.5 / 0.8)


def test_mixture_plan_missing_domain_gets_zero(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "d e f", "xx")], ["doc_id", "text", "lang"]
    )
    out = {
        r["domain"]: r
        for r in mixture_plan(df, {"en": 1.0}, domain_col="lang").collect()
    }
    assert out["xx"]["target_share"] == 0.0
    assert out["xx"]["keep_rate"] == 0.0
    assert out["xx"]["expected_tokens"] == 0


# ------------------------------------------------------- curation policies
def test_per_source_cap_bounds_kept(spark, sf_dir):
    from aos_spark.queries.sampling import q_per_source_cap

    rows = q_per_source_cap(spark, sf_dir).collect()
    assert rows, "expected at least one source"
    for r in rows:
        assert r["n_kept"] <= 15
        assert r["n_kept"] <= r["n_docs"]


def test_token_budget_selection_within_budget(spark, sf_dir):
    from aos_spark.queries.sampling import q_token_budget_selection

    for r in q_token_budget_selection(spark, sf_dir).collect():
        assert r["selected_tokens"] <= 2000
        assert r["n_selected"] >= 1


def test_quality_decile_shards_ordered(spark, sf_dir):
    from aos_spark.queries.sampling import q_quality_decile_shards

    rows = q_quality_decile_shards(spark, sf_dir).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, shard_rows in by_lang.items():
        shard_rows.sort(key=lambda r: r["decile"])
        # decile k's worst quality is >= decile k+1's best quality
        for a, b in zip(shard_rows, shard_rows[1:]):
            assert a["min_quality"] >= b["max_quality"] - 1e-9


# ------------------------------------------------------- two-level gap scan
def test_sequence_gaps_two_level_equals_naive(spark):
    from pyspark.sql import Window

    from aos_spark.ops.windows import sequence_gaps

    # ids with: intra-bucket gap (3..4 missing), cross-bucket gap spanning
    # two entirely-missing buckets (25..49 missing at bucket=10), and a
    # boundary-adjacent gap (60 present, 59 missing)
    present = [0, 1, 2, 5, 8, 9, 10, 11, 24, 50, 52, 58, 60, 61]
    df = spark.createDataFrame([(i,) for i in present], ["event_id"])
    got = {
        (r["gap_start"], r["gap_end"], r["gap_len"])
        for r in sequence_gaps(df, "event_id", bucket=10).collect()
    }
    w = Window.orderBy("event_id")
    naive = {
        (r["gs"], r["ge"], r["ge"] - r["gs"] + 1)
        for r in df.select(
            (F.lag("event_id").over(w) + 1).alias("gs"),
            (F.col("event_id") - 1).alias("ge"),
        )
        .filter(F.col("gs").isNotNull() & (F.col("ge") >= F.col("gs")))
        .collect()
    }
    assert got == naive
    assert (25, 49, 25) in got  # the multi-missing-bucket hole


def test_bloom_build_ignores_null_keys(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), True)])
    build = spark.createDataFrame([(1,), (None,), (2,)], schema)
    bits = bloom_build(build, "k", m_bits=1 << 10)
    probe = spark.createDataFrame([(1,), (2,), (999,)], schema).filter(
        bloom_might_contain(F.col("k"), bits)
    )
    assert {r["k"] for r in probe.collect()} >= {1, 2}


def test_bloom_empty_build_prunes_everything(spark):
    build = spark.range(0).withColumnRenamed("id", "k")
    bits = bloom_build(build, "k", m_bits=1 << 10)
    assert all(w == 0 for w in bits)
    assert spark.range(100).filter(
        bloom_might_contain(F.col("id"), bits)
    ).count() == 0


# ------------------------------------------------------- compression ratio
def test_compression_ratio_separates_repetitive_text(spark):
    import zlib

    from aos_spark.llm.text import compression_ratio

    rep = "spam " * 200
    prose = " ".join(f"word{i} mixes with token{i*7%13}" for i in range(100))
    df = spark.createDataFrame(
        [(1, rep), (2, prose), (3, None), (4, "")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["compression_ratio"] for r in compression_ratio(df).collect()}
    # deterministic: matches local zlib level 6 exactly
    raw = rep.encode()
    assert out[1] == len(zlib.compress(raw, 6)) / len(raw)
    assert out[1] < 0.1          # degenerate text crushes
    assert out[2] > out[1] * 3   # varied prose compresses far less
    assert out[3] is None and out[4] is None


# ------------------------------------------------------- empty-input safety
def test_r5_ops_empty_corpus(spark):
    from aos_spark.llm.text import compression_ratio

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert span_dedup_retention(empty).count() == 0
    assert bigram_rarity(empty).count() == 0
    assert compression_ratio(empty).count() == 0
    assert mixture_plan(empty, {"en": 1.0}, domain_col="lang").count() == 0


def test_sequence_gaps_empty_and_single(spark):
    from aos_spark.ops.windows import sequence_gaps

    empty = spark.createDataFrame([], "event_id long")
    assert sequence_gaps(empty).count() == 0
    one = spark.createDataFrame([(5,)], ["event_id"])
    assert sequence_gaps(one).count() == 0


def test_bloom_join_tier_matches_exact(spark):
    from aos_spark.ops.bloom import LITERAL_MAX_BITS

    fact = spark.range(0, 5000).select(F.col("id").alias("fk"))
    build = spark.range(0, 5000, 3).select(F.col("id").alias("bk"))
    m = LITERAL_MAX_BITS * 4  # force the broadcast-join tier
    got = bloom_semijoin(fact, "fk", build, "bk", m_bits=m)
    expected = fact.join(
        build.withColumnRenamed("bk", "fk"), "fk", "left_semi"
    )
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


# ------------------------------------------------------- semantic dedup
def test_semantic_dedup_drops_higher_id_near_dup(spark):
    from aos_spark.llm.dedup import semantic_dedup

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.99, 0.01, 0.0, 0.0]     # cosine ~1 with base
    far = [0.0, 0.0, 1.0, 0.0]        # orthogonal
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], ["vec_id", "embedding"]
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, threshold=0.9, n_clusters=1).collect()
    }
    assert out[0]["keep"] is True     # lowest id always survives
    assert out[1]["keep"] is False    # near-dup of a lower id
    assert out[2]["keep"] is True     # far vector untouched


def test_semantic_dedup_cross_cluster_pairs_never_compared(spark):
    from aos_spark.llm.dedup import semantic_dedup

    # vec 2 is a near-dup of vec 0, but with 2 clusters seeded by vecs
    # 0 and 1, vec 2 lands with vec 0 and IS dropped; vec 3 (near vec 1)
    # lands with vec 1 and is dropped there — each only compared within
    # its own cluster
    v0 = [1.0, 0.0]
    v1 = [0.0, 1.0]
    df = spark.createDataFrame(
        [(0, v0), (1, v1), (2, [0.999, 0.01]), (3, [0.01, 0.999])],
        ["vec_id", "embedding"],
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(df, threshold=0.9, n_clusters=2).collect()
    }
    assert out[2]["cluster_id"] == 0 and out[2]["keep"] is False
    assert out[3]["cluster_id"] == 1 and out[3]["keep"] is False
    assert out[0]["keep"] is True and out[1]["keep"] is True


# ------------------------------------------------------- shard writer
def test_write_training_shards_budget_and_manifest(spark, tmp_path):
    from aos_spark.io.writers import write_training_shards

    df = spark.createDataFrame(
        [(i, f"doc {i}", 10 + (i % 5)) for i in range(200)],
        ["doc_id", "text", "n_tokens"],
    )
    path = str(tmp_path / "shards")
    manifest = write_training_shards(df, path, tokens_per_shard=300).collect()
    assert sum(r["n_docs"] for r in manifest) == 200
    # budget: overshoot bounded by one document (max doc = 14 tokens)
    for r in manifest:
        assert r["n_tokens"] <= 300 + 14
    # round-trip: partition layout readable, doc set complete, and the
    # recomputed per-shard sums match the manifest
    back = spark.read.parquet(path.rstrip("/") + "/shard=*")
    assert back.count() == 200
    got = {
        r["shard"]: (r["n_docs"], r["n_tokens"])
        for r in spark.read.parquet(f"{path}/_manifest").collect()
    }
    assert got == {r["shard"]: (r["n_docs"], r["n_tokens"]) for r in manifest}


def test_write_training_shards_idempotent(spark, tmp_path):
    from aos_spark.io.writers import write_training_shards

    df = spark.createDataFrame(
        [(i, 7) for i in range(50)], ["doc_id", "n_tokens"]
    )
    path = str(tmp_path / "shards2")
    m1 = {r["shard"]: r["n_tokens"] for r in write_training_shards(df, path, 100).collect()}
    m2 = {r["shard"]: r["n_tokens"] for r in write_training_shards(df, path, 100).collect()}
    assert m1 == m2


def test_write_training_shards_snapshot_on_shrunken_rerun(spark, tmp_path):
    """A re-run over a smaller corpus must not leave stale trailing
    shard directories from the earlier, larger run (static-overwrite
    snapshot semantics)."""
    from aos_spark.io.writers import write_training_shards

    path = str(tmp_path / "shards3")
    big = spark.createDataFrame([(i, 50) for i in range(100)], ["doc_id", "n_tokens"])
    write_training_shards(big, path, tokens_per_shard=100)
    small = spark.createDataFrame([(i, 50) for i in range(10)], ["doc_id", "n_tokens"])
    manifest = write_training_shards(small, path, tokens_per_shard=100).collect()
    back = spark.read.parquet(path)
    assert back.count() == 10
    assert sum(r["n_docs"] for r in manifest) == 10
    assert {r["shard"] for r in back.select("shard").distinct().collect()} == {
        r["shard"] for r in manifest
    }


def test_sequence_gaps_extreme_long_range(spark):
    """r9 review: cross-bucket gap deltas overflowed long for ids
    spanning more than half the long range (missing the gap non-ANSI,
    throwing ANSI). Deltas now run in decimal(38,0); a gap longer than
    Long.MAX reports NULL gap_len (unrepresentable) with exact bounds."""
    from aos_spark.ops.windows import sequence_gaps

    lo, hi = -(2**63), 2**63 - 1
    df = spark.createDataFrame([(lo,), (hi,)], "event_id long")
    rows = sequence_gaps(df, "event_id", bucket=4096).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["gap_start"] == lo + 1 and r["gap_end"] == hi - 1
    assert r["gap_len"] is None  # 2^64 - 3 exceeds any BIGINT

    # a representable-but-huge gap still reports its exact length
    df2 = spark.createDataFrame([(0,), (2**62,)], "event_id long")
    r2 = sequence_gaps(df2, "event_id", bucket=4096).collect()[0]
    assert r2["gap_len"] == 2**62 - 1
