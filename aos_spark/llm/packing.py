"""Context-window packing: assign documents to fixed-capacity training
chunks (the concat-then-chunk step of LLM pretraining data prep).

Packing is inherently sequential — each document's chunk depends on the
running token total before it — so a naive global implementation is a
partition-less window that funnels the whole corpus through one task.
The scale design here is SHARDED packing: documents are hash-bucketed
into ``n_shards`` independent streams, each stream packs with a window
PARTITIONED by shard (parallel, one shuffle), and a chunk is identified
by (shard, chunk_in_shard). Chunk boundaries split documents exactly as
plain concat-then-chunk does within a shard; determinism comes from the
md5 shard hash and the doc-id ordering inside each shard.

Every step is integer arithmetic on token counts — bit-identical in any
engine — so the whole layout is reproducible by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aos_spark.llm.dedup import tokens
from aos_spark.llm.sampling import hash_bucket
from aos_spark.llm.text import bpe_ish_token_count


def pack_into_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    capacity: int = 512,
    n_shards: int = 8,
    token_count_col: Column | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, shard, chunk_in_shard, tok_start, tok_end) —
    where ``tok_start`` is the document's offset in its shard's
    concatenated token stream and ``chunk_in_shard`` = tok_start div
    capacity (the chunk its FIRST token lands in; documents may straddle
    a boundary, exactly like concat-then-chunk pretraining layouts).

    One shuffle (the per-shard window); shard count bounds the
    sequential-scan length per task, so pick n_shards ≈ corpus_tokens /
    (a few hundred M) at scale."""
    n_tokens = (
        token_count_col if token_count_col is not None else bpe_ish_token_count()
    )
    base = df.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        hash_bucket(id_col, n_shards, "pack").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    offsets = base.select(
        id_col,
        "n_tokens",
        "shard",
        (cum - F.col("n_tokens")).alias("tok_start"),
        cum.alias("tok_end"),
    )
    # exact integer division — a double divide drifts past 2^53 tokens/shard
    return offsets.withColumn(
        "chunk_in_shard", F.expr(f"tok_start div {capacity}")
    ).select(id_col, "n_tokens", "shard", "chunk_in_shard", "tok_start", "tok_end")


def sliding_window_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """RAG-style sliding-window chunking: each document becomes overlapping
    token windows of ``window_tokens`` advancing by ``stride`` (overlap =
    window − stride). One row per chunk with its token span and re-joined
    text.

    Scale shape: tokens materialize once per document (single projection),
    chunk starts come from a distributed ``sequence``+``explode`` — a
    per-document fan-out, no shuffle at all until a consumer aggregates.
    Short documents yield exactly one (possibly partial) chunk, so no text
    is ever dropped. All-integer start/len arithmetic — the layout is
    reproducible in any engine.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__tokens")
    ).withColumn("n_tokens", F.size("__tokens"))
    # last start s.t. start < n and (start==0 or start+window covers new):
    # starts = 0, stride, 2·stride, …, ≤ max(0, n − window) rounded UP to
    # the next stride step so the tail is covered by one final chunk
    n_starts = F.when(
        F.col("n_tokens") <= window_tokens, F.lit(0)
    ).otherwise(
        F.ceil(
            (F.col("n_tokens") - F.lit(window_tokens)).cast("double")
            / F.lit(stride)
        ).cast("int")
    )
    chunks = toks.select(
        "doc_id",
        "n_tokens",
        "__tokens",
        F.explode(F.sequence(F.lit(0), n_starts)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride
    clen = F.least(F.lit(window_tokens), F.col("n_tokens") - start)
    return (
        chunks.withColumn("tok_start", start)
        .withColumn("tok_len", clen)
        .filter((F.col("tok_len") > 0) | (F.col("n_tokens") == 0))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("tok_start").cast("int").alias("tok_start"),
            F.greatest(F.col("tok_len"), F.lit(0)).cast("int").alias("tok_len"),
            F.array_join(
                F.slice("__tokens", F.col("tok_start") + 1, F.greatest(clen, F.lit(0))),
                " ",
            ).alias("chunk_text"),
        )
    )


def bucketed_token_offsets(
    df: DataFrame,
    id_col: str,
    n_buckets: int,
    salt: str,
    token_count_col: Column | None = None,
) -> DataFrame:
    """The shared bucket-stream mechanism behind pack_into_chunks and
    io.writers.write_training_shards: md5 hash-bucket each row into one
    of ``n_buckets`` independent streams, then a bucket-PARTITIONED
    cumulative token sum ordered by id. Returns the input columns plus
    (__bucket, __tok_start, __tok_end) — integer arithmetic end-to-end
    (exact past 2^53 tokens/stream, unlike a double divide), one shuffle.
    """
    n_tokens = (
        token_count_col
        if token_count_col is not None
        else F.col("n_tokens")
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = df.withColumn(
        "__bucket", hash_bucket(id_col, n_buckets, salt)
    ).withColumn("__n_tok", n_tokens.cast("long"))
    cum = F.sum("__n_tok").over(w)
    return (
        base.withColumn("__tok_end", cum)
        .withColumn("__tok_start", F.col("__tok_end") - F.col("__n_tok"))
        .drop("__n_tok")
    )
