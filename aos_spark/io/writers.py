"""Partitioned sinks + filename-compatible export (S10, S11, F9).

The reference writes one file per composite key
``{country}_{storm}_{date}_{wind}_{zoom|adminN}`` (FILE_STRUCTURE.md:279-302)
and deletes stale outputs by filename prefix before rewriting
(impact_analysis.py:2790-2805). The engine-native layout replaces both:
one dataset per view family, partitioned by the key columns, written with
dynamic partition overwrite (idempotent per (storm, forecast) re-runs leave
no stale partitions). ``export_filename_compat`` provides the byte-layout
bridge for downstream consumers that expect the reference's file naming.
"""

from __future__ import annotations

import functools
import os
import threading
from collections.abc import Sequence
from concurrent.futures import Future

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aos_spark.fanout import run_all

VIEW_PARTITION_COLS = ["country", "track_id", "forecast_compact", "wind_threshold"]


def write_view(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Partitioned, dynamically-overwritten write — the idiomatic replacement
    for the reference's prefix-delete + rewrite (F9). Requires
    spark.sql.sources.partitionOverwriteMode=dynamic (set in session.py)."""
    cols = partition_cols if partition_cols is not None else VIEW_PARTITION_COLS
    cols = [c for c in cols if c in df.columns]
    writer = df.write.mode("overwrite").format(fmt)
    if cols:
        writer = writer.partitionBy(*cols)
    writer.save(path)


def materialize(df: DataFrame) -> None:
    """Build the cache of a persisted frame: one job over the cached
    relation's column buffers, after the jobs of the frame's own
    exchanges. A later query over the frame finds the cache loaded and
    submits no cache-building job of its own; ``count()`` would add an
    aggregate exchange and a result job on top."""
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    cached = cache.lookupCachedData(df._jdf)
    if cached.isEmpty():
        raise ValueError("materialize: the frame is not persisted")
    cached.get().cachedRepresentation().cacheBuilder().cachedColumnBuffers().count()


def write_views(views: Sequence[tuple]) -> None:
    """Write independent views concurrently: each ``(df, path,
    partition_cols[, reads])`` goes to :func:`write_view` on its own
    driver thread. ``reads`` lists the persisted frames the view reads,
    ancestors first; the thread makes sure each one is built before it
    writes. The first thread that needs a frame builds it
    (:func:`materialize`), and a thread that needs it meanwhile waits for
    that build: a query over a cache that is not yet built submits its
    own cache-building job, so concurrent readers would each build it.
    A failed build fails every view that reads the frame. Returns once
    every write has returned; then raises the first failure in input
    order."""
    if not views:
        return
    builds: dict[int, Future] = {}
    lock = threading.Lock()

    def built(frame: DataFrame) -> None:
        with lock:
            build = builds.get(id(frame))
            mine = build is None
            if mine:
                build = builds[id(frame)] = Future()
        if mine:
            try:
                materialize(frame)
                build.set_result(None)
            except BaseException as e:
                build.set_exception(e)
        build.result()

    def write(df, path, cols, reads=()) -> None:
        for frame in reads:
            built(frame)
        write_view(df, path, partition_cols=cols)

    spark = views[0][0].sparkSession
    run_all(spark, [functools.partial(write, *v) for v in views])


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table for co-located joins: two tables bucketed on
    their join key with the same bucket count join WITHOUT an exchange —
    the shuffle is paid once at write time instead of per query. This is
    the 100 TB answer for the repeatedly-joined fact tables (tiles × admin
    assignment, lineitem × orders): `tests/test_bucketing.py` asserts the
    exchange-free plan."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_range_clustered(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 32,
    max_records_per_file: int | None = None,
) -> None:
    """Range-clustered layout: repartitionByRange on the sort key +
    sortWithinPartitions + write. Every output file then covers a DISJOINT
    key range, so parquet min/max statistics prune file scans for range
    predicates on those columns — the layout answer to both the
    small-files problem (n_files bounds the count) and full-scan range
    queries. ``maxRecordsPerFile`` caps file size when partitions are
    still too big (Spark splits them without breaking the sort)."""
    w = (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .format("parquet")
    )
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.save(path)


def compact_dataset(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(total_bytes / target) files (optionally re-sorted for min/max
    pruning). Returns the file count written. The streaming sinks and
    per-micro-batch writes that accumulate thousands of small files are
    the 100 TB motivation — run this as the maintenance job.

    The swap is rename-aside: write to tmp, rename live → .__old__,
    rename tmp → live, delete old. Both renames are single directory
    operations, so a crash at any point leaves a complete dataset on
    disk at either ``path`` or ``path.__old__`` — never a half-deleted
    one (the earlier rmtree-then-rename had a window with no dataset at
    ``path`` at all).

    LOCAL-FILESYSTEM ONLY: this intentionally uses os.rename/os.listdir,
    which do not speak s3:// /hdfs:// URIs. On object stores, run the
    equivalent via the Hadoop FileSystem API or a table format's rewrite
    (rename is not atomic on S3 anyway — a copy-manifest commit is the
    right primitive there); the guard below makes the misuse loud."""
    import math
    import shutil

    if "://" in path and not path.startswith("file://"):
        raise ValueError(
            f"compact_dataset is local-filesystem-only (got {path!r}); "
            "use a Hadoop-FileSystem or table-format rewrite for object stores"
        )
    path = path.removeprefix("file://")

    fs_files = [
        f for f in os.listdir(path) if f.startswith("part-") or f.endswith(".parquet")
    ]
    if not fs_files:
        # Hive-partitioned layouts (write_view output: country=XX/part-*)
        # have no top-level data files — total would read 0, the rewrite
        # would funnel the whole dataset through ONE task, and the
        # partition directory layout (and its pruning) would silently
        # flatten away (r9 review). Loud, like the URI guard above.
        subdirs = [
            d for d in os.listdir(path)
            if os.path.isdir(os.path.join(path, d)) and "=" in d
        ]
        raise ValueError(
            f"compact_dataset: no top-level data files at {path!r}"
            + (
                f" — dataset is Hive-partitioned ({subdirs[:3]}...); "
                "compact each partition directory individually to keep "
                "the layout (and its partition pruning) intact"
                if subdirs
                else " — nothing to compact"
            )
        )
    total = sum(os.path.getsize(os.path.join(path, f)) for f in fs_files)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".__compact_tmp__"
    old = path.rstrip("/") + ".__old__"
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.coalesce(n_files)
    out.write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):  # leftover from a previous crashed swap
        shutil.rmtree(old)
    os.rename(path.rstrip("/"), old)
    os.rename(tmp, path.rstrip("/"))
    shutil.rmtree(old)
    return len(
        [f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")]
    )


GEOSIGHT_DEDUP_KEY = ["storm", "forecast_time", "wind_threshold", "geom_id"]

# metric allow-list mirrors geosight/admin_related_table.py:36-49 — columns
# outside it never leave the engine
GEOSIGHT_ALLOWED_METRICS = [
    "E_population",
    "E_built_surface",
    "E_rwi",
    "probability",
]


def export_geosight_rows(
    df: DataFrame,
    send_batch,
    batch_size: int = 500,
) -> None:
    """S22: GeoSight related-table export — dedup on the 4-tuple natural key
    (geosight/admin_related_table.py:26-49), project to the metric
    allow-list, then push via foreachPartition so each executor ships its
    own batches (no driver collect; REST fan-out scales with partitions).

    ``send_batch(rows: list[dict]) -> None`` is the transport callback (the
    HTTP client in production, a recorder in tests).
    """
    keep = GEOSIGHT_DEDUP_KEY + [
        c for c in GEOSIGHT_ALLOWED_METRICS if c in df.columns
    ]
    deduped = df.select(*keep).dropDuplicates(GEOSIGHT_DEDUP_KEY)

    def _part(rows) -> None:
        batch = []
        for r in rows:
            batch.append(r.asDict())
            if len(batch) >= batch_size:
                send_batch(batch)
                batch = []
        if batch:
            send_batch(batch)

    deduped.foreachPartition(_part)


def export_filename_compat(
    df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    *,
    fmt: str = "csv",
) -> list[str]:
    """One single-part dataset DIRECTORY per composite key, named
    ``{key1}_{key2}_...`` and containing exactly one ``part-*.{ext}``
    data file (FILE_STRUCTURE.md naming parity at the part-file level —
    consumers that need a bare ``name.ext`` file rename that single part;
    a directory write keeps the executor-side single-partition write
    atomic-per-key). Keys are collected on the driver — the key space is
    small by construction (countries × storms × thresholds); the per-key
    data is written by executors via coalesced single-partition writes.
    Only for the export boundary; engine-internal data stays partitioned.
    Key VALUES containing the separator can collide (('a_b','c') and
    ('a','b_c') both name 'a_b_c'): the reference's key domains (ISO
    codes, storm ids, integer thresholds) cannot contain '_', so a
    collision means non-reference keys — guarded loud below."""
    os.makedirs(out_dir, exist_ok=True)
    # persist: the loop filters the SAME input once per key (plus the
    # distinct) — unpersisted, each iteration re-ran the full lineage
    # (201 source scans for 200 keys — r9 review). Self-managed (not
    # persist_tracked): every consumer completes inside this function,
    # so the cache is released before returning.
    df = df.persist()
    try:
        keys = [tuple(r) for r in df.select(*key_cols).distinct().collect()]
        names = ["_".join(str(v) for v in key) for key in keys]
        if len(set(names)) != len(names):
            raise ValueError(
                "export_filename_compat: key values collide under the '_' "
                "separator; rename the offending keys or export them separately"
            )
        written = []
        for key, name in zip(keys, names):
            sub = df
            for col, val in zip(key_cols, key):
                # null-safe: a NULL key value must select ITS rows, not none
                sub = sub.filter(sub[col].eqNullSafe(F.lit(val)))
            target = os.path.join(out_dir, name)
            sub = sub.drop(*key_cols).coalesce(1)
            if fmt == "csv":
                sub.write.mode("overwrite").option("header", "true").csv(target)
            else:
                sub.write.mode("overwrite").parquet(target)
            written.append(target)
        return written
    finally:
        df.unpersist()


def write_training_shards(
    df,
    path: str,
    tokens_per_shard: int = 100_000,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    n_buckets: int = 8,
):
    """Write a curated corpus as token-budgeted TRAINING SHARDS — the
    final hop of the dedup→filter→pack pipeline, producing the partition
    layout a trainer's data loader consumes (one directory per shard,
    each holding ~``tokens_per_shard`` tokens).

    Shard ids are two-level and fully deterministic: an md5 hash bucket
    (llm.sampling.hash_bucket — reproducible, never RNG) spreads
    documents across ``n_buckets`` independent streams, and a
    bucket-partitioned cumulative token sum (the SHARED mechanism
    llm.packing.bucketed_token_offsets — one algorithm, two callers)
    splits each stream every ``tokens_per_shard`` tokens — shard =
    bucket·2^40 + slice, collision-free for any realistic setting (a
    bucket would need 2^40 slices to wrap). No global sort; n_buckets
    bounds the per-task sequential scan, so pick n_buckets ≈
    corpus_tokens / (a few hundred M) at scale. A shard may overshoot
    its budget by at most one document (documents are never split).
    Any pre-existing ``shard`` column on the input (e.g. from
    pack_into_chunks, which salts differently) is REPLACED.

    The write is a full SNAPSHOT: static partition overwrite (forced
    per-write, overriding the session's dynamic mode) truncates the
    whole path first, so a re-run over a SHRUNKEN corpus cannot leave
    stale trailing shard directories disagreeing with the manifest.
    Returns the per-shard manifest (shard, n_docs, n_tokens), also
    written to ``<path>/_manifest``; both the data write and the
    manifest read the SAME persisted frame, so the expensive
    bucket+window pass runs once and the manifest always describes the
    files actually written."""
    from aos_spark.llm.packing import bucketed_token_offsets

    sharded = bucketed_token_offsets(
        df,
        id_col,
        n_buckets,
        "shard",
        token_count_col=F.col(token_count_col),
    )
    # a document's shard is decided by its FIRST token's offset
    sharded = (
        sharded.withColumn(
            "shard",
            F.col("__bucket").cast("long") * (1 << 40)
            + F.expr(f"__tok_start div {tokens_per_shard}"),
        )
        .drop("__bucket", "__tok_start", "__tok_end")
        .persist()
    )
    try:
        (
            sharded.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("shard")
            .parquet(path)
        )
        manifest = (
            sharded.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col(token_count_col).cast("long")).alias("n_tokens"),
            )
            .orderBy("shard")
        )
        manifest.write.mode("overwrite").parquet(f"{path}/_manifest")
        # materialize the return value off the cache before releasing it
        rows = manifest.collect()
    finally:
        sharded.unpersist()
    spark = df.sparkSession
    return spark.createDataFrame(rows, manifest.schema)
