"""SparkSession factory.

One place for every engine-level config so local tests and cluster runs
share the same semantics. Defaults target correctness-critical settings
(UTC session timezone, ANSI off to match reference NaN-tolerant math) and
scale-critical settings (AQE with skew handling, dynamic partition
overwrite replacing the reference's prefix-delete idiom,
impact_analysis.py:2790-2805).

Case mapping: ``lower``/``upper`` use the JVM's ``String`` case mapping
(``spark.sql.icu.caseMappings.enabled=false``) instead of ICU. The first
ICU-backed ``lower()`` in a JVM runs ICU's class initialization, about
1.9 s of one-time work that every fresh CLI process paid on the shingle
tokenizer's first stage; per-row cost is the same either way (ASCII
strings take a fast path in both). The two mappings differ only on 67
code points each way, all Unicode 14-16 additions, none of which maps
into ``[a-z0-9]``, so the one tokenizer, ``llm/dedup.tokens``, emits the
same tokens under both. The JVM mapping follows the default locale, and Java applies
locale-specific rules only for Turkish, Azerbaijani and Lithuanian
(dotted/dotless i), so ``get_spark`` refuses a driver JVM whose default
locale is one of those (:func:`check_case_locale`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def check_case_locale(language: str) -> None:
    """Raise if the JVM's default locale LANGUAGE would change what
    ``lower``/``upper`` return under the JVM case mapping: the only
    languages with their own ``java.lang.String`` case rules are tr, az
    and lt (the dotted/dotless i family)."""
    if language.lower() in ("tr", "az", "lt"):
        raise RuntimeError(
            f"driver JVM default locale language is {language!r}: Java applies "
            "locale-specific case rules for tr/az/lt, so lower()/upper() would "
            "not match the engine's tokenizers; start the JVM with "
            "-Duser.language=en (or any other language)"
        )


def local_cores(env_cpus: str | None, cpu_count: int | None) -> int:
    """Cores of the default local master: ``SPARK_GRAFT_CPUS`` when set
    (``env_cpus``), else the host's ``os.cpu_count()`` (4 when unknown).
    The one source for the master, the shuffle partition count and the
    scan split floor, so they cannot disagree."""
    if env_cpus:
        n = int(env_cpus)
        if n < 1:
            raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {env_cpus!r}")
        return n
    return cpu_count or 4


def get_spark(
    app_name: str = "aos_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local mode sizes shuffle partitions and the scan split floor to the
    core count (:func:`local_cores`); on a real cluster leave
    ``shuffle_partitions`` None and let AQE coalesce from an
    intentionally-high initial number.
    """
    cores = local_cores(os.environ.get("SPARK_GRAFT_CPUS"), os.cpu_count())
    if master is None:
        master = f"local[{cores}]"
    is_local = master.startswith("local")
    parallelism = cores if is_local else 2000
    if shuffle_partitions is None:
        shuffle_partitions = parallelism

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # split even a single small parquet file across the cluster: the
        # driver test tables are one file each, and a 1-partition scan
        # serializes every downstream codegen stage onto one core
        .config("spark.sql.files.minPartitionNum", str(parallelism))
        # reference math is NaN-propagating pandas; ANSI would raise instead
        .config("spark.sql.ansi.enabled", "false")
        # AQE coalesces post-shuffle partitions by BYTES, but the LLM-tier
        # verify stages (exact-cosine / shingle-intersection checks after
        # banding) carry ~100-300 bytes/row of keys+vectors while costing
        # ~6 µs/candidate of compute, so the default 1 MB floor collapses a
        # multi-second stage onto one core (measured: the embedding
        # near-dup verify join, 609 KB post-shuffle, ran 1 task at 0.79 s
        # warm; with a 64 KB floor it spreads to ~10 tasks, 0.48 s). The
        # floor only matters for exchanges under cores×1 MB — at cluster
        # scale target size is bytes/parallelism and this setting is inert,
        # so it is scale-neutral, not a local[32] tune. Env-overridable for
        # deployments whose scheduler overhead dominates tiny tasks.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("AOS_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        # envelopes / admin dims / quadkey covers are all broadcast-size
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # JVM case mapping, not ICU's (module docstring): same tokens,
        # without ICU's ~1.9 s first-use init in every fresh JVM
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("AOS_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    check_case_locale(spark.sparkContext._jvm.java.util.Locale.getDefault().getLanguage())  # noqa: SLF001
    return spark
