"""Media feature queries over llm/multimodal: binary image,
audio and video payloads go through Arrow-batched mapInPandas kernels,
and the oracle recomputes each feature in closed form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from aos_spark.io.readers import read_sf_table
from aos_spark.llm import multimodal as MM
from aos_spark.llm.multimodal import (
    audio_int_features,
    synth_avi_dib,
    synth_wav_pcm16,
    video_int_features,
)
from aos_spark.registry import register


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the DRIVER GATE: binary payload column →
    Arrow-batched mapInPandas feature extraction (deterministic fake decode
    kernel — the real decoder is a stubbed import, aos_spark/llm/multimodal.py).
    The oracle reproduces the fake kernel (md5-derived features), proving the
    batch plumbing end-to-end, not just in unit tests."""
    d = read_sf_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("image/fake").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("double").alias("duration_s"),
    )
    return MM.extract_image_features(media, fake=True)


ORACLE_MULTIMODAL = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
       CAST('0x' || substring(md5(COALESCE(text, '')), 1, 2) AS INT) / 255.0 AS mean_luma,
       substring(md5(COALESCE(text, '')), 1, 16) AS phash
FROM documents
"""
register("multimodal_image_features", q_multimodal_features, ORACLE_MULTIMODAL)


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
    @pandas_udf("binary")
    def wav_bytes(mid):
        return mid.map(lambda m: synth_wav_pcm16(int(m)))

    d = read_sf_table(spark, sf_dir, "documents")
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
    @pandas_udf("binary")
    def avi_bytes(mid):
        return mid.map(lambda m: synth_avi_dib(int(m)))

    d = read_sf_table(spark, sf_dir, "documents")
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
