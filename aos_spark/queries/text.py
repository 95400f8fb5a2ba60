"""Text queries over llm/text: tokens, quality and language
signals, PII scrubbing, fingerprints, BPE, tf-idf, BM25, vocabularies,
postings, co-occurrence, feature hashing, n-gram novelty, lexical
diversity and label agreement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aos_spark.cache import persist_tracked
from aos_spark.io.readers import read_sf_table
from aos_spark.llm import dedup as D
from aos_spark.llm import text as TX
from aos_spark.llm.dedup import ensure_min_partitions, shingles_from_tokens, tokens
from aos_spark.llm.sampling import hash_bucket
from aos_spark.llm.text import winnow_fingerprints
from aos_spark.ops.exact_round import round_ratio6, round_ratio6_micro
from aos_spark.ops.topk import topk_global
from aos_spark.registry import register


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_sf_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", TX.token_count().alias("n_tokens"))


ORACLE_TOKENS = r"""
SELECT doc_id, lang,
       CAST(CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_tokens
FROM documents
"""
register("text_token_count", q_text_tokens, ORACLE_TOKENS)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_sf_table(spark, sf_dir, "documents")
    out = TX.quality_features(d)
    out = out.withColumn("quality", TX.quality_score())
    return out.select(
        "doc_id", "n_tokens", "alpha_ratio", "punct_ratio", "stopword_ratio", "quality"
    )


ORACLE_QUALITY = r"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^.,;:!?''"()\[\]]', '', 'g')) AS n_punct,
         CAST(CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
         -- greatest/coalesce: NULL text must read 0 hits, mirroring
         -- marker_hits' r9 guard (non-null text always yields len >= 1)
         GREATEST(COALESCE(len(string_split_regex(lower(text), '\b(and|is|of|the|to)\b')) - 1, 0), 0) AS stop_hits
  FROM documents
),
ratios AS (
  SELECT doc_id, n_tokens,
         CAST((CAST(n_alpha AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_chars, 1) AS HUGEINT)) // (CAST(GREATEST(n_chars, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS alpha_ratio,
         CAST((CAST(n_punct AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_chars, 1) AS HUGEINT)) // (CAST(GREATEST(n_chars, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS punct_ratio,
         CAST((CAST(stop_hits AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_tokens, 1) AS HUGEINT)) // (CAST(GREATEST(n_tokens, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS stopword_ratio
  FROM feats
)
SELECT doc_id, n_tokens, alpha_ratio, punct_ratio, stopword_ratio,
       ROUND((CASE WHEN punct_ratio > 0.3 THEN 0.5 ELSE 1.0 END *
             (0.4 * LEAST(stopword_ratio * 4, 1.0)
              + 0.4 * alpha_ratio
              + 0.2 * LEAST(n_tokens / 100.0, 1.0))) * 1000000.0, 0) / 1000000.0 AS quality
FROM ratios
"""
register("text_quality_score", q_text_quality, ORACLE_QUALITY)


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_sf_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), TX.detect_language().alias("detected_lang")
    )


def _langid_oracle() -> str:
    score_cols = []
    for lang in sorted(TX.LANG_MARKERS):
        pat = r"\b(" + "|".join(TX.LANG_MARKERS[lang]) + r")\b"
        score_cols.append(f"len(string_split_regex(lower(text), '{pat}')) - 1 AS s_{lang}")
    langs = sorted(TX.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = f"CASE WHEN {best} <= 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH scores AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM documents)
SELECT doc_id, lang AS labeled_lang, {case} AS detected_lang FROM scores
"""


register("text_language_id", q_text_langid, _langid_oracle())


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_sf_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint().alias("fingerprint"))


ORACLE_FINGERPRINT = """
SELECT doc_id,
       substring(md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))), 1, 16)
         AS fingerprint
FROM documents
"""
register("text_fingerprint", q_text_fingerprint, ORACLE_FINGERPRINT)


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (llm/text.pii_features). The synthetic
    corpus is digit-free, so deterministic PII derived from doc_id is
    prepended first — the gate then checks the regex COUNTS and the md5 of
    the fully REDACTED text, so a single mis-replaced character fails."""
    d = read_sf_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.lit("user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 "),
            F.col("text"),
        ).alias("text"),
    )
    return TX.pii_features(seeded).select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_ssn",
        "n_phone",
        F.substring(F.md5("redacted"), 1, 16).alias("redacted_fp"),
    )


def _pii_oracle() -> str:
    p = TX.PII_PATTERNS  # single source of truth for the patterns
    redacted = "text"
    for kind in p:
        redacted = f"regexp_replace({redacted}, '{p[kind]}', '<{kind.upper()}>', 'g')"
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{p[k]}')) AS n_{k}" for k in p
    )
    return f"""
WITH seeded AS (
  SELECT doc_id,
         'user' || CAST(doc_id AS VARCHAR) || '@example.com call 555-' ||
         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 ssn 123-45-6789 ' ||
         text AS text
  FROM documents)
SELECT doc_id,
       {counts},
       substring(md5({redacted}), 1, 16) AS redacted_fp
FROM seeded
"""


register("text_pii_scrub", q_text_pii_scrub, _pii_oracle())


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (llm/text.repetition_stats):
    top-2-gram occurrence fraction and duplicate-5-gram fraction per doc."""
    d = read_sf_table(spark, sf_dir, "documents")
    return TX.repetition_stats(d)


ORACLE_REPETITION = r"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
  FROM documents),
g2 AS (
  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
           THEN list_transform(range(len(t) - 1), i -> array_to_string(t[i+1:i+2], ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM t),
g5 AS (
  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
           THEN list_transform(range(len(t) - 4), i -> array_to_string(t[i+1:i+5], ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM t),
c2 AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total
       FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
c5 AS (SELECT doc_id, COUNT(*) AS n_distinct, SUM(c) AS total
       FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g5 GROUP BY 1, 2) GROUP BY 1)
SELECT d.doc_id,
       COALESCE(CAST((CAST(c2.top_c AS HUGEINT) * 1000000 * 2 + CAST(c2.total AS HUGEINT)) // (CAST(c2.total AS HUGEINT) * 2) AS DOUBLE) / 1000000.0, 0.0) AS top_2gram_frac,
       COALESCE(CAST((CAST(c5.total - c5.n_distinct AS HUGEINT) * 1000000 * 2 + CAST(c5.total AS HUGEINT)) // (CAST(c5.total AS HUGEINT) * 2) AS DOUBLE) / 1000000.0, 0.0) AS dup_5gram_frac
FROM documents d
LEFT JOIN c2 ON d.doc_id = c2.doc_id
LEFT JOIN c5 ON d.doc_id = c5.doc_id
"""
register("text_repetition_stats", q_text_repetition, ORACLE_REPETITION)


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token count (letter/digit/punct runs) next to the
    whitespace count — the LLM token-budget proxy."""
    d = read_sf_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("ws_tokens"),
        TX.bpe_ish_token_count("text").alias("bpe_tokens"),
    )


ORACLE_BPE_TOKENS = rf"""
SELECT doc_id,
       CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS INT) AS ws_tokens,
       CAST(COALESCE(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')), 0) AS INT) AS bpe_tokens
FROM documents
"""
register("text_bpe_tokens", q_bpe_tokens, ORACLE_BPE_TOKENS)


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint over token
    hashes (vs the md5 content fingerprint, which is order-insensitive to
    nothing but formatting)."""
    d = read_sf_table(spark, sf_dir, "documents")
    toks = D.ensure_min_partitions(d).select(
        "doc_id", D.tokens().alias("__tokens")
    )
    hashed = toks.select(
        "doc_id", F.transform("__tokens", D.shingle_hash).alias("__hashed")
    )
    return hashed.select(
        "doc_id", TX.rolling_fingerprint(F.col("__hashed")).alias("rolling_fp")
    )


ORACLE_ROLLING_FP = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents),
hashed AS (
  SELECT doc_id,
         list_transform(t, s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)) AS h
  FROM toks)
SELECT doc_id,
       CASE WHEN len(h) = 0 THEN 0
            ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), h),
                             (acc, x) -> (acc * {TX.ROLLING_BASE} + x) % {TX.ROLLING_PRIME})
       END AS rolling_fp
FROM hashed
"""
register("text_rolling_fingerprint", q_rolling_fingerprint, ORACLE_ROLLING_FP)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus report composing the text tier: doc counts,
    whitespace + BPE-ish token totals, decimal-exact mean quality, and the
    high-quality share — the summary a curation pipeline emits per corpus
    snapshot. One partial-agg'd groupBy over a single codegen'd scan."""
    d = read_sf_table(spark, sf_dir, "documents")
    scored = (
        TX.quality_features(d)
        .withColumn("quality", TX.quality_score())
        .withColumn("bpe", TX.bpe_ish_token_count())
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("bpe").cast("bigint").alias("total_bpe_tokens"),
        round_ratio6_micro(
            F.sum(F.col("quality").cast("decimal(18,6)")) * 1_000_000,
            F.count(F.lit(1)),
        ).alias("mean_quality"),
        F.sum(F.when(F.col("quality") >= 0.5, 1).otherwise(0))
        .cast("bigint")
        .alias("n_high_quality"),
    )


ORACLE_CORPUS_STATS = rf"""
WITH feats AS (
  SELECT doc_id, lang,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^.,;:!?''"()\[\]]', '', 'g')) AS n_punct,
         CAST(CASE WHEN trim(text) IS NULL OR trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_tokens,
         -- greatest/coalesce: NULL text must read 0 hits, mirroring
         -- marker_hits' r9 guard (non-null text always yields len >= 1)
         GREATEST(COALESCE(len(string_split_regex(lower(text), '\b(and|is|of|the|to)\b')) - 1, 0), 0) AS stop_hits,
         COALESCE(len(regexp_extract_all(text, '{TX.BPE_ISH_PATTERN}')), 0) AS bpe
  FROM documents
),
ratios AS (
  SELECT lang, n_tokens, bpe,
         CAST((CAST(n_alpha AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_chars, 1) AS HUGEINT)) // (CAST(GREATEST(n_chars, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS alpha_ratio,
         CAST((CAST(n_punct AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_chars, 1) AS HUGEINT)) // (CAST(GREATEST(n_chars, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS punct_ratio,
         CAST((CAST(stop_hits AS HUGEINT) * 1000000 * 2 + CAST(GREATEST(n_tokens, 1) AS HUGEINT)) // (CAST(GREATEST(n_tokens, 1) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS stopword_ratio
  FROM feats
),
scored AS (
  SELECT lang, n_tokens, bpe,
         ROUND((CASE WHEN punct_ratio > 0.3 THEN 0.5 ELSE 1.0 END *
               (0.4 * LEAST(stopword_ratio * 4, 1.0)
                + 0.4 * alpha_ratio
                + 0.2 * LEAST(n_tokens / 100.0, 1.0))) * 1000000.0, 0) / 1000000.0 AS quality
  FROM ratios
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(bpe) AS BIGINT) AS total_bpe_tokens,
       CAST((CAST(SUM(CAST(quality AS DECIMAL(18,6))) * 1000000 AS HUGEINT) * 2 + CAST(COUNT(*) AS HUGEINT)) // (CAST(COUNT(*) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS mean_quality,
       CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high_quality
FROM scored GROUP BY lang
"""
register("corpus_language_stats", q_corpus_stats, ORACLE_CORPUS_STATS)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc (llm/text.top_terms_tfidf) —
    tf·idf with the rational BM25-style idf so scores are exact cross-
    engine; broadcast vocabulary join, per-doc (never global) window."""
    d = read_sf_table(spark, sf_dir, "documents")
    return TX.top_terms_tfidf(d, k=3)


ORACLE_TFIDF = r"""
WITH t AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS term
  FROM documents),
terms AS (SELECT doc_id, term FROM t WHERE term IS NOT NULL AND term <> ''),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         -- tf·((N−df+0.5)/(df+0.5)) as the IDENTICAL fixed double
         -- sequence top_terms_tfidf runs, then the certified
         -- scaled-round (r10: replaces the r9 integral-division form —
         -- same cross-engine guarantee, double-speed per corpus row)
         ROUND((CAST(tf AS DOUBLE) * ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))) * 1000000.0, 0) / 1000000.0 AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank
  FROM scored)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""
register("tfidf_top_terms", q_tfidf_top_terms, ORACLE_TFIDF)


def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style keep/drop verdict with first-failing-rule reasons
    (llm/text.corpus_filter) — single codegen'd projection, no shuffle."""
    return TX.corpus_filter(read_sf_table(spark, sf_dir, "documents"))


ORACLE_CORPUS_FILTER = r"""
WITH feats AS (
  SELECT doc_id, trim(text) AS t,
         length(trim(text)) AS n_chars,
         length(regexp_replace(trim(text), '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(trim(text), '[^.,;:!?''"()\[\]]', '', 'g')) AS n_punct,
         string_split_regex(lower(trim(text)), '\s+') AS toks
  FROM documents),
sig AS (
  SELECT doc_id,
         CASE WHEN t IS NULL OR t = '' THEN 'empty'
              WHEN len(toks) < 10 THEN 'too_short'
              WHEN len(toks) > 5000 THEN 'too_long'
              WHEN n_alpha / GREATEST(n_chars, 1) < 0.5 THEN 'low_alpha'
              WHEN n_punct / GREATEST(n_chars, 1) > 0.3 THEN 'high_punct'
              WHEN len(list_distinct(toks)) / CAST(GREATEST(len(toks), 1) AS DOUBLE) < 0.3
                THEN 'repetitive' END AS reject_reason
  FROM feats)
SELECT doc_id, reject_reason IS NULL AS keep, reject_reason FROM sig
"""
register("corpus_quality_filter", q_corpus_quality_filter, ORACLE_CORPUS_FILTER)


def q_vocab_min_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with document frequencies (llm/text.build_vocab),
    min_df=5 — the Zipf-bounded frame the tf-idf tier broadcasts."""
    return TX.build_vocab(read_sf_table(spark, sf_dir, "documents"), min_df=5)


ORACLE_VOCAB = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM documents),
d AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> '')
SELECT term, COUNT(*) AS df FROM d GROUP BY term HAVING COUNT(*) >= 5
"""
register("vocab_min_df", q_vocab_min_df, ORACLE_VOCAB)


def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents → integer token-id sequences against the frequency-ranked
    min-df vocabulary (llm/text.encode_tokens) — the final tokenize step
    before packing; OOV tokens drop, order restored by position. The id
    sequence is emitted comma-joined (the driver's pandas canonicalizer
    can't hash LIST cells — r4 verdict); the array API stays covered by
    tests/test_scd_incremental.py::test_encode_tokens_order_and_oov."""
    enc = TX.encode_tokens(read_sf_table(spark, sf_dir, "documents"), min_df=5)
    return enc.select(
        "doc_id",
        F.array_join(
            F.transform("token_ids", lambda v: v.cast("string")), ","
        ).alias("token_ids"),
    )


ORACLE_VOCAB_ENCODE = """
WITH toks AS (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS term
  FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS l
        FROM documents)),
tk AS (SELECT * FROM toks WHERE term <> ''),
d AS (SELECT DISTINCT doc_id, term FROM tk),
vocab AS (SELECT term, COUNT(*) AS df FROM d GROUP BY 1 HAVING COUNT(*) >= 5),
ids AS (SELECT term,
               CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term) AS INT) AS token_id
        FROM vocab)
SELECT doc_id,
       array_to_string(list(token_id ORDER BY pos), ',') AS token_ids
FROM tk JOIN ids USING (term)
GROUP BY doc_id
"""
register("vocab_encode_tokens", q_vocab_encode, ORACLE_VOCAB_ENCODE)


def q_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.bigram_rarity(read_sf_table(spark, sf_dir, "documents"), rare_max=2)


ORACLE_BIGRAM_RARITY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, g.g
  FROM (SELECT doc_id,
               CASE WHEN len(t) >= 2
                    THEN list_transform(range(len(t) - 1), i -> t[i + 1] || ' ' || t[i + 2])
                    ELSE [] END AS grams
        FROM toks) x, UNNEST(x.grams) AS g(g)),
counts AS (SELECT g, COUNT(*) AS corpus_freq FROM occ GROUP BY g)
SELECT o.doc_id, COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN c.corpus_freq <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(SUM(CASE WHEN c.corpus_freq <= 2 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*) AS rare_frac
FROM occ o JOIN counts c USING (g)
GROUP BY o.doc_id
"""
register("lm_bigram_rarity", q_bigram_rarity, ORACLE_BIGRAM_RARITY)


def q_term_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.postings_index(
        read_sf_table(spark, sf_dir, "documents"), min_df=2, max_postings=20
    )


ORACLE_POSTINGS = r"""
WITH occ AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents) x, UNNEST(x.t) AS u(term)),
per_doc AS (SELECT term, doc_id, COUNT(*) AS tf FROM occ GROUP BY 1, 2)
SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total,
       array_to_string(list_transform(list_sort(list(doc_id))[1:20],
                                      x -> CAST(x AS VARCHAR)), ',') AS postings
FROM per_doc GROUP BY term HAVING COUNT(*) >= 2
"""
register("term_postings_index", q_term_postings_index, ORACLE_POSTINGS)


def q_term_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.cooccurrence_lift(
        read_sf_table(spark, sf_dir, "documents"), min_pair_count=5
    )


ORACLE_COOCCURRENCE = r"""
WITH td AS (
  SELECT DISTINCT doc_id AS doc, u.term
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents) x, UNNEST(x.t) AS u(term)),
tf AS (SELECT term, COUNT(*) AS dfreq FROM td GROUP BY term),
nd AS (SELECT COUNT(DISTINCT doc) AS n FROM td),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_xy
  FROM td a JOIN td b ON a.doc = b.doc AND a.term < b.term
  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
SELECT p.term_a, p.term_b, p.n_xy,
       ta.dfreq AS df_a, tb.dfreq AS df_b,
       CAST((CAST(p.n_xy AS HUGEINT) * CAST(nd.n AS HUGEINT) * 1000000 * 2 + CAST(ta.dfreq AS HUGEINT) * CAST(tb.dfreq AS HUGEINT)) // (CAST(ta.dfreq AS HUGEINT) * CAST(tb.dfreq AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS lift
FROM pairs p
JOIN tf ta ON p.term_a = ta.term
JOIN tf tb ON p.term_b = tb.term, nd
"""
register("term_cooccurrence_lift", q_term_cooccurrence_lift, ORACLE_COOCCURRENCE)


def q_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation diagnostic: declared language label vs the n-gram
    heuristic's detection, as a confusion matrix with per-label shares.
    One codegen'd detection pass + one tiny (labels × detections)
    rollup; the share window runs over the bounded confusion frame."""
    d = read_sf_table(spark, sf_dir, "documents")
    conf = d.groupBy(
        F.col("lang").alias("labeled_lang"),
        TX.detect_language().alias("detected_lang"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    per_label = Window.partitionBy("labeled_lang")
    return conf.withColumn(
        "share",
        round_ratio6(F.col("n_docs"), F.sum("n_docs").over(per_label)),
    )


def _language_confusion_oracle() -> str:
    return f"""
WITH detected AS ({_langid_oracle()}),
conf AS (
  SELECT labeled_lang, detected_lang, COUNT(*) AS n_docs
  FROM detected GROUP BY 1, 2)
SELECT labeled_lang, detected_lang, n_docs,
       CAST((CAST(n_docs AS HUGEINT) * 1000000 * 2 + CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS HUGEINT)) // (CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS share
FROM conf
"""


register(
    "language_confusion_matrix", q_language_confusion, _language_confusion_oracle()
)


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-trainer iteration, relationally: corpus word-frequency
    table (vocabulary-bounded) → adjacent character pairs per word
    (substring projection, no explode of the corpus — pairs explode off
    the VOCAB frame) → frequency-weighted pair counts → top-20 merge
    candidates via the window-free global top-k. The full trainer is
    this step in a driver loop re-tokenizing against the merged symbol
    (fixed rounds on ops/fixpoint.iterate, as graph.pagerank runs); one
    step is the gate-verified unit (the kmeans_lloyd_step precedent)."""
    d = read_sf_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("freq").alias("merge_count")
    )
    return topk_global(counts, "merge_count", "pair", k=20)


ORACLE_BPE = r"""
WITH words AS (
  SELECT u.word, COUNT(*) AS freq
  FROM (SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents) x, UNNEST(x.t) AS u(word)
  GROUP BY u.word HAVING length(u.word) >= 2),
pairs AS (
  SELECT freq, p.pair
  FROM words, UNNEST(list_transform(range(1, length(word)), i -> substr(word, CAST(i AS INTEGER), 2))) AS p(pair)),
counts AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS merge_count
  FROM pairs GROUP BY pair),
top AS (SELECT * FROM counts ORDER BY merge_count DESC, pair ASC LIMIT 20)
SELECT pair, merge_count,
       CAST(ROW_NUMBER() OVER (ORDER BY merge_count DESC, pair ASC) AS INT) AS rank_in_group
FROM top
"""
register("bpe_merge_candidates", q_bpe_merge_candidates, ORACLE_BPE)


def q_bm25_lite_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style lexical relevance for the fixed query {hash, join,
    table} with the tf-saturation term tf·(k1+1)/(tf+k1) and a RATIONAL
    idf (N−df+0.5)/(df+0.5) — BM25's odds ratio without the ln() wrapper,
    keeping the whole score inside the cross-libm determinism contract.
    The three per-term scores are added in one fixed literal order.

    Plan: one token explode with the term filter applied INSIDE the
    projection (only query terms survive to the shuffle), one doc-keyed
    conditional rollup, a 1-row df/N broadcast, TakeOrdered top-20."""
    docs = read_sf_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("term")).filter(
        F.col("term").isin("hash", "join", "table")
    )
    tf = tok.groupBy("doc_id").agg(
        F.sum(F.when(F.col("term") == "hash", 1).otherwise(0)).alias("tf_hash"),
        F.sum(F.when(F.col("term") == "join", 1).otherwise(0)).alias("tf_join"),
        F.sum(F.when(F.col("term") == "table", 1).otherwise(0)).alias("tf_table"),
    )
    dfreq = tf.agg(
        F.sum((F.col("tf_hash") > 0).cast("long")).alias("df_hash"),
        F.sum((F.col("tf_join") > 0).cast("long")).alias("df_join"),
        F.sum((F.col("tf_table") > 0).cast("long")).alias("df_table"),
    )
    ntot = docs.agg(F.count(F.lit(1)).alias("n_total"))

    def idf(dfc):
        return ((F.col("n_total") - F.col(dfc)).cast("double") + F.lit(0.5)) / (
            F.col(dfc).cast("double") + F.lit(0.5)
        )

    def sat(tfc):
        return (F.col(tfc).cast("double") * F.lit(2.2)) / (
            F.col(tfc).cast("double") + F.lit(1.2)
        )

    scored = tf.crossJoin(F.broadcast(dfreq)).crossJoin(F.broadcast(ntot))
    score = (
        idf("df_hash") * sat("tf_hash")
        + idf("df_join") * sat("tf_join")
    ) + idf("df_table") * sat("tf_table")
    out = scored.select(
        "doc_id",
        "tf_hash",
        "tf_join",
        "tf_table",
        F.round(score, 6).alias("bm25_lite"),
    )
    return out.orderBy(F.col("bm25_lite").desc(), F.col("doc_id")).limit(20)


ORACLE_BM25 = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS term
  FROM documents),
tf AS (
  SELECT doc_id,
         SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS tf_hash,
         SUM(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS tf_join,
         SUM(CASE WHEN term = 'table' THEN 1 ELSE 0 END) AS tf_table
  FROM tok WHERE term IN ('hash', 'join', 'table')
  GROUP BY doc_id),
dfreq AS (
  SELECT SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS df_hash,
         SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
         SUM(CASE WHEN tf_table > 0 THEN 1 ELSE 0 END) AS df_table
  FROM tf),
ntot AS (SELECT COUNT(*) AS n_total FROM documents),
scored AS (
  SELECT t.doc_id,
         CAST(t.tf_hash AS BIGINT) AS tf_hash,
         CAST(t.tf_join AS BIGINT) AS tf_join,
         CAST(t.tf_table AS BIGINT) AS tf_table,
         ((((CAST(n.n_total - d.df_hash AS DOUBLE) + 0.5) / (CAST(d.df_hash AS DOUBLE) + 0.5))
            * ((CAST(t.tf_hash AS DOUBLE) * 2.2) / (CAST(t.tf_hash AS DOUBLE) + 1.2))
           + ((CAST(n.n_total - d.df_join AS DOUBLE) + 0.5) / (CAST(d.df_join AS DOUBLE) + 0.5))
             * ((CAST(t.tf_join AS DOUBLE) * 2.2) / (CAST(t.tf_join AS DOUBLE) + 1.2)))
          + ((CAST(n.n_total - d.df_table AS DOUBLE) + 0.5) / (CAST(d.df_table AS DOUBLE) + 0.5))
            * ((CAST(t.tf_table AS DOUBLE) * 2.2) / (CAST(t.tf_table AS DOUBLE) + 1.2))) AS score
  FROM tf t CROSS JOIN dfreq d CROSS JOIN ntot n)
SELECT doc_id, tf_hash, tf_join, tf_table,
       ROUND(score, 6) AS bm25_lite
FROM scored
ORDER BY bm25_lite DESC, doc_id
LIMIT 20
"""
register("bm25_lite_scores", q_bm25_lite_scores, ORACLE_BM25)


def q_feature_hash_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorizer: every token maps to one of 256 feature
    buckets via the md5 bucket hash (llm/sampling.hash_bucket — the
    engine-portable hash used by every sampling op); per-doc sparse
    vectors serialize as 'bucket:count' strings ordered by bucket, so
    the output is flat VARCHAR (the array-output rule). Two doc-keyed
    map-combined rollups, no vocabulary state anywhere — the property
    that makes feature hashing the scale path when a vocab won't fit."""
    docs = read_sf_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("term"))
    bucketed = tok.withColumn("bucket", hash_bucket("term", 256, "fh")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return bucketed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_features"),
        F.sum("cnt").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "cnt"))),
                lambda x: F.concat_ws(":", x["bucket"], x["cnt"]),
            ),
            ",",
        ).alias("fvec"),
    )


ORACLE_FEATURE_HASH = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS term
  FROM documents),
bucketed AS (
  SELECT doc_id,
         CAST('0x' || substring(md5('fh' || term), 1, 8) AS BIGINT) % 256 AS bucket,
         COUNT(*) AS cnt
  FROM tok WHERE term <> ''
  GROUP BY 1, 2)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(cnt AS VARCHAR), ','
                  ORDER BY bucket) AS fvec
FROM bucketed
GROUP BY doc_id
"""
register("feature_hash_vectorizer", q_feature_hash_vectorizer, ORACLE_FEATURE_HASH)


def q_vocab_jaccard_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-overlap matrix between corpus sources: exact Jaccard of
    each source pair's distinct-token sets. The pair join is TERM-keyed
    (fan-out per term ≤ |sources|², never corpus-sized); per-source vocab
    sizes broadcast onto the |sources|²-row pair frame; Jaccard is one
    division of exact BIGINTs."""
    d = read_sf_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens()).alias("term"))
        .distinct()
        .persist()
    )
    vocab = st.groupBy("source").agg(F.count(F.lit(1)).alias("vocab_n"))
    a = st.select(F.col("source").alias("source_a"), "term")
    b = st.select(F.col("source").alias("source_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter_n"))
    )
    va = vocab.select(F.col("source").alias("source_a"), F.col("vocab_n").alias("va"))
    vb = vocab.select(F.col("source").alias("source_b"), F.col("vocab_n").alias("vb"))
    out = inter.join(F.broadcast(va), "source_a").join(F.broadcast(vb), "source_b")
    return out.select(
        "source_a",
        "source_b",
        "inter_n",
        (F.col("va") + F.col("vb") - F.col("inter_n")).alias("union_n"),
        F.round(
            F.col("inter_n").cast("double")
            / (F.col("va") + F.col("vb") - F.col("inter_n")).cast("double"),
            6,
        ).alias("jaccard"),
    )


ORACLE_VOCAB_JACCARD = """
WITH st AS (
  SELECT DISTINCT source,
         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS term
  FROM documents),
vocab AS (SELECT source, COUNT(*) AS vocab_n FROM st GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS inter_n
  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2)
SELECT i.source_a, i.source_b,
       CAST(i.inter_n AS BIGINT) AS inter_n,
       CAST(va.vocab_n + vb.vocab_n - i.inter_n AS BIGINT) AS union_n,
       ROUND(CAST(i.inter_n AS DOUBLE)
             / CAST(va.vocab_n + vb.vocab_n - i.inter_n AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN vocab va ON i.source_a = va.source
JOIN vocab vb ON i.source_b = vb.source
"""
register("vocab_jaccard_matrix", q_vocab_jaccard_matrix, ORACLE_VOCAB_JACCARD)


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
    d = read_sf_table(spark, sf_dir, "documents")
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


# ----------------------------------------------------------- type_token_ratio
def q_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: Σ per-doc distinct tokens over Σ
    tokens (a corpus-curation quality signal — low TTR flags templated or
    repetitive sources). Token and distinct counts are per-row map-side
    expressions; one small source rollup; one division."""
    d = read_sf_table(spark, sf_dir, "documents")
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


# ------------------------------------------------------------ language_kappa
def q_language_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the declared language label and the n-gram
    heuristic's detection — chance-corrected agreement, the one-number
    companion to language_confusion_matrix. All arithmetic stays in
    BIGINT over the bounded confusion frame (kappa =
    (N·agree - Σ_l row_l·col_l) / (N² - Σ_l row_l·col_l)); the single
    double division happens in the final 1-row projection."""
    d = read_sf_table(spark, sf_dir, "documents")
    conf = d.groupBy(
        F.col("lang").alias("labeled"),
        TX.detect_language().alias("detected"),
    ).agg(F.count(F.lit(1)).alias("n"))

    conf = persist_tracked(conf)
    rows = conf.groupBy("labeled").agg(F.sum("n").alias("row_n"))
    cols = conf.groupBy("detected").agg(F.sum("n").alias("col_n"))
    pe = (
        rows.join(cols, rows["labeled"] == cols["detected"])
        .agg(F.coalesce(F.sum(F.col("row_n") * F.col("col_n")), F.lit(0)).alias("pe_num"))
    )
    tot = conf.agg(
        F.sum("n").alias("n_docs"),
        F.coalesce(
            F.sum(F.when(F.col("labeled") == F.col("detected"), F.col("n"))),
            F.lit(0),
        ).alias("n_agree"),
    )
    # Degenerate-corpus guard: with ONE label and a constant detection,
    # pe_num == n_docs² and the denominator is 0 (kappa is undefined —
    # observed agreement equals chance agreement). Emit NULL explicitly,
    # mirrored in the oracle, instead of engine-specific NaN/NULL drift.
    denom = F.col("n_docs") * F.col("n_docs") - F.col("pe_num")
    return tot.crossJoin(pe).select(
        "n_docs",
        "n_agree",
        F.when(
            denom != 0,
            F.round(
                (
                    F.col("n_docs") * F.col("n_agree") - F.col("pe_num")
                ).cast("double")
                / denom,
                6,
            ),
        ).alias("kappa"),
    )


def _language_kappa_oracle() -> str:
    return f"""
WITH detected AS ({_langid_oracle()}),
conf AS (SELECT labeled_lang, detected_lang, CAST(COUNT(*) AS BIGINT) AS n
         FROM detected GROUP BY 1, 2),
r AS (SELECT labeled_lang AS l, SUM(n) AS row_n FROM conf GROUP BY 1),
c AS (SELECT detected_lang AS l, SUM(n) AS col_n FROM conf GROUP BY 1),
pe AS (SELECT COALESCE(SUM(r.row_n * c.col_n), 0) AS pe_num
       FROM r JOIN c ON r.l = c.l),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(CASE WHEN labeled_lang = detected_lang THEN n END), 0) AS BIGINT) AS n_agree
        FROM conf)
SELECT n_docs, n_agree,
       CASE WHEN n_docs * n_docs - pe_num <> 0
            THEN ROUND(CAST(n_docs * n_agree - pe_num AS DOUBLE)
                       / (n_docs * n_docs - pe_num), 6)
       END AS kappa
FROM tot, pe
"""


register("language_kappa", q_language_kappa, _language_kappa_oracle())


# ------------------------------------------------------------ winnowing_fingerprints
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprint census per document
    (llm/text.winnow_fingerprints, k=4 w=4): positional k-gram hashing +
    per-window minima — any shared run of >= k+w-1 tokens between two
    docs shares a selected fingerprint. Doc-partitioned ROWS window,
    never global."""
    d = read_sf_table(spark, sf_dir, "documents")
    return winnow_fingerprints(d, "doc_id", "text", k=4, w=4).select(
        F.col("id").alias("doc_id"), "n_grams", "n_selected", "density"
    )


ORACLE_WINNOW = r"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 4
           THEN list_transform(range(len(t) - 3), i -> array_to_string(t[i+1:i+4], ' '))
           ELSE [] END AS gs
  FROM toks),
ex AS (
  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams, i AS pos,
         CAST('0x' || substring(md5(gs[i + 1]), 1, 8) AS BIGINT) * 2147483648 + i AS key
  FROM grams, UNNEST(range(len(gs))) AS u(i)),
win AS (
  SELECT doc_id, n_grams, pos,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM ex),
sel AS (
  SELECT DISTINCT doc_id, n_grams, wmin
  FROM win WHERE pos <= GREATEST(n_grams - 4, 0))
SELECT doc_id, n_grams, CAST(COUNT(*) AS BIGINT) AS n_selected,
       CAST((CAST(COUNT(*) AS HUGEINT) * 1000000 * 2 + CAST(n_grams AS HUGEINT)) // (CAST(n_grams AS HUGEINT) * 2) AS DOUBLE) / 1000000.0 AS density
FROM sel GROUP BY doc_id, n_grams
"""
register("winnowing_fingerprints", q_winnowing_fingerprints, ORACLE_WINNOW)
