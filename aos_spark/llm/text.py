"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.

Pure Catalyst expressions (regexp/split/transform) running inside
whole-stage codegen, with ONE exception: compression_ratio needs zlib
and runs as an Arrow-batched pandas UDF (the sanctioned Python tier).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aos_spark.cache import persist_tracked
from aos_spark.llm.dedup import (
    WORD_SPLIT,
    ensure_min_partitions,
    normalized_text,
    shingle_hash,
    tokens,
)
from aos_spark.ops.exact_round import round_ratio6, scaled_round6

# Marker-word lists for the n-gram/stopword language heuristic. Deliberately
# tiny and deterministic: language ID at corpus scale is a scoring pass, and
# the contract (argmax of per-language marker hits, ties → 'und') is what the
# engine guarantees; swap in bigger lexicons without changing the plan shape.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def token_count(text_col: str = "text") -> Column:
    """Whitespace token count; empty/NULL-safe."""
    trimmed = F.trim(F.col(text_col))
    return F.when(
        trimmed.isNull() | (trimmed == ""), F.lit(0)
    ).otherwise(F.size(F.split(trimmed, r"\s+")))


def marker_hits(lang: str, text_col: str = "text") -> Column:
    """Count of marker-word occurrences for one language (word-boundary
    regexp count — JVM-side)."""
    pattern = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    lowered = F.lower(F.col(text_col))
    # count = (len(text) - len(text with matches removed)) impossible for
    # words; use size(split) - 1 on the match pattern instead. greatest(0)
    # guards NULL text (r9 review): size(split(NULL)) is -1 under the
    # engine's legacy sizeOfNull, which made this -2 — a NEGATIVE hit
    # count that propagated a negative stopword_ratio into quality_score
    # and violated round_ratio6's num >= 0 contract. Non-null text always
    # yields size >= 1, so the guard is a no-op off the NULL path.
    return F.greatest(F.size(F.split(lowered, pattern)) - F.lit(1), F.lit(0))


def detect_language(text_col: str = "text") -> Column:
    """Argmax of per-language marker hits; 'und' when no marker matches.
    Deterministic tie-break: language name ascending."""
    scores = [(lang, marker_hits(lang, text_col)) for lang in sorted(LANG_MARKERS)]
    best = F.greatest(*[s for _, s in scores])
    expr = F.when(best <= 0, F.lit("und"))
    for lang, s in scores:  # first (alphabetical) language reaching the max wins
        expr = expr.when(s == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features per document."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]]", ""))
    n_tokens = token_count(text_col)
    stop_hits = marker_hits("en", text_col)
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "alpha_ratio", round_ratio6(n_alpha, F.greatest(n_chars, F.lit(1)))
        )
        .withColumn(
            "punct_ratio", round_ratio6(n_punct, F.greatest(n_chars, F.lit(1)))
        )
        .withColumn(
            "stopword_ratio",
            round_ratio6(stop_hits, F.greatest(n_tokens, F.lit(1))),
        )
        .withColumn(
            # exact mean: non-whitespace chars / tokens (r9 review — the
            # old (n_chars - n_tokens + 1)/n_tokens shortcut assumed
            # single-space separators and no padding, overstating the
            # mean without bound on whitespace-heavy docs, and reported
            # 1.0 for EMPTY docs); 0.0 when there are no tokens
            "mean_token_len",
            F.when(
                n_tokens > 0,
                round_ratio6(
                    # non-whitespace char count via translate (r10 perf):
                    # a 6-char table lookup per char instead of a regex
                    # engine pass; the char list IS Java regex \s
                    F.length(F.translate(t, " \t\n\x0b\f\r", "")),
                    n_tokens,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def corpus_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 5000,
    min_alpha_ratio: float = 0.5,
    max_punct_ratio: float = 0.3,
    min_type_token_ratio: float = 0.3,
) -> DataFrame:
    """C4/Gopher-style composite corpus filter: one pass computes every
    signal and a FIRST-FAILING-RULE verdict per document — (id, keep,
    reject_reason) where reason ∈ {empty, too_short, too_long, low_alpha,
    high_punct, repetitive} and NULL means keep. Rule order is fixed so
    downstream drop-reason dashboards are stable across runs.

    All signals are Catalyst expressions over one projection (no joins,
    no shuffle — a pure map over the corpus, which is what makes this
    linear at 100 TB); the repetition signal is the type-token ratio
    (distinct/total whitespace tokens), the cheap single-row proxy for
    the explode-based repetition_stats tier."""
    t = F.trim(F.col(text_col))
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]]", ""))
    toks = F.split(F.lower(t), r"\s+")
    n_tokens = F.when(t.isNull() | (t == ""), F.lit(0)).otherwise(F.size(toks))
    ttr = F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)).cast(
        "double"
    )
    reason = (
        F.when(t.isNull() | (t == ""), "empty")
        .when(n_tokens < min_tokens, "too_short")
        .when(n_tokens > max_tokens, "too_long")
        .when(n_alpha / F.greatest(n_chars, F.lit(1)) < min_alpha_ratio, "low_alpha")
        .when(n_punct / F.greatest(n_chars, F.lit(1)) > max_punct_ratio, "high_punct")
        .when(ttr < min_type_token_ratio, "repetitive")
    )
    return df.select(
        F.col(id_col),
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
    )


def build_vocab(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Corpus vocabulary: every term (``tokens``, the same token stream
    as the shingle/tf-idf tier) with its document frequency, kept
    when df ≥ ``min_df``. Explode → per-doc distinct → one partial-agg'd
    count shuffle; the result is Zipf-bounded (vocabulary-sized), tiny
    next to the corpus, and is exactly the frame the tf-idf join
    broadcasts."""
    # (r16: spread guard measured 0.84× on vocab_encode_tokens — reverted)
    terms = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    return (
        terms.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )


def encode_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Encode documents to integer token-id sequences against the min-df
    vocabulary: ids are 1-based ranks by (df desc, term asc) — the
    conventional frequency-sorted vocab layout — and out-of-vocabulary
    tokens are dropped (that is what the min_df prune means downstream).

    The rank window runs over the VOCABULARY (Zipf-bounded, broadcast-
    sized), never the corpus, so the single-partition window is bounded;
    the corpus side is explode → broadcast join → collect_list re-sorted
    by position — order restored structurally, not by faith in row order.

    Per-doc state note (r8 unbounded-state audit): the collected
    (pos, token_id) row is PROPORTIONAL to the input text row (~8 bytes
    per token vs the text's own bytes) — the operator's contract is the
    full token sequence, so this is input-row-sized by definition, not a
    join-state blowup of the ppjoin class (llm/setjoin.py caps those)."""
    vocab = build_vocab(df, id_col, text_col, min_df)
    vw = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    vocab_ids = vocab.select(
        "term", F.row_number().over(vw).cast("int").alias("token_id")
    )
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )
    return (
        toks.join(F.broadcast(vocab_ids), "term")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token_id"))),
                lambda s: s["token_id"],
            ).alias("token_ids")
        )
        .select(F.col("id").alias(id_col), "token_ids")
    )


def quality_score() -> Column:
    """Composite [0,1] quality score over the features above — a linear
    blend with hard penalties, the usual shape of corpus-filtering scores."""
    score = (
        F.lit(0.4) * F.least(F.col("stopword_ratio") * 4, F.lit(1.0))
        + F.lit(0.4) * F.col("alpha_ratio")
        + F.lit(0.2) * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
    )
    penalized = F.when(F.col("punct_ratio") > 0.3, score * 0.5).otherwise(score)
    # scaled-round (ops/exact_round): ROUND(x, 6) of a compound double is
    # cross-engine knife-edge unsafe; the 0.5-penalized branch lands on the
    # 1e-7 grid where exact .5 micro-boundaries are reachable
    return scaled_round6(penalized)


# BPE-ish pre-tokenization pattern (letter runs / digit runs / punctuation
# runs, each with an optional leading space) — the GPT-2-style split without
# lookahead so Java regex (Spark) and RE2 (DuckDB) agree exactly.
BPE_ISH_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n\r\f]+"


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """Token count under the BPE-ish regex — a closer proxy for LLM token
    budgets than whitespace splitting (runs JVM-side via regexp_count)."""
    return F.coalesce(
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN)), F.lit(0)
    )


ROLLING_BASE = 31
ROLLING_PRIME = 1_000_000_007


def rolling_fingerprint(hashed_tokens: Column) -> Column:
    """Polynomial rolling hash over a MATERIALIZED array of token hashes:
    fold acc ← (acc·B + h) mod P with acc₀ = 0. Order-sensitive (unlike the
    md5 content fingerprint) so token transpositions change the print;
    reproducible in any engine with a list fold."""
    return F.aggregate(
        hashed_tokens,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * ROLLING_BASE + h) % ROLLING_PRIME,
    )


def fingerprint(text_col: str = "text", width: int = 16) -> Column:
    """Deterministic document fingerprint: normalize (lowercase, collapse
    whitespace/punct) then hash — robust to formatting-only edits. Uses md5
    so an external system (and the DuckDB oracle) can reproduce it."""
    return F.substring(F.md5(normalized_text(text_col)), 1, width)


# PII patterns, RE2-safe by construction (no lookaround, no backrefs, ASCII
# classes only) so Java regex (Spark) and RE2 (DuckDB) match identically.
# Order matters for redaction: emails first (they contain digits and dots
# that the narrower patterns could clip), then IPs, then the dashed-digit
# shapes. The SSN (3-2-4) and phone (3-3-4) shapes cannot overlap.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}


def pii_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII counts (n_email, n_ip, n_ssn, n_phone — counted on
    the ORIGINAL text) plus a ``redacted`` column with every match replaced
    by an angle-bracket placeholder. Pure Catalyst regexp_count /
    regexp_replace — whole-stage codegen, linear scan, no shuffle."""
    t = F.col(text_col)
    out = df
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}", F.coalesce(F.regexp_count(t, F.lit(pat)), F.lit(0))
        )
    redacted = t
    for kind, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"<{kind.upper()}>")
    return out.withColumn("redacted", redacted)


def gram_occurrences(tokens: Column, n: int) -> Column:
    """ALL word n-gram occurrences (order kept, duplicates kept — unlike
    shingles) from a MATERIALIZED token-array column; empty array below n
    tokens."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - n),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
    )
    return F.when(F.size(tokens) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm): hash every word k-gram occurrence,
    slide a window of w consecutive hashes, and keep each window's
    minimum. Guarantees: any shared substring of >= w+k-1 tokens yields
    at least one shared selected fingerprint, and expected density is
    2/(w+1) — a position-aware overlap detector the set-based shingle
    tier cannot provide.

    Determinism / oracle mirror: ties inside a window break to the
    LOWEST position by packing (hash, pos) into one BIGINT key —
    hash·2^31 + pos. hash <= 2^32−1 and pos <= 2^31−1 give key <=
    2^63−1 exactly: the full long range with no overflow in either
    ANSI mode, and no silent corruption for any physically possible
    document (a doc would need 2^31 grams ≈ 2 billion tokens to wrap —
    the r6 review flagged the earlier 2^20 packing, which a ~1M-token
    crawl document could silently exceed). Selection is min(key) over a
    doc-partitioned
    ROWS window — never a global window — then distinct; windows
    starting past n_grams - w would re-select suffix minima of
    truncated frames, so starts are capped (a doc shorter than w grams
    keeps its single full-truncated window at pos 0).

    Returns (id, n_grams, n_selected, density) per doc with >= 1 gram;
    density = n_selected / n_grams, one final double division."""
    toks = ensure_min_partitions(df).select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__tokens")
    )
    grams = toks.select(
        "id", gram_occurrences(F.col("__tokens"), k).alias("grams")
    )
    ex = grams.select(
        "id", F.size("grams").alias("n_grams"), F.posexplode_outer("grams")
    ).filter(F.col("col").isNotNull())
    keyed = ex.select(
        "id",
        "n_grams",
        "pos",
        (shingle_hash(F.col("col")) * F.lit(1 << 31) + F.col("pos")).alias(
            "__key"
        ),
    )
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    selected = (
        keyed.withColumn("__wmin", F.min("__key").over(win))
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - w, F.lit(0)))
        .select("id", "n_grams", "__wmin")
        .distinct()
    )
    return selected.groupBy("id", "n_grams").agg(
        F.count(F.lit(1)).alias("n_selected")
    ).select(
        "id",
        "n_grams",
        "n_selected",
        round_ratio6(F.col("n_selected"), F.col("n_grams")).alias("density"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models", table A1): the fraction of n-gram
    occurrences taken by the single most frequent n-gram (``top_{n}gram_
    frac``, occurrence-fraction variant) and the duplicated-n-gram fraction
    (``dup_{n}gram_frac`` = 1 − distinct/total). High values mark boiler-
    plate and degenerate repetition for corpus filtering.

    Shape (r15, guide §2.4 "remove shuffles outright"): a PURE PROJECTION
    — zero exchanges, zero joins. Every statistic is a within-document
    fact, so each doc computes its own counts from its gram array:
    total = size, distinct = size(array_distinct), and the top gram
    count = the longest equal-run of the SORTED gram array via an O(L)
    aggregate() fold. The historical shape exploded every gram occurrence
    of both sizes into a tagged union and shuffled it twice ((id, kind,
    gram) count + (id, kind) rollup, plus two joins back to the doc
    frame); all of that collapses into per-row expressions. Per-doc cost
    is O(L log L) for the sort — the same order as building the gram
    array itself — so a pathological mega-doc stalls nothing it did not
    already stall at tokenize time. Docs shorter than n grams get 0.0."""

    def _stats(col: str) -> tuple[Column, Column, Column]:
        g = F.col(col)
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        )

        def step(acc: Column, x: Column) -> Column:
            run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        top_c = F.aggregate(
            F.array_sort(g), init, step, lambda acc: acc["best"]
        )
        return (
            F.size(g).cast("long"),
            F.size(F.array_distinct(g)).cast("long"),
            top_c,
        )

    # CollapseProject keeps the expensive tokenize alias un-inlined
    # because it is referenced by both gram sizes (Catalyst only
    # duplicates cheap expressions), so the split still runs once per row.
    toks = df.select(F.col(id_col), tokens(text_col).alias("__tokens"))
    # gram arrays aliased in their own projection layer: each is
    # referenced by 3 statistics below, and higher-order functions fall
    # outside whole-stage codegen's subexpression elimination — an
    # un-aliased first cut rebuilt every gram array per reference and ran
    # 3x slower than the shuffle shape it replaced
    toks = toks.select(
        id_col,
        gram_occurrences(F.col("__tokens"), top_n).alias("__gt"),
        gram_occurrences(F.col("__tokens"), dup_n).alias("__gd"),
    )
    t_total, t_distinct, t_top = _stats("__gt")
    d_total, d_distinct, _ = _stats("__gd")
    top_frac = F.when(
        t_total > 0, round_ratio6(t_top, t_total)
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        d_total > 0, round_ratio6(d_total - d_distinct, d_total)
    ).otherwise(F.lit(0.0))
    return toks.select(
        id_col,
        top_frac.alias(f"top_{top_n}gram_frac"),
        dup_frac.alias(f"dup_{dup_n}gram_frac"),
    )


def top_terms_tfidf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k most characteristic terms per document by tf·idf, with a
    RATIONAL idf — (N − df + 0.5)/(df + 0.5), the BM25 idf sans log — so
    the score is pure +−·/ arithmetic and bit-identical across engines
    (ln(x) is transcendental and differs in the last ulp between libms,
    which would flip ranks on ties). Monotone in the same direction as
    log-idf, so the RANKING it exists to produce is unchanged.

    Shape: explode tokens → (doc, term, tf) map-combined aggregate → term
    document frequencies (a second aggregate over the same frame) joined
    back BROADCAST (the df table is vocabulary-sized, Zipf-bounded, tiny
    next to the corpus) → per-doc top-k window (PARTITIONED by doc — never
    a global window). Ties break by term ascending for determinism."""
    # (r16: the 1-task-scan spread guard measured 0.79× here — light
    # tokenize + persisted frame; see ensure_min_partitions)
    terms = df.select(
        F.col(id_col).alias("id"), F.explode_outer(tokens(text_col)).alias("term")
    ).filter(F.col("term").isNotNull())
    terms = persist_tracked(terms)  # feeds tf AND df aggregates
    # n_docs as a 1-row agg broadcast-cross-joined in, NOT a driver-side
    # .count(): the whole query stays one lazy plan instead of paying an
    # extra full corpus pass before the main job (VERDICT r3 #6).
    n_docs = df.agg(
        F.count_distinct(F.col(id_col)).alias("__n_docs")  # bigint: feeds exact idf
    )
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = terms.select("id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    # tfidf = tf·((N − df + 0.5)/(df + 0.5)) as a FIXED double sequence,
    # rounded with scaled_round6 — the certified shared-double idiom
    # (ops/exact_round: zero divergence on 11k adversarial doubles incl.
    # half-boundary rationals). tf/N/df are ≤2^53 integers, exact in
    # double, and both engines run the identical IEEE op order, so the
    # pre-round double is bit-identical — same cross-engine guarantee as
    # the r9 integral-division form at a fraction of the per-row cost:
    # this column is evaluated once per (doc, term) pair, corpus-sized,
    # and the decimal(38,0) mod/div chain was 3 Int128 ops per row where
    # this is 5 double ops (r10 perf: tfidf_top_terms 1.79 s → the
    # pre-conversion 1.1 s band in the same-day A/B).
    idf = (
        F.col("__n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", scaled_round6(F.col("tf").cast("double") * idf))
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "tfidf", "rank")
    )


def bigram_rarity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max: int = 2,
) -> DataFrame:
    """CCNet-style corpus-LM quality signal without the float-summation
    hazard of a true perplexity: score each document by the fraction of
    its bigram occurrences that are RARE in the whole corpus (corpus
    frequency <= ``rare_max``). Clean, in-distribution text is made of
    common bigrams; gibberish, boilerplate-mangled, and wrong-language
    text is rich in rare ones — the same ranking signal CCNet gets from a
    KenLM perplexity bucket (Wenzek et al. 2020), expressed as exact
    integer counts plus one final division so it is reproducible bit-for-
    bit across engines.

    Two-pass shape: (1) explode bigram occurrences and count them per
    bigram — one hash-shuffle keyed by bigram text; (2) join occurrences
    back to the count table and aggregate per doc. The count-side key is
    zipfian-hot (stop-bigram heads), which is exactly the AQE skew-join
    case: the plan relies on adaptive skew splitting rather than salting
    because the hot side is the SMALL aggregated table, not the fan-out.

    A one-shuffle variant (corpus_freq as count().over(Window.partitionBy
    (g))) measured ~2× faster warm at 250k unskewed synthetic docs
    (6.9 s vs 14.4 s) but is rejected for the default: a window cannot be
    skew-split, so one stop-bigram with 10⁹ occurrences serializes onto a
    single task at corpus scale, while the join path AQE-splits it. The
    join formulation trades local wall-clock for the shape that survives
    zipfian text at 100 TB.
    """
    toks = ensure_min_partitions(df).select(
        id_col, tokens(text_col, WORD_SPLIT).alias("__tokens")
    )
    # explode_OUTER: plain explode lets InferFiltersFromGenerate push a
    # size(...)>0 filter through the __tokens projection, re-running the
    # regex split inside the gram lambda once per bigram (quadratic in
    # doc length — see llm/setjoin.ppjoin_pairs). The inner join on "g"
    # drops the null rows sub-bigram docs emit.
    occ = toks.select(
        id_col, F.explode_outer(gram_occurrences(F.col("__tokens"), 2)).alias("g")
    )
    occ = persist_tracked(occ)
    counts = occ.groupBy("g").agg(F.count(F.lit(1)).alias("corpus_freq"))
    return (
        occ.join(counts, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum((F.col("corpus_freq") <= rare_max).cast("long")).alias(
                "n_rare"
            ),
        )
        .select(
            id_col,
            "n_bigrams",
            "n_rare",
            (F.col("n_rare") / F.col("n_bigrams")).alias("rare_frac"),
        )
    )


def compression_ratio(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes), the
    Dolma/Gopher-family degeneracy signal: highly repetitive or templated
    text compresses far below normal prose, random gibberish compresses
    above it. No SQL engine exposes zlib, so this operator carries no
    DuckDB oracle — determinism (fixed zlib level 6) and bounds are
    pytest-locked instead.

    Runs as ONE Arrow-batched pandas UDF (the sanctioned Python tier —
    per-batch zlib over a bytes Series, never per-row Python in Catalyst),
    zero shuffle: the signal is a pure projection."""
    import zlib

    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    def _kernel(texts):
        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(one)

    # real class objects, not the strings the module's postponed
    # annotations leave, so pandas_udf's hint inference works
    _kernel.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _ratio = pandas_udf(_kernel, DoubleType())

    return df.select(
        id_col, _ratio(F.col(text_col)).alias("compression_ratio")
    )


def postings_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    max_postings: int = 20,
) -> DataFrame:
    """Inverted-index build: per term, document frequency, total term
    frequency, and a CAPPED, sorted posting list — the search-/
    dedup-serving sibling of tf-idf (same ``tokens`` rule as the shingle
    pipelines).

    Scale discipline: a hot term's postings are capped with a TWO-LEVEL
    top-K — per-(term, salt) row_number windows keep each bucket's
    ``max_postings`` lowest doc ids across 32 parallel tasks, then the
    term-level merge ranks at most 32·max_postings survivors (the global
    K smallest are always within their bucket's K smallest). A single
    term-partitioned window would funnel a stop-word's entire posting
    set through one task's sort (review catch) — the same hot-key
    pathology the salting helpers exist for. df / tf stay exact over ALL
    occurrences; only the sample list is capped, and the cap is part of
    the operator contract (mirrored by the oracle).

    Physical shape: explode → (term, doc) partial-agg'd count
    (persisted — it feeds both the stats aggregate and the candidate
    path; at warehouse scale this frame IS the posting list) →
    salt-bucketed cap windows → bounded term-level merge → term-keyed
    join with the exact stats. Output: term, df, tf_total (BIGINT),
    postings (comma-joined string — strings, not arrays, so results hash
    across engines).
    """
    from pyspark.sql import Window

    from aos_spark.cache import persist_tracked

    occ = ensure_min_partitions(df).select(
        id_col, F.explode(tokens(text_col)).alias("term")
    )
    per_doc = persist_tracked(
        occ.groupBy("term", id_col).agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("tf_total"),
    )
    n_salts = 32
    w1 = Window.partitionBy("term", "__salt").orderBy(id_col)
    cand = (
        per_doc.withColumn(
            "__salt", F.pmod(F.hash(F.col(id_col)), F.lit(n_salts))
        )
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= max_postings)
    )
    postings = cand.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.sort_array(F.collect_list(F.col(id_col))),
                    1,
                    max_postings,
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings")
    )
    return stats.join(postings, "term").filter(F.col("df") >= min_df)


def cooccurrence_lift(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_pair_count: int = 5,
) -> DataFrame:
    """Collocation mining: within-document term co-occurrence scored by
    RATIONAL lift — ``(n_xy · N) / (n_x · n_y)`` (>1 = the pair co-occurs
    more than independence predicts). Lift is monotone with PMI but uses
    no ln(), keeping the repo's cross-libm determinism contract (the
    tf-idf precedent); each factor converts to double exactly below 2^53
    and the score is two multiplies + one division in fixed order.

    Shape: per-doc DISTINCT terms (persisted — feeds the df aggregate,
    both pair-join sides, and the doc count) → doc-keyed self-join whose
    fan-out is bounded by (distinct terms per doc)², i.e. document
    length, never corpus size → (term_a, term_b) count with map-side
    combine; ``min_pair_count`` bounds the output to recurring pairs.
    Term document frequencies are vocabulary-sized and broadcast back.
    """
    from aos_spark.cache import persist_tracked

    # (r16: spread guard measured 0.85× here — reverted, see
    # ensure_min_partitions)
    td = persist_tracked(
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.array_distinct(tokens(text_col))).alias("term"),
        )
    )
    tf = td.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    nd = td.agg(F.count_distinct("doc").alias("__n"))
    pairs = (
        td.select("doc", F.col("term").alias("term_a"))
        .join(td.select("doc", F.col("term").alias("term_b")), "doc")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= min_pair_count)
    )
    out = (
        pairs.join(
            F.broadcast(tf.select(F.col("term").alias("term_a"), F.col("dfreq").alias("df_a"))),
            "term_a",
        )
        .join(
            F.broadcast(tf.select(F.col("term").alias("term_b"), F.col("dfreq").alias("df_b"))),
            "term_b",
        )
        .crossJoin(F.broadcast(nd))
    )
    return out.select(
        "term_a",
        "term_b",
        "n_xy",
        "df_a",
        "df_b",
        round_ratio6(
            F.col("n_xy").cast("decimal(38,0)") * F.col("__n"),
            F.col("df_a").cast("decimal(38,0)") * F.col("df_b"),
        ).alias("lift"),
    )
