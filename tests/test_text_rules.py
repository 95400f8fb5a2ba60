"""PII redaction and Gopher-style repetition rules (llm/text)."""

from aos_spark.llm import text as TX


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pii_counts_and_redaction(spark):
    df = _docs(
        spark,
        [
            (1, "mail a.b+c@ex-ample.co.uk or bob@x.io, ip 10.0.0.1 ok"),
            (2, "ssn 123-45-6789 phone 555-123-4567 done"),
            (3, "no pii here at all"),
        ],
    )
    out = {r.doc_id: r for r in TX.pii_features(df).collect()}
    assert (out[1].n_email, out[1].n_ip, out[1].n_ssn, out[1].n_phone) == (2, 1, 0, 0)
    assert out[1].redacted == "mail <EMAIL> or <EMAIL>, ip <IP> ok"
    assert (out[2].n_ssn, out[2].n_phone) == (1, 1)
    assert out[2].redacted == "ssn <SSN> phone <PHONE> done"
    assert out[3].redacted == out[3].text and out[3].n_email == 0


def test_pii_ssn_phone_shapes_disjoint(spark):
    df = _docs(spark, [(1, "555-123-4567"), (2, "123-45-6789")])
    out = {r.doc_id: r for r in TX.pii_features(df).collect()}
    assert (out[1].n_phone, out[1].n_ssn) == (1, 0)
    assert (out[2].n_phone, out[2].n_ssn) == (0, 1)


def test_repetition_stats_known_values(spark):
    df = _docs(
        spark,
        [
            (1, "a a a a a a"),          # 5 identical 2-grams, 2 identical 5-grams
            (2, "one two three four"),    # all 2-grams distinct, <5 tokens
            (3, "x y x y x y x y x y"),  # "x y"/"y x" alternate; 5-grams repeat
            (4, "solo"),                  # below both gram sizes
        ],
    )
    out = {r.doc_id: r for r in TX.repetition_stats(df).collect()}
    assert out[1].top_2gram_frac == 1.0
    assert out[1].dup_5gram_frac == 0.5          # 2 occurrences, 1 distinct
    assert out[2].top_2gram_frac == round(1 / 3, 6)
    assert out[2].dup_5gram_frac == 0.0
    assert out[3].top_2gram_frac == round(5 / 9, 6)
    # 6 5-gram occurrences, 2 distinct ("x y x y x", "y x y x y")
    assert out[3].dup_5gram_frac == round(1 - 2 / 6, 6)
    assert (out[4].top_2gram_frac, out[4].dup_5gram_frac) == (0.0, 0.0)


def test_corpus_filter_first_failing_rule_order(spark):
    """Each crafted doc trips exactly the FIRST applicable rule."""
    from aos_spark.llm.text import corpus_filter

    good = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [
        (1, None),                                   # empty (null)
        (2, "   "),                                  # empty (whitespace)
        (3, "too few words here"),                   # too_short
        (4, "12345 67890 " * 10),                    # low_alpha (enough tokens)
        (5, ("w.,;! " * 30).strip()),                # low_alpha fires before high_punct
        (6, ("aaaaaa!!!! " * 10).strip()),          # high_punct (alpha .55, punct .37)
        (7, ("same " * 40).strip()),                 # repetitive (ttr = 1/40)
        (8, good),                                   # keep
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["keep"], r["reject_reason"])
           for r in corpus_filter(df).collect()}
    assert got[1] == (False, "empty")
    assert got[2] == (False, "empty")
    assert got[3] == (False, "too_short")
    assert got[4] == (False, "low_alpha")
    assert got[5] == (False, "low_alpha")
    assert got[6] == (False, "high_punct")
    assert got[7] == (False, "repetitive")
    assert got[8] == (True, None)


def test_build_vocab_min_df_and_per_doc_distinct(spark):
    """df counts DOCUMENTS, not occurrences: a term repeated 50× in one
    doc has df=1 and is cut by min_df=2."""
    from aos_spark.llm.text import build_vocab

    rows = [(1, "apple banana " + "spam " * 50), (2, "apple cherry"),
            (3, "apple banana")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["term"]: r["df"] for r in build_vocab(df, min_df=2).collect()}
    assert got == {"apple": 3, "banana": 2}


def test_cooccurrence_lift_known_values(spark):
    from aos_spark.llm.text import cooccurrence_lift

    # 'a b' together in 4 docs, 'a' alone in 2, 'b' alone in 2, 'c d' in 4
    rows = [(i, "a b") for i in range(4)]
    rows += [(10 + i, "a") for i in range(2)]
    rows += [(20 + i, "b") for i in range(2)]
    rows += [(30 + i, "c d") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["term_a"], r["term_b"]): r
        for r in cooccurrence_lift(df, min_pair_count=2).collect()
    }
    ab = out[("a", "b")]
    # N=12, n_ab=4, df_a=6, df_b=6 -> lift = 4*12/(6*6) = 1.333333
    assert ab["n_xy"] == 4 and ab["df_a"] == 6 and ab["df_b"] == 6
    assert abs(ab["lift"] - 4 * 12 / 36) < 1e-6
    cd = out[("c", "d")]
    # perfectly-associated pair: lift = 4*12/(4*4) = 3
    assert abs(cd["lift"] - 3.0) < 1e-6
    assert cd["lift"] > ab["lift"]


def test_cooccurrence_counts_doc_once_despite_repeats(spark):
    from aos_spark.llm.text import cooccurrence_lift

    df = spark.createDataFrame(
        [(i, "x y x y x") for i in range(3)], ["doc_id", "text"]
    )
    r = cooccurrence_lift(df, min_pair_count=1).collect()[0]
    assert (r["term_a"], r["term_b"]) == ("x", "y")
    assert r["n_xy"] == 3  # distinct per doc, not token-level


def test_language_confusion_shares_sum_to_one(spark, sf_dir):
    from aos_spark.queries.text import q_language_confusion
    import pyspark.sql.functions as F

    out = q_language_confusion(spark, sf_dir)
    sums = out.groupBy("labeled_lang").agg(F.sum("share").alias("s")).collect()
    assert sums and all(abs(r["s"] - 1.0) < 1e-4 for r in sums)


def test_bpe_merge_candidates_counts(spark, tmp_path):
    """'abab' x3 + 'ab' x2: pair 'ab' appears 2x in abab (positions 1,3)
    and 1x in ab -> weighted count 3*2 + 2*1 = 8; 'ba' only inside abab."""
    import os

    from aos_spark.queries.text import q_bpe_merge_candidates

    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.createDataFrame(
        [(1, "abab abab abab ab ab", "en", "s", 20)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).write.parquet(os.path.join(d, "documents.parquet"))
    out = {r["pair"]: r for r in q_bpe_merge_candidates(spark, d).collect()}
    assert out["ab"]["merge_count"] == 8
    assert out["ba"]["merge_count"] == 3
    assert out["ab"]["rank_in_group"] == 1


def test_quality_features_null_text_and_whitespace_mean(spark):
    """r9 review: NULL text made marker_hits -2 (size(split(NULL)) = -1
    under legacy sizeOfNull), driving a NEGATIVE stopword_ratio and a
    quality score around -3; and mean_token_len's (chars - tokens + 1)
    shortcut overstated the mean on padded text and reported 1.0 for
    empty docs."""
    from aos_spark.llm.text import quality_features

    df = spark.createDataFrame(
        [(1, None), (2, " a  b "), (3, ""), (4, "the cat and the dog")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert out[1]["stopword_ratio"] == 0.0   # pre-fix: -2.0
    assert out[2]["mean_token_len"] == 1.0   # ' a  b ': 2 chars / 2 tokens
    assert out[3]["mean_token_len"] == 0.0   # empty doc: no tokens
    assert out[4]["mean_token_len"] == 3.0   # 15 non-space chars / 5 tokens
