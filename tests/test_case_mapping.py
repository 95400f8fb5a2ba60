"""Case mapping: the engine session uses the JVM's case mapping, not ICU's
(`aos_spark/session.py` docstring). The two differ on 67 code points for
`lower`, all Unicode 14-16 additions; none maps into [a-z0-9], so the one
tokenizer, `llm/dedup.tokens`, gives the same tokens under either mapping.
The JVM mapping follows the default locale, hence the tr/az/lt guard. The
tokens also match the DuckDB oracles' spellings of the rule."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from aos_spark.llm.dedup import WORD_SPLIT, normalized_text, shingle_frame, tokens
from aos_spark.session import check_case_locale

ICU = "spark.sql.icu.caseMappings.enabled"

# code points whose lower() differs between ICU 77 and the JVM (Java 17)
LOWER_DIFFERS = [
    0x1C89, 0x2C2F, 0xA7C0, 0xA7CB, 0xA7CC, 0xA7D0, 0xA7D6, 0xA7D8, 0xA7DA, 0xA7DC,
    *range(0x10570, 0x1057B), *range(0x1057C, 0x1058B), *range(0x1058C, 0x10593),
    0x10594, 0x10595, *range(0x10D50, 0x10D66),
]


def test_session_has_icu_case_mapping_off(spark):
    assert spark.conf.get(ICU) == "false"


@pytest.mark.parametrize("language", ["tr", "az", "lt"])
def test_locale_guard_raises_for_locale_sensitive_languages(language):
    with pytest.raises(RuntimeError, match=language):
        check_case_locale(language)


def test_locale_guard_passes_for_en():
    check_case_locale("en")


def test_shingle_tokens_equal_under_both_case_mappings(spark):
    assert len(LOWER_DIFFERS) == 67
    extra = ["\u00c9", "\u00df", "\u212a"]  # É, ß, Kelvin sign (lower() is "k")
    chars = [chr(c) for c in LOWER_DIFFERS] + extra
    rows = [(i, f"Ab{ch}Cd x{ch} {ch}Y \u212az \u212aelvin caf\u00c9 Stra\u00dfe") for i, ch in enumerate(chars)]
    rows.append((len(rows), " ".join(chars)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(icu: str, n: int):
        saved = spark.conf.get(ICU)
        spark.conf.set(ICU, icu)
        try:
            return sorted((r["id"], r["shingles"]) for r in shingle_frame(df, n=n).collect())
        finally:
            spark.conf.set(ICU, saved)

    for n in (1, 3):
        on, off = shingles("true", n), shingles("false", n)
        assert on == off
        if n == 1:  # the Kelvin sign lowers to an ASCII k in both mappings
            assert "kelvin" in off[0][1] and "kz" in off[0][1]
    assert spark.conf.get(ICU) == "false"


EDGE_TEXTS = [
    "İstanbul DİYARBAKIR",
    "  --Hello, World!-- ",
    "...",
    "",
    None,
    "42 is 6x7; 0.5",
    "don't 'quote' it's",
    "a",
    "Mixed\tWHITE\nspace",
]


def _duck(sql_expr: str) -> list:
    rows = ", ".join(
        "(%d, %s)" % (i, "NULL" if t is None else "'" + t.replace("'", "''") + "'")
        for i, t in enumerate(EDGE_TEXTS)
    )
    return [r[0] for r in duckdb.sql(
        f"SELECT {sql_expr} FROM (VALUES {rows}) v(i, t) ORDER BY i"
    ).fetchall()]


def test_tokens_match_the_duckdb_oracle_spellings(spark):
    df = spark.createDataFrame(list(enumerate(EDGE_TEXTS)), "i int, t string")
    got = df.orderBy("i").select(
        tokens("t").alias("a"),
        tokens("t", WORD_SPLIT).alias("w"),
        F.array_remove(F.split(normalized_text("t"), r"\s+"), "").alias("n"),
    ).collect()
    assert [r["a"] for r in got] == _duck(
        "list_filter(string_split_regex(lower(t), '[^a-z0-9]+'), x -> x <> '')"
    )
    assert [r["w"] for r in got] == _duck(
        "list_filter(string_split_regex(lower(t), '[^a-z0-9'']+'), x -> x <> '')"
    )
    assert [r["a"] for r in got] == [r["n"] for r in got] == _duck(
        "list_filter(string_split_regex(trim(regexp_replace(lower(t), "
        "'[^a-z0-9]+', ' ', 'g')), '\\s+'), x -> x <> '')"
    )
    assert got[0]["a"] == ["istanbul", "diyarbakir"]
