"""literal_frame: exact round trips, fail-fast ranges, and the JVM-only
plan it promises (LocalRelation; no Python-RDD scan, even when empty).
Also locks the pipeline and report layers onto it: no
``createDataFrame(`` call may come back there."""

from __future__ import annotations

import ast
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import pytest

from aos_spark.io.local_frame import literal_frame

ALL_TYPES = (
    "a BOOLEAN, b TINYINT, c SMALLINT, d INT, e BIGINT, f FLOAT, g DOUBLE, "
    "h DECIMAL(18,2), i STRING, j TIMESTAMP, k DATE"
)

TRICKY_STRINGS = [
    "storm ${env:HOME}",
    "${spark:x}",
    "${hivevar:y} and ${z}",
    "it's",
    'say "hi"',
    "back\\slash\\",
    "\\'",
    "new\nline\ttab\r",
    "héllo ☃ 日本語 🌀",
    "",
    "-- not a comment",
    "/* nor this */",
    ":p0",
    "?",
]


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_strings_round_trip_exactly(spark):
    df = literal_frame(spark, [(i, s) for i, s in enumerate(TRICKY_STRINGS)],
                       "i INT, s STRING")
    got = [r["s"] for r in sorted(df.collect(), key=lambda r: r["i"])]
    assert got == TRICKY_STRINGS


def test_null_of_every_type(spark):
    df = literal_frame(spark, [(None,) * 11], ALL_TYPES)
    assert df.schema.simpleString() == (
        "struct<a:boolean,b:tinyint,c:smallint,d:int,e:bigint,f:float,"
        "g:double,h:decimal(18,2),i:string,j:timestamp,k:date>"
    )
    assert list(df.collect()[0]) == [None] * 11


def test_values_keep_declared_types(spark):
    rows = [
        (True, -128, -32768, -(2**31), -(2**63), 1.5, 0.1,
         Decimal("-12.25"), "x", None, None),
        (False, 127, 32767, 2**31 - 1, 2**63 - 1, -0.0, 1e300,
         Decimal("99.99"), "y", None, None),
    ]
    got = [tuple(r) for r in literal_frame(spark, rows, ALL_TYPES).collect()]
    assert got == rows


def test_ddl_and_struct_schema_agree(spark):
    from pyspark.sql import types as T

    st = T.StructType([T.StructField("s", T.StringType()),
                       T.StructField("n", T.LongType())])
    a = literal_frame(spark, [("q'", 7)], st)
    b = literal_frame(spark, [("q'", 7)], "s STRING, n BIGINT")
    assert a.schema == b.schema
    assert a.collect() == b.collect()


@pytest.mark.parametrize(
    "value,ddl",
    [(2**63, "BIGINT"), (-(2**63) - 1, "BIGINT"), (2**31, "INT"),
     (128, "TINYINT"), (-32769, "SMALLINT")],
)
def test_out_of_range_int_raises(spark, value, ddl):
    with pytest.raises(ValueError, match="out of range"):
        literal_frame(spark, [(value,)], f"v {ddl}")


def test_unsupported_value_raises(spark):
    with pytest.raises(TypeError, match="unsupported"):
        literal_frame(spark, [(datetime(2024, 1, 1),)], "t TIMESTAMP")
    with pytest.raises(TypeError, match="unsupported"):
        literal_frame(spark, [(date(2024, 1, 1),)], "d DATE")


def test_column_names_are_quoted(spark):
    df = literal_frame(spark, [(1, 2)], "`a b` INT, `c``d` INT")
    assert df.columns == ["a b", "c`d"]
    assert tuple(df.collect()[0]) == (1, 2)


def test_optimized_plan_is_local_relation(spark):
    df = literal_frame(spark, [("s", 1), ("t", 2)], "s STRING, n INT")
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_empty_frame_is_jvm_only(spark):
    df = literal_frame(spark, [], "s STRING, n BIGINT, x DOUBLE")
    assert df.schema.simpleString() == "struct<s:string,n:bigint,x:double>"
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    before = _jobs(spark)
    assert df.collect() == []
    assert _jobs(spark) == before


def _pipeline_and_report_nodes():
    root = Path(__file__).resolve().parent.parent / "aos_spark"
    for sub in ("pipeline", "report"):
        for path in sorted((root / sub).rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                yield f"{path.relative_to(root)}:{getattr(node, 'lineno', 0)}", node


def test_no_create_dataframe_in_pipeline_or_report():
    """The initialize/update/patch path builds its driver-local frames
    with literal_frame; a ``createDataFrame`` call would bring back a
    Python-RDD scan (Python workers on every run)."""
    found = [
        where
        for where, node in _pipeline_and_report_nodes()
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert found == []


def test_pipeline_and_report_do_not_import_query_modules():
    """Loading the 203-query registry costs a timed pipeline op a fraction
    of a second; the pipeline and report own their dims (ZONES,
    FACILITY_KINDS) and never import ``aos_spark.queries*``."""
    found = []
    for where, node in _pipeline_and_report_nodes():
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mods = [node.module or ""]
            if node.module == "aos_spark":
                mods += [f"aos_spark.{a.name}" for a in node.names]
        else:
            continue
        if any(m.startswith("aos_spark.queries") for m in mods):
            found.append(where)
    assert found == []


def test_ann_modules_rank_only_through_topk_per_group():
    """llm/similarity.py and llm/pq.py hand-roll no rank window: every
    ANN operator ranks through ops/topk.topk_per_group."""
    root = Path(__file__).resolve().parent.parent / "aos_spark" / "llm"
    found = []
    for name in ("similarity.py", "pq.py"):
        for node in ast.walk(ast.parse((root / name).read_text())):
            ident = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else node.name if isinstance(node, ast.alias)
                else None
            )
            if ident in ("Window", "row_number"):
                found.append(f"{name}:{node.lineno}")
    assert found == []


def test_token_regex_lives_only_in_llm_dedup():
    """Outside llm/dedup.py no F.split / F.regexp_replace call spells the
    token rule's pattern: every tokenizer goes through llm/dedup.tokens
    (or normalized_text). Oracle SQL strings are not call arguments."""
    root = Path(__file__).resolve().parent.parent / "aos_spark"
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "llm" / "dedup.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("split", "regexp_replace")
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                continue
            if any(
                isinstance(a, ast.Constant)
                and isinstance(a.value, str)
                and "a-z0-9" in a.value
                for a in node.args
            ):
                found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert found == []
