"""Small local DataFrames as JVM LocalRelations (no Python at runtime).

``spark.createDataFrame(list_of_tuples, ...)`` routes through
``applySchemaToPythonRDD``: the rows become a PYTHON RDD whose scan
spins up Python workers and unpickles rows at QUERY RUN time — measured
~0.5-1.0 s per run for a 128-row codebook table (llm/pq), charged to
every query that embeds such a frame (guide §4: eliminate the
JVM↔Python boundary). Even ``createDataFrame([], schema)`` is a 4-task
``Scan ExistingRDD`` that runs two jobs.

The fix is NOT a literal-expression frame (an explode over an array of
literal structs): that re-creates the janino pathology pq.py already
documents — a multi-KB expression tree recompiled per action (measured
r16: the 128-row codebook as literal structs took pq_encode from 1.6 s
to 8.2 s warm). A SQL ``VALUES`` inline table instead resolves to a
**LocalRelation** during analysis — the rows become DATA held by the
plan, not expressions: zero codegen, zero Python, and broadcast builds
read them directly.

Callers: the PQ codebooks (llm/pq) and every driver-local frame of the
initialize / update / patch path — the zone dim and the idempotency
candidate (pipeline/jobs), and the run-log, completion and
country-registry rows (pipeline/control). The control plane feeds
this function storm ids and exception text, so STRING values never enter
the SQL text: ``spark.sql`` runs variable substitution on its text
(``${env:HOME}`` inside a spliced literal would come back as the home
directory) and a quote or backslash would need engine-specific escaping.
Strings are bound as named parameters instead, which still fold to a
LocalRelation. Numbers stay text literals: binding the 768 values of a
128-row codebook doubled its build time. Column names are backtick-quoted
and integral values are range-checked (a non-ANSI cast overflows to NULL
silently).

Intended for SMALL frames (≤ a few thousand rows) of simple types;
larger driver-side data should be written to storage or parallelized.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_INT_RANGES = {
    T.ByteType: 8,
    T.ShortType: 16,
    T.IntegerType: 32,
    T.LongType: 64,
}


def _quote_name(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_literal(v, dt: T.DataType, args: dict) -> str:
    ddl = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {ddl})"
    if isinstance(v, bool):
        return f"CAST({'TRUE' if v else 'FALSE'} AS {ddl})"
    if isinstance(v, int):
        bits = _INT_RANGES.get(type(dt))
        if bits is not None and not -(2 ** (bits - 1)) <= v < 2 ** (bits - 1):
            raise ValueError(f"literal_frame: {v} out of range for {ddl}")
        return f"CAST({v} AS {ddl})"
    if isinstance(v, float):
        # repr() is the shortest round-trip decimal form; parsing it as
        # a double yields the identical IEEE value in any engine
        return f"CAST('{v!r}' AS {ddl})"
    if isinstance(v, Decimal):
        return f"CAST('{v}' AS {ddl})"
    if isinstance(v, str):
        name = f"p{len(args)}"
        args[name] = v
        return f"CAST(:{name} AS {ddl})"
    raise TypeError(f"literal_frame: unsupported value {v!r} for {ddl}")


def literal_frame(
    spark: SparkSession,
    rows: list[tuple],
    schema: str | T.StructType,
) -> DataFrame:
    """Build a small DataFrame from driver-local rows as a SQL VALUES
    inline table (analyzer-folded to a LocalRelation — plain data, no
    Python RDD and no literal expression tree at runtime). ``schema`` is
    a DDL string (``"a INT, b DOUBLE"``) or a StructType; every value is
    cast to its field's type, so None/ints/floats/strings/bools/Decimals
    all land with the declared type. No rows gives an empty frame of the
    schema (one all-NULL row under ``LIMIT 0``, pruned by the optimizer
    to an empty LocalRelation)."""
    st = (
        T._parse_datatype_string(schema)
        if isinstance(schema, str)
        else schema
    )
    cols = ", ".join(_quote_name(f.name) for f in st.fields)
    args: dict[str, str] = {}
    body = ",\n".join(
        "("
        + ", ".join(
            _sql_literal(v, f.dataType, args) for v, f in zip(row, st.fields)
        )
        + ")"
        for row in (rows or [(None,) * len(st.fields)])
    )
    limit = "" if rows else " LIMIT 0"
    return spark.sql(
        f"SELECT * FROM (VALUES {body}) AS __lf({cols}){limit}", args=args or None
    )
