"""Cross-engine exactness of the moment-statistics pipeline on
knife-edge inputs — the round-8/9 `order_autocorrelation` divergence.

Root cause (found round 9, deterministic, NOT a flake): feeding an
arbitrary double into the moment machinery lets each engine cast
double→DECIMAL(18,6) its own way. Spark correctly rounds the double's
shortest decimal representation half-up (BigDecimal path); DuckDB
multiplies by 10^6 in double space first and rounds that — a double
rounding. Values whose scale-6 expansion sits on a .5 boundary flip
one unit apart, which moved `sum_xy` by 1 in 3 year-groups at sf0.1
(evidence: MISMATCH_LOG.jsonl, kind=cross_engine, 2026-08-15).

The fix makes the daily series exact BEFORE any decimal cast: integer
micro-units via integral division (Spark ``div`` / DuckDB ``//``), then
an exact decimal multiply back to currency. These tests lock both the
hazard (so the contract stays documented) and the fix (end-to-end
engine equality on a fixture built to sit on the boundary).
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pytest
from pyspark.sql import functions as F

# A double whose DECIMAL(18,6) cast provably differs between engines:
# shortest repr 902147.5838465 — Spark rounds the trailing 5 up, DuckDB's
# scaled double lands a hair below the half and rounds down.
KNIFE_EDGE = float.fromhex("0x1.b88072aededafp+19")


def test_double_to_decimal6_cast_is_cross_engine_unsafe(spark):
    """The hazard itself: the two engines disagree on this cast. If this
    test ever fails, an engine upgrade changed cast semantics — re-audit
    every oracle that casts a computed double to a decimal."""
    s = spark.sql(
        f"SELECT CAST(CAST({KNIFE_EDGE!r} AS DOUBLE) AS DECIMAL(18,6)) AS d"
    ).collect()[0]["d"]
    d = duckdb.sql(
        f"SELECT CAST(CAST({KNIFE_EDGE!r} AS DOUBLE) AS DECIMAL(18,6))"
    ).fetchone()[0]
    assert str(s) == "902147.583847", f"spark cast changed: {s}"
    assert str(d) == "902147.583846", f"duckdb cast changed: {d}"


@pytest.fixture(scope="module")
def knife_edge_orders(tmp_path_factory):
    """32 orders/day with an odd cents total: the daily mean in micro
    units is exactly k + 0.5 (cents·10^4/32 = cents·625/2, odd/2), the
    rational .5 boundary. With the pre-fix double series this fixture
    flips 2 of 5 days between engines (verified during the round-9
    root-cause); the fixed pipeline must agree bit-exactly."""
    rows = []
    rng = random.Random(4)
    for d in range(1, 6):
        day = dt.date(2020, 1, d)
        cents = [rng.randint(100_000, 999_999) for _ in range(32)]
        if sum(cents) % 2 == 0:
            cents[0] += 1
        rows += [(day, c / 100) for c in cents]
    path = str(tmp_path_factory.mktemp("autocorr") / "orders")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "o_orderdate": [r[0] for r in rows],
                "o_totalprice": [r[1] for r in rows],
            }
        ),
        f"{path}.parquet",
    )
    return path


def test_autocorrelation_engines_agree_on_boundary_fixture(
    spark, knife_edge_orders
):
    """End-to-end: q_order_autocorrelation vs its DuckDB oracle on the
    boundary fixture, every output value compared as float hex (the
    driver's canonicalization). Regressing the series to a double (the
    round-8 shape) makes this fail."""
    from aos_spark.queries.stats import ORACLE_AUTOCORR, q_order_autocorrelation

    sf_dir = knife_edge_orders.rsplit("/", 1)[0]
    # the fixture file is <dir>/orders.parquet, matching _t()'s layout
    sdf = q_order_autocorrelation(spark, sf_dir)
    srow = {r["yr"]: r.asDict() for r in sdf.collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    cols = [d[0] for d in con.execute(ORACLE_AUTOCORR).description]
    drow = {
        r[cols.index("yr")]: dict(zip(cols, r))
        for r in con.execute(ORACLE_AUTOCORR).fetchall()
    }
    con.close()

    assert srow.keys() == drow.keys() and srow, "year groups differ"
    for yr in srow:
        for c in cols:
            sv, dv = srow[yr][c], drow[yr][c]
            if isinstance(sv, float):
                assert sv.hex() == float(dv).hex(), (
                    f"yr={yr} col={c}: spark {sv!r} != duckdb {dv!r}"
                )
            else:
                assert sv == dv, f"yr={yr} col={c}: {sv!r} != {dv!r}"


def test_autocorrelation_degenerate_years_agree(spark, tmp_path):
    """Shapes the gate SFs may not contain but a future one might (the
    r8 lesson: divergences hide in sf-dependent data shapes): a 2-day
    year gives ONE lagged pair so every (n-1) denominator is zero — both
    engines must emit NULL, not inf/NaN; a zero-variance year must NULL
    only corr; a 1-day year must vanish (lag filter leaves no rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aos_spark.queries.stats import ORACLE_AUTOCORR, q_order_autocorrelation

    rows = [
        (dt.date(2019, 1, 1), 100.01), (dt.date(2019, 1, 2), 250.37),
        (dt.date(2021, 6, 1), 999.99),
        (dt.date(2022, 1, 1), 10.00), (dt.date(2022, 1, 2), 10.00),
        (dt.date(2022, 1, 3), 10.00),
    ]
    pq.write_table(
        pa.table(
            {
                "o_orderdate": [r[0] for r in rows],
                "o_totalprice": [r[1] for r in rows],
            }
        ),
        f"{tmp_path}/orders.parquet",
    )
    srow = {
        r["yr"]: r.asDict()
        for r in q_order_autocorrelation(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'"
    )
    cols = [d[0] for d in con.execute(ORACLE_AUTOCORR).description]
    drow = {
        r[cols.index("yr")]: dict(zip(cols, r))
        for r in con.execute(ORACLE_AUTOCORR).fetchall()
    }
    con.close()
    assert set(srow) == set(drow) == {2019, 2022}  # 2021 vanishes in both
    assert srow[2019]["covar_xy"] is None and drow[2019]["covar_xy"] is None
    assert srow[2022]["stddev_x"] == 0.0 and srow[2022]["corr_xy"] is None
    for yr in srow:
        for c in cols:
            sv, dv = srow[yr][c], drow[yr][c]
            assert (sv is None) == (dv is None), f"yr={yr} {c}: {sv} vs {dv}"
            if isinstance(sv, float):
                assert sv.hex() == float(dv).hex(), f"yr={yr} {c}"
            elif sv is not None:
                assert sv == dv, f"yr={yr} {c}"


def test_autocorr_series_feeds_decimal_not_double(spark, sf_dir):
    """Structural lock: the analyzed plan of the flagship autocorrelation
    must not cast a DOUBLE-typed mean into the moment decimals. The
    exact-micro construction leaves only decimal intermediates, so no
    `cast(avg_price#… as decimal(18,6))` over a double child appears."""
    from aos_spark.queries.stats import q_order_autocorrelation

    plan = (
        q_order_autocorrelation(spark, sf_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
        .lower()
    )
    # the old shape divided two doubles to build the series
    assert "cast(count(1) as double)" not in plan, plan[:800]
    # positive assertion: the integral-division micro path is present
    assert " div " in plan, plan[:800]
