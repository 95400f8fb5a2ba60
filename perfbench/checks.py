"""Output checks, run outside the timed process.

Reads: each query's order-insensitive result digest must equal the digest
of its DuckDB oracle (`aos_spark.queries.ORACLES`) over the same inputs.
The canonical form is the one `scripts/check_oracle.py` uses: columns in
name order, each value tagged with its type, floats bit-exact.

Forecast cycle: the warehouse the pass wrote is recomputed from the
inputs with DuckDB: every tile probability, the report totals and their
deltas, the run log and the patched base layer.

Each problem is charged to the op whose output it concerns, so the
parent counts failed ops, not messages.
"""

from __future__ import annotations

import json

from check_oracle import TABLES, value_hash


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, dict]:
    import duckdb

    from aos_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            res = con.execute(ORACLES[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = {"rows": len(rows), "columns": sorted(cols), "digest": value_hash(rows, cols)}
        return out
    finally:
        con.close()


def check_reads(spark_results: dict[str, dict], oracle: dict[str, dict]) -> list[tuple[str, str]]:
    """(query, problem) for every query whose result differs from its oracle."""
    problems = []
    for name, want in oracle.items():
        have = spark_results.get(name)
        if have is None:
            problems.append((name, "no result"))
        elif have != want:
            problems.append((name, f"spark {have} != oracle {want}"))
    return problems


def check_forecast_cycle(inputs: str, warehouse: str, storm: str, forecasts: list[str],
                         reports: dict[str, str], thresholds: list[int],
                         ensemble: int) -> list[tuple[str, str]]:
    """Recompute the pass's outputs from the inputs; (op, problem) for
    every output that differs, charged to the op that wrote it."""
    import duckdb

    problems: list[tuple[str, str]] = []
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    try:
        th_list = ", ".join(str(t) for t in thresholds)
        base_ev = f"'{inputs}/base/events.parquet'"
        # base layer population before the patch: Σ value per tile
        con.execute(f"""CREATE TABLE pop AS SELECT user_id AS tile_id,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS population
            FROM {base_ev} GROUP BY user_id""")

        def view(name):
            return (f"read_parquet('{warehouse}/views/{name}/**/*.parquet', "
                    "hive_partitioning=true, hive_types_autocast=false)")

        for i, ft in enumerate(forecasts):
            op = f"update_{i}"
            ev = f"'{inputs}/forecast_{i}/events.parquet'"
            want_prob = f"""SELECT p.tile_id, t.th AS wind_threshold,
                COUNT(DISTINCT CASE WHEN e.value >= t.th THEN e.event_type END) / {ensemble}::DOUBLE AS probability
                FROM pop p CROSS JOIN (SELECT UNNEST([{th_list}]) AS th) t
                LEFT JOIN {ev} e ON e.user_id = p.tile_id GROUP BY ALL"""
            got_prob = f"""SELECT tile_id, CAST(wind_threshold AS INT) AS wind_threshold, probability
                FROM {view('tiles')} WHERE storm = '{storm}' AND forecast_compact = '{ft}'"""
            diff = con.execute(f"""SELECT
                (SELECT COUNT(*) FROM (({want_prob}) EXCEPT ALL ({got_prob}))),
                (SELECT COUNT(*) FROM (({got_prob}) EXCEPT ALL ({want_prob})))""").fetchone()
            if diff != (0, 0):
                problems.append((op, f"tiles {ft}: {diff[0]} expected rows missing, {diff[1]} unexpected"))
            for name in ("tiles", "facilities"):
                bad = con.execute(f"""SELECT COUNT(*) FROM {view(name)}
                    WHERE storm = '{storm}' AND forecast_compact = '{ft}'
                    AND (probability IS NULL OR probability NOT BETWEEN 0 AND 1)""").fetchone()[0]
                if bad:
                    problems.append((op, f"views/{name} {ft}: {bad} probabilities outside [0, 1]"))
            if ft not in reports:  # already charged to the op by the worker
                continue
            report = json.loads(reports[ft])
            totals = dict(con.execute(f"""SELECT CAST(wind_threshold AS VARCHAR),
                CEIL(CAST(SUM(CAST(population * probability AS DECIMAL(18,6))) AS DOUBLE))
                FROM ({want_prob}) w JOIN pop USING (tile_id) GROUP BY wind_threshold""").fetchall())
            for th in map(str, thresholds):
                got = report["thresholds"].get(th, {}).get("expected_population_impacted")
                if got != totals.get(th):
                    problems.append((op, f"report {ft} threshold {th}: {got} != {totals.get(th)}"))
            if report["has_previous"] != (i > 0):
                problems.append((op, f"report {ft}: has_previous {report['has_previous']}"))
            if i > 0 and forecasts[i - 1] in reports:
                prev = json.loads(reports[forecasts[i - 1]])
                key = "expected_population_impacted"
                for th in map(str, thresholds):
                    want = report["thresholds"][th][key] - prev["thresholds"][th][key]
                    got = report["deltas_vs_previous"].get(f"{th}:{key}")
                    if got != want:
                        problems.append((op, f"report {ft} delta {th}: {got} != {want}"))
        # the resubmit must add no run; each update logs one SUCCESS
        runs = dict(con.execute(f"""SELECT status, COUNT(*) FROM
            '{warehouse}/control/run_log/*.parquet' GROUP BY status""").fetchall())
        if runs.get("SUCCESS") != len(forecasts) or set(runs) - {"SUCCESS", "IN_PROGRESS"}:
            problems.append(("resubmit_0", f"run log statuses {runs}"))
        patched = con.execute(f"""SELECT COUNT(*) FROM
            read_parquet('{warehouse}/base/tiles/*/*.parquet') b
            JOIN pop USING (tile_id)
            LEFT JOIN '{inputs}/patch.parquet' c USING (tile_id)
            WHERE b.population IS DISTINCT FROM COALESCE(c.value, pop.population)""").fetchone()[0]
        if patched:
            problems.append(("patch_population", f"patched base layer: {patched} tiles differ from the patch"))
    finally:
        con.close()
    return problems
