"""Seeded input generator for the benchmark.

Writes the ten registry tables (the TPC-H-ish star schema plus `events`,
`documents` and `embeddings`) with the schemas and value distributions of
the engine's sf0.01 test tables, and, for the `forecast_cycle` workload, one
jittered `events` table per forecast. Everything is a pure function of the
seed: the same seed gives byte-identical parquet files.

Layout under the output directory:

    base/<table>.parquet          the ten tables (events unjittered)
    forecast_<i>/<table>.parquet  symlinks to base/, except a jittered events
    patch.parquet                 (tile_id, value) rows for the `patch` op

Run on its own to inspect the files:

    python3 perfbench/inputs.py --seed 7 --out /tmp/bench_inputs
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.01 test tables
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "users": 150,
    "documents": 500, "embeddings": 500,
}
EMBED_DIM = 64
FORECASTS = 2  # a chain of two forecasts of one storm, 6 h apart
PATCH_ROWS = 50

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["large", "hot", "blue", "old", "small", "red", "cold", "green"]
NOUNS = ["ring", "bolt", "plate", "widget", "gizmo", "gear", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def base_tables(seed: int) -> dict[str, pa.Table]:
    """The ten registry tables for one seed."""
    rng = np.random.default_rng([seed, 0])
    n = SIZES
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), i64),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _choice(rng, SEGMENTS, n["customer"])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    pk = np.arange(n["part"])
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": _choice(rng, names, n["part"]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": _choice(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
        "o_orderpriority": _choice(rng, PRIORITIES, n["orders"])})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0.0, 0.10, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": _choice(rng, ["A", "N", "R"], m),
        "l_linestatus": _choice(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m)})
    t["events"] = _events(rng)
    t["documents"] = _documents(rng)
    vec = rng.standard_normal((n["embeddings"], EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32)})
    return t


def _events(rng) -> pa.Table:
    """The forecast fact stream: `user_id` is the tile, `event_type` the
    ensemble member and `value` the wind intensity."""
    n = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, SIZES["users"], n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def _documents(rng) -> pa.Table:
    """Bag-of-words documents; one in twenty is a near-duplicate of an
    earlier document (its text plus one extra token)."""
    n = SIZES["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def jittered_events(events: pa.Table, seed: int, forecast: int) -> pa.Table:
    """Same rows and schema as `events`, with each ensemble member's wind
    scaled by its own factor plus a per-row jitter."""
    rng = np.random.default_rng([seed, 1, forecast])
    members = events.column("event_type").to_numpy(zero_copy_only=False)
    scale = dict(zip(EVENT_TYPES, rng.uniform(0.9, 1.1, len(EVENT_TYPES))))
    factor = np.array([scale[m] for m in members]) * rng.uniform(0.95, 1.05, len(members))
    wind = events.column("value").to_numpy()
    value = np.maximum(np.round(wind * factor, 2), 0.01)
    return events.set_column(events.schema.get_field_index("value"), "value", pa.array(value))


def forecast_times(n: int = FORECASTS) -> list[str]:
    """Compact forecast timestamps, 6 h apart (report J13 reads t − 6 h)."""
    t0 = datetime(2024, 9, 1, 0)
    return [(t0 + timedelta(hours=6 * i)).strftime("%Y%m%d%H%M%S") for i in range(n)]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def generate(seed: int, out: str) -> dict[str, str]:
    """Write every input for `seed` under `out`; return the table dirs."""
    tables = base_tables(seed)
    base = os.path.join(out, "base")
    os.makedirs(base, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(base, f"{name}.parquet"))
    dirs = {"base": base}
    for i in range(FORECASTS):
        d = os.path.join(out, f"forecast_{i}")
        os.makedirs(d, exist_ok=True)
        for name in tables:
            if name != "events":
                os.symlink(os.path.join(base, f"{name}.parquet"), os.path.join(d, f"{name}.parquet"))
        _write(jittered_events(tables["events"], seed, i), os.path.join(d, "events.parquet"))
        dirs[f"forecast_{i}"] = d
    rng = np.random.default_rng([seed, 2])
    tiles = np.sort(rng.choice(SIZES["users"], PATCH_ROWS, replace=False))
    _write(
        pa.table({"tile_id": pa.array(tiles, pa.int64()),
                  "value": np.round(rng.uniform(0.0, 5000.0, PATCH_ROWS), 2)}),
        os.path.join(out, "patch.parquet"),
    )
    return dirs


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(generate(args.seed, args.out))
