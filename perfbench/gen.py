"""Seeded input generator for the benchmark.

Writes the ten standard tables (region nation customer supplier part
orders lineitem events documents embeddings) as parquet, with the same
schemas and value shapes as the repository's test data, so every query
in the mix and every lake job runs on them unchanged. The same
``(seed, sf)`` always gives byte-identical tables.

Row counts scale with ``sf`` like the test data: sf0.01 has 60,000
lineitems and 10,000 events.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "valve"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
US_PER_DAY = 86_400_000_000


def _micros(d: dt.date) -> int:
    return int((dt.datetime(d.year, d.month, d.day) - dt.datetime(1970, 1, 1))
               .total_seconds()) * 1_000_000


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    lo, hi = _micros(first) // US_PER_DAY, _micros(last) // US_PER_DAY
    return pa.array(rng.integers(lo, hi + 1, n) * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf), "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 10),
        "documents": int(50_000 * sf), "embeddings": int(50_000 * sf),
    }


def _region(rng, n):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n):
    k = n["customer"]
    return pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, k),
    })


def _supplier(rng, n):
    k = n["supplier"]
    return pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    })


def _part(rng, n):
    k = n["part"]
    adj, noun = rng.choice(PART_ADJ, k), rng.choice(PART_NOUN, k)
    return pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, k)],
        "p_type": rng.choice(PART_TYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 1),
    })


def _orders(rng, n):
    k = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": rng.choice(["F", "O", "P"], k),
        "o_totalprice": _money(rng, k, 1000, 500_000),
        "o_orderdate": _days(rng, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, k),
    })


def _lineitem(rng, n):
    k = n["lineitem"]
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900, 105_000),
        "l_discount": rng.integers(0, 11, k) / 100,
        "l_tax": rng.integers(0, 9, k) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], k),
        "l_linestatus": rng.choice(["F", "O"], k),
        "l_shipdate": _days(rng, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })


def _events(rng, n):
    k = n["events"]
    t0 = _micros(dt.date(2024, 1, 1))
    ts = np.sort(rng.integers(t0, t0 + 30 * US_PER_DAY, k))
    return pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], k),
        "event_type": rng.choice(EVENT_TYPES, k),
        "value": np.maximum(np.round(rng.exponential(50.0, k), 2), 0.01),
        "props": [json.dumps({"k": int(v)}) for v in rng.integers(0, 100, k)],
    })


def _documents(rng, n):
    k = n["documents"]
    texts = [" ".join(rng.choice(WORDS, w)) for w in rng.integers(10, 100, k)]
    return pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, k, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    k = n["embeddings"]
    vec = rng.standard_normal((k, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, k).astype(np.int32),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def tables(seed: int, sf: float, only=TABLES) -> dict[str, pa.Table]:
    """Build the named tables in memory. Each table draws from its own
    stream of the seed, so a subset equals the same tables of the whole."""
    n = _sizes(sf)
    return {
        name: _BUILDERS[name](np.random.default_rng([seed, TABLES.index(name)]), n)
        for name in only
    }


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
