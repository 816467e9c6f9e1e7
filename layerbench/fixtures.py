"""Seeded synthetic input tables for the ``query_mix`` workload.

The queries in ``__spark_entry__.queries()`` read one parquet file per
table from an ``sf_dir``. The benchmark writes those files itself, from
its seed, with the schemas and value domains of the engine's test
fixtures (FIXTURES.md) at the sf0.01 row counts. The DuckDB oracle twins
read the same files, so every answer has a reference.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the documents vocabulary of the engine's fixtures
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # two decimals, like the fixtures: exact in both engines' decimal paths
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def build_tables(seed: int, rows: dict[str, int] | None = None) -> dict[str, pa.Table]:
    """All ten tables, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n = {
        "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
    }
    n.update(rows or {})
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(_SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adjectives = ["red", "blue", "green", "small", "large", "shiny", "matte", "old"]
    nouns = ["plate", "ring", "bolt", "gear", "pipe", "valve", "nut", "screw"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, p)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "MEDIUM", "LARGE", "PROMO", "SMALL"], p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        # as in TPC-H, a third of the customers never order
        "o_custkey": pa.array(rng.choice(np.arange(c)[np.arange(c) % 3 != 0], o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": rng.choice(_PRIORITIES, o),
    })
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86400 * 1_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": np.sort(rng.integers(start, start + span, e)).astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
        for _ in range(d)
    ]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (m, 64))).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(sf_dir: str, seed: int) -> int:
    """Write every table as ``<sf_dir>/<name>.parquet``; returns total bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in build_tables(seed).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
