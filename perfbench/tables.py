"""Seeded generator of the engine's catalog tables for the query layer.

Writes the ten tables the headline queries read (the TPC-H-like star
schema, ``events``, ``documents`` and ``embeddings``) as one parquet file
each, with the catalog's column names and types, at about the size of
the smallest scale factor. The same seed writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "ring", "rod", "widget", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.38, 0.15, 0.16, 0.16, 0.15]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM = 150, 10, 200, 1500, 6000
N_EVENTS, N_DOCS, N_VECS, DIM = 1000, 500, 500, 64

_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")


def make_tables(seed: int, out: str) -> dict[str, int]:
    """Write every table under ``out``; return row counts by table."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out, exist_ok=True)
    i32 = pa.int32()

    _write(out, "region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER).tolist(),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    names = [f"{a} {n}" for a, n in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))]
    _write(out, "part", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + np.arange(N_PART) / 10.0, 2),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS, p=[0.49, 0.49, 0.02]).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _days(rng, N_ORDERS, 0, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS).tolist(),
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM).tolist(),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM).tolist(),
        "l_shipdate": _days(rng, N_LINEITEM, 1, 2499),
    })
    gaps_us = rng.exponential(43 * 60e6, N_EVENTS).astype(np.int64) + 1
    _write(out, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 15, N_EVENTS),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS).tolist(),
        "value": np.round(rng.gamma(1.1, 45.0, N_EVENTS), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts = [" ".join(rng.choice(WORDS, int(n))) for n in rng.integers(10, 100, N_DOCS)]
    _write(out, "documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, N_VECS)
    centres = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centres[labels] + rng.normal(0.0, 1.5, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {"customer": N_CUSTOMER, "supplier": N_SUPPLIER, "part": N_PART,
            "orders": N_ORDERS, "lineitem": N_LINEITEM, "events": N_EVENTS,
            "documents": N_DOCS, "embeddings": N_VECS}
