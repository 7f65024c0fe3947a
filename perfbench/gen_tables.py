"""Deterministic tables for the query_pack workload.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) with the schemas and value domains of the engine's fixture
tables, at a fixed data seed. The data seed is fixed, not the run's
``--seed``, so the goldens in ``goldens.json`` hold for every run; the run's
seed only orders the queries.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

#: rows per table at the benchmark's scale (the fixtures' sf0.01 sizes)
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
PART_ADJ = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
PART_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build(rng: np.random.Generator) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = SIZES["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _cents(rng, n, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    n = SIZES["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _cents(rng, n, -999.99, 9999.99),
        }
    )
    n = SIZES["part"]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 12000) / 10, 1),
        }
    )
    n = SIZES["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, SIZES["customer"], n),
            "o_orderstatus": rng.choice(("P", "O", "F"), n),
            "o_totalprice": _cents(rng, n, 1000, 500000),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )
    n = SIZES["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, SIZES["orders"], n),
            "l_partkey": rng.integers(0, SIZES["part"], n),
            "l_suppkey": rng.integers(0, SIZES["supplier"], n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
            "l_returnflag": rng.choice(("A", "N", "R"), n),
            "l_linestatus": rng.choice(("F", "O"), n),
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }
    )
    n = SIZES["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n, n)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 91)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    n = SIZES["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def generate(root: str) -> dict[str, int]:
    """Write every table under ``root``; returns rows per table."""
    os.makedirs(root, exist_ok=True)
    tables = build(np.random.default_rng(DATA_SEED))
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


if __name__ == "__main__":
    import sys
    import time

    t0 = time.perf_counter()
    print(generate(sys.argv[1]), f"{time.perf_counter() - t0:.2f}s")
