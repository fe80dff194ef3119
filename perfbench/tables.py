"""Seeded synthetic tables for the analytics workload.

The same ten tables, columns and types the query registry reads
(``schemas.TESTDATA_TABLES``), in the shapes of the engine's reference
data set, at a scale set by ``lineitem`` rows.  Timestamps are written as
microsecond ``TIMESTAMP`` columns without a zone, as in that data set.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
COLORS = ("red", "blue", "green", "hot", "large", "small", "bright", "dark")
NOUNS = ("bolt", "ring", "nut", "gear", "pipe", "valve", "spring", "screw")
PART_TYPES = ("LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM")


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, lineitem_rows: int = 60_000) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_orders = lineitem_rows // 4
    n_cust = max(150, lineitem_rows // 40)
    n_supp = max(10, lineitem_rows // 600)
    n_part = max(200, lineitem_rows // 30)
    n_events = max(1000, lineitem_rows // 6)
    n_users = max(100, n_events // 60)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": rng.choice(("O", "F", "P"), n_orders),
        "o_totalprice": _money(rng, n_orders, 1000, 500000),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, lineitem_rows, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, lineitem_rows, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, lineitem_rows, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, lineitem_rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, lineitem_rows).astype(np.float64),
        "l_extendedprice": _money(rng, lineitem_rows, 900, 105000),
        "l_discount": rng.integers(0, 11, lineitem_rows) / 100.0,
        "l_tax": rng.integers(0, 9, lineitem_rows) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), lineitem_rows),
        "l_linestatus": rng.choice(("O", "F"), lineitem_rows),
        "l_shipdate": _days(rng, lineitem_rows, "1995-01-02", "2001-11-04"),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.sort(start + rng.integers(0, span, n_events)).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    t["documents"] = _documents(rng, 2000)
    t["embeddings"] = _embeddings(rng, 1000, 64)
    return t


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    v = rng.normal(size=(n, dim)) + 0.25 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
