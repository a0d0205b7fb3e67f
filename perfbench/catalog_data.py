"""Deterministic generator of the catalog's ten tables.

Same table names, columns and Arrow types as the engine's catalog
reads (``sources.readers.load_table``) and as the DuckDB oracle views
(``tests.oracle.TABLES``), at roughly the 0.001 scale factor: a TPC-H
style star schema, an ``events`` stream, ``documents`` text with
near-duplicates and 64-dimensional clustered ``embeddings``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the scan column window order sort part agg value line key join merge group query "
    "vector hash slow stream filter fast batch spark table small data big customer row"
).split()
LANGS = (["en"] * 8) + ["fr", "fr", "es", "es", "zh", "zh", "de", "de"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PART_WORDS = (["cold", "small", "large", "blue", "old", "new"], ["widget", "bolt", "rod", "anvil", "ring"])
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
DAY_US = 86_400 * 1_000_000
CUSTOMERS, ORDERS, DOCS, VECTORS, EVENTS = 150, 1500, 500, 500, 1000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    customers, orders, docs, vectors, events = CUSTOMERS, ORDERS, DOCS, VECTORS, EVENTS
    os.makedirs(out_dir, exist_ok=True)
    suppliers, parts = max(customers // 15, 5), customers * 4 // 3
    base_day = np.datetime64("1995-01-01", "D").astype("int64")
    t = {}
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
        "c_custkey": pa.array(range(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": rng.choice(SEGMENTS, customers),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, suppliers),
    })
    price = np.round(900 + np.arange(parts) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(parts), pa.int64()),
        "p_name": [f"{rng.choice(PART_WORDS[0])} {rng.choice(PART_WORDS[1])}" for _ in range(parts)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
        "p_type": rng.choice(PART_TYPES, parts),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": price,
    })
    odate = base_day + rng.integers(0, 2404, orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, orders),
        "o_orderdate": _ts(odate * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, orders),
    })
    per_order = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders), per_order)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in per_order])
    pkey = rng.integers(0, parts, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey] * rng.uniform(0.9, 2.3, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts((odate[okey] + rng.integers(1, 121, n_li)) * DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, events)) + np.datetime64("2024-01-01", "us").astype("int64")
    t["events"] = pa.table({
        "event_id": pa.array(range(events), pa.int64()),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, max(events // 66, 2), events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, events),
        "value": np.round(rng.exponential(50.0, events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)],
    })
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.06:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, vectors)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.8, (vectors, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(vectors), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
