"""Seeded TPC-H-ish analyst tables for the ``corpus_mix`` workload.

Writes the ten tables of ``sources.tables.TESTDATA_TABLES`` (one parquet
file each) with the column names, Arrow types, key ranges and value
domains of the driver's testdata (TESTDATA.md), at a chosen scale
factor: ``sf=0.01`` gives 1.5k customers, 15k orders, 60k lineitems and
10k events. The corpus queries read nothing else, so the benchmark can
build its inputs inside its own work directory from the seed alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("red", "blue", "small", "large", "hot", "old", "green", "cold")
P_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
LANGS = ("en", "zh", "es", "de", "fr")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_ORDERS_START_US = 788_918_400_000_000  # 1995-01-01
_EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_corpus_tables(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write every corpus table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0xDA7A])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_events = max(500, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_vecs = max(200, int(50_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{rng.choice(P_ADJ)} {rng.choice(P_NOUN)}" for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })

    order_day = rng.integers(0, 2400, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts(_ORDERS_START_US + order_day * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })

    lines_per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(l_number, i32),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n_li)),
        "l_shipdate": _ts(_ORDERS_START_US + ship_day * _DAY_US),
    })

    # strictly increasing event times (no ts ties) over ~30 days
    gaps = rng.exponential(30 * _DAY_US / n_events, n_events).astype("int64") + 1
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": _ts(_EVENTS_START_US + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    texts = []
    for d in range(n_docs):
        if d >= 10 and rng.random() < 0.1:  # planted near-duplicate
            words = texts[int(rng.integers(0, d))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {
        "customer": n_cust, "orders": n_ord, "lineitem": n_li,
        "events": n_events, "documents": n_docs, "embeddings": n_vecs,
    }
