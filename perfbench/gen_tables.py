"""Seeded generator for the `analytics` workload's input tables.

Writes the ten tables the registry queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each, with the column names, types and
value domains of the synthetic star schema the registry was written
against (TPC-H-shaped dimensions and facts, an event stream, a small
text corpus and unit-norm 64-d embeddings).  Row counts scale with
`sf` the same way: lineitem = 6M·sf, orders = 1.5M·sf, and so on.

The same (seed, sf) always yields byte-identical values.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, min(2_000, round(20_000 * sf))),
    }


def _ts(start: datetime.datetime, us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
    return pa.array(base + us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(root: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under `root`; returns table → row count."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, k)],
    })
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, k), rng.integers(0, 8, k))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, k)],
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
    })
    k = n["orders"]
    order_days = rng.integers(0, 2404, k)  # 1995-01-01 … 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
        "o_orderdate": _ts(
            datetime.datetime(1995, 1, 1), order_days * 86_400_000_000
        ),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, k)],
    })
    k = n["lineitem"]
    ship_days = rng.integers(1, 2499, k)  # 1995-01-02 … 2001-11-04
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, k)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, k)],
        "l_shipdate": _ts(
            datetime.datetime(1995, 1, 1), ship_days * 86_400_000_000
        ),
    })
    k = n["events"]
    users = max(1, round(15_000 * sf))
    span_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": _ts(
            datetime.datetime(2024, 1, 1),
            np.sort(rng.integers(0, span_us, k)),
        ),
        "user_id": pa.array(rng.integers(0, users, k), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, k)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), m))
        for m in rng.integers(10, 100, k)
    ]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, k, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, k)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    k = n["embeddings"]
    labels = rng.integers(0, N_LABELS, k)
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (k, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })

    for name in TABLES:
        pq.write_table(t[name], os.path.join(root, f"{name}.parquet"))
    return {name: t[name].num_rows for name in TABLES}
