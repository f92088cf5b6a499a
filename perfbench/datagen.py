"""Seeded generator for the engine's fixture tables.

Writes the ten tables the query registry reads (`region` .. `embeddings`),
one parquet file each, with the column names, physical types and value
distributions of the TPC-H-like fixtures the registry's oracles were
written against. Row counts follow the scale factor the way the fixtures
do: lineitem has 6M x sf rows, orders 1.5M x sf, and so on.

Each table draws from its own random stream seeded by (seed, table), so
the same seed yields the same table whichever other tables are generated
with it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000
_I32 = pa.int32()


def sizes(sf: float) -> dict[str, int]:
    """Rows per table (and distinct event users) at scale factor `sf`."""
    return {
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "users": max(1, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: int, span: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (first + rng.integers(0, span, n)) * np.timedelta64(_DAY_US, "us")
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i:09d}" for i in range(n)]


def region(rng, n: dict) -> pa.Table:
    return pa.table({"r_regionkey": pa.array(range(5), _I32), "r_name": _REGIONS})


def nation(rng, n: dict) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), _I32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], _I32),
    })


def customer(rng, n: dict) -> pa.Table:
    k = n["customer"]
    return pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": _names("Customer#", k),
        "c_nationkey": pa.array(rng.integers(0, 25, k), _I32),
        "c_acctbal": _money(rng, -1000, 10000, k),
        "c_mktsegment": rng.choice(_SEGMENTS, k),
    })


def supplier(rng, n: dict) -> pa.Table:
    k = n["supplier"]
    return pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": _names("Supplier#", k),
        "s_nationkey": pa.array(rng.integers(0, 25, k), _I32),
        "s_acctbal": _money(rng, -1000, 10000, k),
    })


def part(rng, n: dict) -> pa.Table:
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, k), rng.choice(_NOUN, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": rng.choice(_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), _I32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })


def orders(rng, n: dict) -> pa.Table:
    k = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": rng.choice(["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000, 500000, k),
        "o_orderdate": _days(rng, 0, 2405, k),
        "o_orderpriority": rng.choice(_PRIORITIES, k),
    })


def lineitem(rng, n: dict) -> pa.Table:
    k = n["lineitem"]
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": pa.array(rng.integers(1, 8, k), _I32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, k),
        "l_discount": _money(rng, 0, 0.1, k),
        "l_tax": _money(rng, 0, 0.08, k),
        "l_returnflag": rng.choice(["A", "N", "R"], k),
        "l_linestatus": rng.choice(["F", "O"], k),
        "l_shipdate": _days(rng, 1, 2499, k),
    })


def events(rng, n: dict) -> pa.Table:
    k = n["events"]
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, k))
    return pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n["users"], k),
        "event_type": rng.choice(_EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })


def documents(rng, n: dict) -> pa.Table:
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the fixtures
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, k, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n: dict) -> pa.Table:
    k = n["embeddings"]
    vecs = rng.standard_normal((k, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), _I32),
    })


def generate(out_dir: str, sf: float, seed: int, tables) -> dict[str, int]:
    """Write `tables` under `out_dir` as `<name>.parquet`; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    rows = {}
    for i, name in enumerate(TABLES):
        if name in tables:
            table = globals()[name](np.random.default_rng([seed, i]), n)
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = table.num_rows
    return rows

