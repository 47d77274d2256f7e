"""Deterministic generator for the benchmark's parquet fixture.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
same schemas and key conventions as the engine's test fixtures: keys dense
from 0, foreign keys closed, one parquet file per table. Sizes follow the
sf0.01 fixture (60k lineitem rows). The output is a pure function of
DATA_SEED, so the fingerprints in expected.json stay valid.

Usage: python3 perfbench/datagen.py OUT_DIR
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20_261_017
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["large", "small", "red", "blue", "green", "bright", "dark", "plain"]
_NOUN = ["ring", "box", "bolt", "gear", "pipe", "plate", "wire", "valve"]
_PTYPES = ["LARGE", "SMALL", "MEDIUM", "ECONOMY", "PROMO", "STANDARD"]
_EVENT_TYPES = ["view", "click", "purchase", "error", "login"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big query stream "
    "group filter customer vector"
).split()

_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2_405
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    retail = 900.0 + rng.integers(0, 1_000, N_PART) / 10.0
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (N_PART, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": retail,
    })

    odate = _ORDER_EPOCH + rng.integers(0, _ORDER_DAYS, N_ORDERS) * np.timedelta64(1, "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, N_ORDERS),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })

    n_lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), n_lines)
    starts = np.cumsum(n_lines) - n_lines
    lineno = np.arange(len(okey)) - np.repeat(starts, n_lines) + 1
    n = len(okey)
    pkey = rng.integers(0, N_PART, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n) * np.timedelta64(1, "D")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

    offsets = np.sort(rng.choice(_EVENT_SPAN_US, N_EVENTS, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(_EVENT_EPOCH + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(20.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(20, 81)))
        for _ in range(N_DOCUMENTS)
    ]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, 5, N_DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    vecs = rng.normal(0.0, 1.0, (N_EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
    })
    return t


def write(out_dir: str) -> None:
    """Write every table to OUT_DIR/<name>.parquet, then a _DONE marker."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(os.path.join(out_dir, "_DONE"), "w") as f:
        f.write(str(DATA_SEED))


def ensure(out_dir: str) -> bool:
    """Generate the fixture unless it is already complete. True if built."""
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return False
    write(out_dir)
    return True


if __name__ == "__main__":
    write(sys.argv[1])
