"""Seeded tables for the `catalog` workload.

The catalog queries read ten tables: a TPC-H-like star schema, an
``events`` stream, ``documents`` and ``embeddings``. These are generated
here from the run's seed, at about the row counts and value
distributions of the repository's sf0.01 test data, so a run needs no
data from outside its checkout. Each table is one parquet file,
``<dst>/<table>.parquet``, the layout the catalog and its DuckDB oracles
read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "red", "shiny", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.15, 0.14, 0.12])
EMBED_DIM = 64
US_PER_DAY = 86_400_000_000


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, span_days, n) * US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n["part"], 2))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n["part"]) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, "1995-01-02", 2500, n["lineitem"]),
        }),
    }
    # events: strictly increasing ids and timestamps over thirty days
    gaps = rng.integers(1, 2 * 30 * US_PER_DAY // n["events"], n["events"])
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps)
    out["events"] = pa.table({
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n["events"]),
        "event_type": rng.choice(EVENT_TYPES, n["events"]),
        "value": _cents(rng, 0.01, 490.02, n["events"]),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    # documents: about one in twenty is a near-duplicate of an earlier
    # one (its text plus one token), so the dedup rows find pairs
    texts: list[str] = []
    for i in range(n["documents"]):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], n["documents"], p=LANGS[1]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: unit vectors scattered around one centre per label
    labels = rng.integers(0, 10, n["embeddings"])
    centres = rng.normal(size=(10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n["embeddings"], EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write(dst: str, seed: int) -> int:
    """Write every table under ``dst``; returns the bytes written."""
    os.makedirs(dst, exist_ok=True)
    total = 0
    for name, tbl in tables(seed).items():
        path = os.path.join(dst, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total
