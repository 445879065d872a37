"""Seeded star-schema tables for the ``query_mix`` workload.

Writes the ten tables the gated query registry reads (``region`` ...
``embeddings``) as one parquet file each, with the column names, physical
types and value domains of the engine's reference testdata, at a chosen
scale factor (``sf=0.01``: 60 000 lineitems, 10 000 events).  The same seed
gives the same files byte for byte.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
EMB_DIM = 64

_US = pa.timestamp("us")


def _days(start: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), type=_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed % (1 << 63))
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = 500, 500

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
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, 2405, n_ord)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
            "l_returnflag": rng.choice(("A", "N", "R"), n_line).tolist(),
            "l_linestatus": rng.choice(("F", "O"), n_line).tolist(),
            "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, 2500, n_line)),
        }
    )
    # events: ids and timestamps both ascending, microsecond precision,
    # spread over January 2024
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"), _US),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(WORDS, int(n_words)).tolist())
        for n_words in rng.integers(10, 100, n_doc)
    ]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    emb = rng.normal(size=(n_emb, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> int:
    """Write every table to ``<out_dir>/<name>.parquet``; returns the total
    row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows
