"""Seeded fixture tables for the analytics workload.

Writes the package's fixture tables (`schemas.FIXTURE_TABLES`: a
TPC-H-like star schema, an `events` stream, a `documents` text table with
injected near-duplicates and an `embeddings` table) as one parquet file
each, with the column names and types the registry queries read. Sizes
follow the smallest reference scale (about 6,000 lineitem rows). The
same seed writes the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PART_ADJ = ["cold", "hot", "small", "large", "old", "new", "blue"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "en", "fr", "es", "zh", "de"]
DOC_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
EMBED_DIM = 64

# rows per table
SIZES = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "events": 1000, "documents": 500, "embeddings": 500,
}
DAY_US = 86_400_000_000
EPOCH_1995 = dt.datetime(1995, 1, 1)


def _ts(days: np.ndarray) -> pa.Array:
    """timestamp[us] (no time zone) `days` after 1995-01-01."""
    base = int((EPOCH_1995 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + days.astype(np.int64) * DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    n = SIZES
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
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        # six customers per nation
        "c_nationkey": pa.array(rng.permutation(np.arange(n["customer"]) % 25), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        # two suppliers per region: every region has suppliers with
        # customers in their nation, so rel_q5_local_supplier has rows
        "s_nationkey": pa.array(
            np.arange(n["supplier"]) % 5 + 5 * rng.integers(0, 5, n["supplier"]), pa.int32()
        ),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"]).tolist()],
        "p_type": rng.choice(PART_TYPES, n["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n["orders"]).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _ts(order_days),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
    })
    lines = rng.integers(1, 8, n["orders"])  # line items per order
    okey = np.repeat(np.arange(n["orders"]), lines)
    m = len(okey)
    qty = rng.integers(1, 51, m).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": rng.choice(["N", "R", "A"], m).tolist(),
        "l_linestatus": rng.choice(["F", "O"], m).tolist(),
        "l_shipdate": _ts(np.repeat(order_days, lines) + rng.integers(1, 122, m)),
    })
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n["events"]))
    base_2024 = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": pa.array(base_2024 + ev_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n["events"]), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n["events"]).tolist(),
        "value": np.round(rng.exponential(50.0, n["events"]), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"]).tolist()],
    })
    texts: list[str] = []
    for i in range(n["documents"]):
        if i >= 20 and i % 20 == 0:
            # a near-duplicate of an earlier document: one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(DOC_WORDS))
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(8, 90))).tolist()))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n["documents"]).tolist(),
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vec = rng.normal(size=(n["embeddings"], EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })
    return t


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
