"""Seeded generator for the benchmark's input tables.

Writes the ten tables that ``sources.readers.TABLES`` names, one parquet
file each with a single row group, in the schema and value ranges of
the TPC-H-style test tables the engine is built against: uniform keys
and dates, a 30-word document vocabulary with ~5% planted near-duplicate
documents, and 64-d unit embeddings around ten weak cluster centres.
The same ``(seed, scale)`` always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
DUP_SHARE = 0.05


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(_pick(rng, VOCAB, k)) for k in lengths]
    # Near-duplicates: a copy of another document with one marker token.
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centres = rng.normal(size=(10, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    noise = rng.normal(size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs = noise + 0.15 * centres[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": labels,
    })


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = 4 * n_ord
    n_evt = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    i32 = np.int32
    t = {}
    t["region"] = pa.table({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            _pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    month_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(rng, int(50_000 * scale))
    t["embeddings"] = _embeddings(rng, int(50_000 * scale))
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write every table under ``out_dir`` as ``<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
