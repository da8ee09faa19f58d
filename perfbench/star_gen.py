"""Seeded generator of the star-schema tables the headline queries read.

``generate(out_dir, seed, sf)`` writes ``{table}.parquet`` for the ten
tables of the engine's query fixture (FIXTURES.md part A): a
TPC-H-shaped star schema (region, nation, customer, supplier, part,
orders, lineitem) plus ``events``, ``documents`` and ``embeddings``.
Column names, types and value domains follow that spec. Row counts
depend on ``sf`` only; the seed changes the values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
NOUN = ["anvil", "widget", "plate", "ring", "rod", "gear", "bolt", "spring"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh", "zh"]
VOCAB = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark dup agg row value line data column "
    "customer query group filter"
).split()
EMB_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-soup texts; one in ten is a near-copy of an earlier text
    (one word swapped), so the dedup queries have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": _choice(rng, LANGS, n),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n)
    vec = centers[label] + rng.normal(scale=0.35, size=(n, EMB_DIM)) / np.sqrt(EMB_DIM)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_evt = max(1_000, round(1_000_000 * sf))
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_supp)),
    }
    price = np.round(900.0 + (np.arange(n_part) % 12_000) / 10.0, 2)
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": price,
    }
    odate = _EPOCH_1995 + rng.integers(0, 2_404, n_ord) * _DAY_US
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _round2(rng.uniform(1_000, 500_000, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    }
    # 1..7 lines per order, (l_orderkey, l_linenumber) unique
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per_order)[:n_line]
    starts = np.concatenate([[0], np.cumsum(per_order)[:-1]])
    lnum = (np.arange(len(okey)) - np.repeat(starts, per_order)[: len(okey)] + 1)
    n_line = len(okey)
    pkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _round2(qty * price[pkey]),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_line) * _DAY_US),
    }
    evt_us = np.sort(rng.integers(0, 30 * _DAY_US, n_evt)) + _EPOCH_2024
    t["events"] = {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": _ts(evt_us),
        "user_id": pa.array(rng.integers(0, 150, n_evt)),
        "event_type": _choice(rng, EVENT_TYPES, n_evt),
        "value": _round2(rng.uniform(0.01, 490.0, n_evt)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }
    t["documents"] = _documents(rng, 500)
    t["embeddings"] = _embeddings(rng, 500)
    return {name: pa.table(cols) for name, cols in t.items()}


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
