"""Seeded generator for the engine's ten test tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value domains the ``queries()`` contract and its DuckDB
oracles expect. Row counts scale with ``sf`` (sf0.1: 600k lineitem
rows). The same (seed, sf) always gives byte-identical values.

    python3 perfbench/gen.py <out_dir> <sf> <seed>
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in µs since 1970
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    words = np.array(_WORDS)
    texts = []
    for _ in range(n):
        texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 41))]))
    # near-duplicates (one word swapped, tagged "dup") and a few verbatim
    # copies, so the dedup entries find clusters to merge
    for i in rng.choice(n, max(n // 100, 2), replace=False):
        toks = texts[rng.integers(0, n)].split()
        toks[rng.integers(0, len(toks))] = "dup"
        texts[i] = " ".join(toks)
    for i in rng.choice(n, max(n // 500, 1), replace=False):
        texts[i] = texts[rng.integers(0, n)]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> dict:
    centers = rng.normal(0, 1, (k, dim))
    label = rng.integers(0, k, n)
    vecs = centers[label] * 0.55 + rng.normal(0, 1, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def generate(out: str, sf: float, seed: int) -> None:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 100)
    n_emb = max(int(20_000 * sf), 500)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([
            f"{a} {b}" for a, b in zip(
                rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
            )
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / max(n_ev, 1), n_ev).astype(np.int64) + 1
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out, "documents", _documents(rng, n_docs))
    _write(out, "embeddings", _embeddings(rng, n_emb))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
