"""Seeded generator for the batch-mix input tables.

Writes the ten fixture tables the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``)
as parquet under one directory, with the schemas documented in
FIXTURES.md. Row counts scale with ``sf`` like the fixtures (lineitem
is 6M x sf). The same (sf, seed) always gives the same files.

Documents carry a small share of exact and near duplicates so the
dedup lanes have real pairs to find.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch line "
    "sort window data column join small big customer query order group stream "
    "spark filter vector"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "cold", "hot", "new", "green", "big"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]

_DAY_US = 86_400_000_000


def _epoch_us(day: str) -> int:
    return int(datetime.fromisoformat(day).replace(tzinfo=timezone.utc).timestamp()) * 1_000_000


def _days_us(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    return _epoch_us(start) + rng.integers(0, n_days, n, dtype=np.int64) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(8, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # ~1% near duplicates (one word swapped) and ~0.3% exact copies of
    # an earlier document
    for i in range(1, n):
        roll = rng.random()
        if roll < 0.01:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[i] = " ".join(toks)
        elif roll < 0.013:
            texts[i] = texts[int(rng.integers(0, i))]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    int32 = pa.int32()

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), int32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], int32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": [("O", "P", "F")[k] for k in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_days_us("1995-01-01", 2400, rng, n_ord)),
            "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_days_us("1995-01-02", 2500, rng, n_li)),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(np.sort(
                _epoch_us("2024-01-01")
                + rng.integers(0, 30 * _DAY_US, n_ev, dtype=np.int64)
            )),
            "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev, dtype=np.int64),
            "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": pa.table(_documents(rng, n_doc)),
        "embeddings": pa.table({
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(
                list(rng.normal(0.0, 0.13, (n_emb, 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, n_emb), int32),
        }),
    }
    return out


def ensure(root: str, sf: float, seed: int) -> str:
    """Write the tables for (sf, seed) under ``root`` once; return the dir."""
    path = os.path.join(root, f"sf{sf}-seed{seed}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        os.makedirs(path, exist_ok=True)
        for name, table in tables(sf, seed).items():
            pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        open(done, "w").close()
    return path
