"""Seeded input generator: the ten tables the declared queries read.

The schemas match the driver-generated test data (TPC-H-like star
schema, an ``events`` stream, a ``documents`` corpus with planted near
and exact duplicates, and unit-norm ``embeddings``), so every query in
``plans.QUERIES`` and its DuckDB oracle run on these files unchanged.
Row counts follow the scale factor ``sf`` the way the test data does
(``lineitem`` = 6M x sf); the seed alone decides every value.
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

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.42, 0.15, 0.15, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10
DAY_US = 86_400_000_000


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "region": len(REGIONS),
        "nation": 25,
        "customer": max(30, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(40, int(200_000 * sf)),
        "orders": max(300, int(1_500_000 * sf)),
        "lineitem": max(1_200, int(6_000_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, span_days, n) * DAY_US


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary. About 5% are
    near-duplicates of an earlier document (its text plus ``dup``) and
    about 0.5% exact copies — the shapes the dedup queries look for."""
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif kind[i] < 0.055:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, N_LABELS, n), pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": _pick(rng, SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, k),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": _pick(rng, names, k),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, k)]),
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k, dtype=np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": pa.array(_days(rng, k, "1995-01-01", 2404), ts),
        "o_orderpriority": _pick(rng, PRIORITIES, k),
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], k, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), k),
        "l_linestatus": _pick(rng, ("F", "O"), k),
        "l_shipdate": pa.array(_days(rng, k, "1995-01-02", 2498), ts),
    })
    k = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    offsets_us = np.sort(rng.integers(0, 30 * DAY_US, k))
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(start + offsets_us, ts),
        "user_id": rng.integers(0, max(15, k // 66), k, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, k),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, as the query layer expects."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write all tables for ``seed`` at ``sf``; returns row counts."""
    tables = make_tables(seed, sf)
    write_tables(tables, out_dir)
    return {name: t.num_rows for name, t in tables.items()}
