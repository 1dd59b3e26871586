"""Seeded generator for the TPC-H-ish star schema the registry queries read.

The tables follow the layout of the engine's sf0.01 testdata (same table
names, column names and types: ``region nation customer supplier part
orders lineitem events documents embeddings``), one parquet file per table,
so every registry query and its DuckDB oracle run unchanged on them. Row
counts scale with ``sf`` the way the testdata does (sf 0.01 gives 15,000
orders and 60,000 lineitems). The same ``(seed, sf)`` always writes
byte-identical values.

The value distributions were set from a profile of that testdata:

- documents: 500; 10 to 99 words, uniform; words drawn uniformly from the
  same 30-word vocabulary; ``lang`` 44% ``en`` and about 14% each of the
  other four; ``source`` round-robin over 20; 5% (25) of the documents are
  a copy of another document with the word ``dup`` appended (shingle
  Jaccard 0.89 to 0.99); no other pair reaches a Jaccard of 0.2;
- events: 10,000 at sf 0.01 over 30 days, as a Poisson stream (exponential
  gaps); 150 users; ``value`` exponential with mean 50, rounded to cents;
- embeddings: 500 unit-length 64-dim vectors with no cluster structure
  (labels 0 to 9, uniform);
- the TPC-H tables: uniform keys and values over the ranges below.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "new", "old", "red", "small", "big", "green"]
PART_NOUN = ["anvil", "bolt", "gear", "ring", "rod", "widget", "nut", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_SHARES = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "order group filter stream vector"
).split()
EMBED_DIM = 64


def _rows(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": 500,
        "embeddings": 500,
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: datetime, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span_days + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _streams(seed: int) -> dict[str, np.random.Generator]:
    """One child stream per table keeps a table's values independent of
    how many rows the others have."""
    streams = np.random.SeedSequence(seed).spawn(10)
    return {name: np.random.default_rng(s) for name, s in zip(
        ["nation", "customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings", "spare"], streams)}


def _documents(r: np.random.Generator, k: int) -> tuple[pa.Table, list[tuple[int, int]]]:
    """The documents table and its seeded near-copy pairs ``(id_a, id_b)``,
    ``id_a < id_b``: 5% of the documents are replaced by another one's
    text plus `` dup``. Copies are never copied from, so every pair holds."""
    words = [_pick(r, VOCAB, int(m)) for m in r.integers(10, 100, k)]
    copies = r.choice(k, size=k // 20, replace=False)
    originals = np.setdiff1d(np.arange(k), copies)
    pairs = []
    for dst in copies:
        src = int(r.choice(originals))
        words[dst] = words[src] + ["dup"]
        pairs.append((min(src, int(dst)), max(src, int(dst))))
    texts = [" ".join(w) for w in words]
    table = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(len(LANGS), k, p=LANG_SHARES)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, sorted(pairs)


def near_copy_pairs(seed: int, sf: float) -> list[tuple[int, int]]:
    """The document pairs :func:`tables` seeded as near-copies."""
    return _documents(_streams(seed)["documents"], _rows(sf)["documents"])[1]


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory."""
    n = _rows(sf)
    rng = _streams(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r, k = rng["customer"], n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": _pick(r, SEGMENTS, k),
    })
    r, k = rng["supplier"], n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })
    r, k = rng["part"], n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": _pick(r, names, k),
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, k)],
        "p_type": _pick(r, PART_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2),
    })
    r, k = rng["orders"], n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], k),
        "o_totalprice": _money(r, 1000.0, 500000.0, k),
        "o_orderdate": _days(r, datetime(1995, 1, 1), 2404, k),
        "o_orderpriority": _pick(r, PRIORITIES, k),
    })
    r, k = rng["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], k),
        "l_linestatus": _pick(r, ["F", "O"], k),
        "l_shipdate": _days(r, datetime(1995, 1, 2), 2498, k),
    })
    r, k = rng["events"], n["events"]
    # a Poisson stream over 30 days, ordered by time
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, k))
    ts = np.datetime64(datetime(2024, 1, 1), "us") + offs.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(10, round(k * 0.015)), k), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, k),
        "value": np.maximum(np.round(r.exponential(50.0, k), 2), 0.01),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, k)],
    })
    out["documents"], _pairs = _documents(rng["documents"], n["documents"])
    r, k = rng["embeddings"], n["embeddings"]
    vecs = r.normal(0.0, 1.0, (k, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, k), pa.int32()),
    })
    return out


def write(out_dir: str, seed: int, sf: float, only: list[str] | None = None) -> str:
    """Write the tables (or ``only`` those named) as ``<table>.parquet``
    under ``out_dir``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        if only is None or name in only:
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

