"""Synthetic input tables for the benchmark.

Writes the ten parquet tables the engine's queries read (``region`` …
``embeddings``) with the same column names, types and value
vocabularies as the engine's TPC-H-style test data, scaled by ``sf``
(sf 0.01 = 60,000 lineitem rows).  Everything derives from one numpy
``Generator`` seeded by the caller, so a seed names one exact byte-level
input set.  Both Spark and the DuckDB oracle read the same files.

Usage: python perfbench/datagen.py OUT_DIR [SF] [SEED]
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EMBED_DIM = 64


def _sizes(sf: float) -> dict[str, int]:
    n = lambda base, lo=1: max(lo, int(round(base * sf)))  # noqa: E731
    return {
        "customer": n(150_000),
        "supplier": n(10_000, 10),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "users": n(15_000, 15),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = _sizes(sf)
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))  # noqa: E731
    pick = lambda vocab, n: pa.array(  # noqa: E731
        np.asarray(vocab, dtype=object)[rng.integers(0, len(vocab), n)]
    )
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pick(SEGMENTS, nc),
    })
    ns = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = s["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": i64(npart),
        "p_name": pick(names, npart),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, npart)]
        ),
        "p_type": pick(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = s["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(no),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, no),
        "o_orderpriority": pick(PRIORITIES, no),
    })
    nl = s["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(("A", "N", "R"), nl),
        "l_linestatus": pick(("F", "O"), nl),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, nl),
    })
    ne = s["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64(
        "2024-01-01T00:00:00", "us"
    )
    out["events"] = pa.table({
        "event_id": i64(ne),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
        "event_type": pick(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]
        ),
    })
    nd = s["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test data
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    out["documents"] = pa.table({
        "doc_id": i64(nd),
        "text": texts,
        "lang": pick(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = s["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": i64(nv),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    write(
        sys.argv[1],
        float(sys.argv[2]) if len(sys.argv) > 2 else 0.01,
        int(sys.argv[3]) if len(sys.argv) > 3 else 42,
    )
