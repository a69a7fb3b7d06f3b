"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the catalog queries read (``region nation
customer supplier part orders lineitem events documents embeddings``) with the
schemas and value domains of the engine's test data. Every value comes from
``numpy.random.default_rng(DATA_SEED)``, so the same scale always gives
byte-identical inputs and the stored reference digests stay valid. The
workload seed does not touch these tables: it orders queries and drives the
live generator (see ``run.py``).

Usage: python3 perfbench/datagen.py <out_dir> [scale]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
DEFAULT_SCALE = 0.01

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
EMB_DIM = 64
EMB_LABELS = 10


def _ts_us(days: np.ndarray, start: str) -> pa.Array:
    """Midnight timestamps ``start + days`` as naive microsecond values."""
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def n_users(scale: float) -> int:
    """Size of the ``events`` user-key space at ``scale``."""
    return max(10, int(15_000 * scale))


def event_draws(rng: np.random.Generator, n: int, users: int) -> dict[str, np.ndarray]:
    """User, type and value of ``n`` events: keys uniform over ``users``, the
    five event types evenly split. The live generator draws the same way."""
    return {
        "user_id": rng.integers(0, users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
    }


def tables(scale: float = DEFAULT_SCALE) -> dict[str, pa.Table]:
    """Build every table in memory; row counts follow TPC-H ratios at ``scale``."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(10, int(150_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_line = max(400, int(6_000_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_ev = max(200, int(1_000_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))

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
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_us(rng.integers(0, 2498, n_line), "1995-01-02"),
    })
    # events: a time-ordered stream over 30 days, exponential gaps
    gaps = rng.exponential(1.0, n_ev)
    offs_us = (np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60) * 1e6).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        **event_draws(rng, n_ev, n_users(scale)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word bags, with ~5% near-duplicates of earlier docs
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: unit vectors scattered around one centroid per label
    labels = rng.integers(0, EMB_LABELS, n_emb)
    centroids = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write(out_dir: str, scale: float = DEFAULT_SCALE) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit("usage: datagen.py <out_dir> [scale]")
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_SCALE)
