"""Seeded corpus generator for the benchmark.

Writes the ten driver tables (same names, schemas and value domains as
the sf0.01 driver tier described in FIXTURES.md) from one integer seed:
the same seed gives byte-identical parquet files, another seed gives
different ones. It mirrors the shapes of ``tools/gen_scale.py`` but
keeps the domains the stock generator drifts from: all five event
types, the five document languages, twenty sources, and ~5% planted
near-duplicate documents (a copy of another document with " dup"
appended, as the driver tier plants them).

    python3 perfbench/gen.py OUT_DIR SEED
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.01 driver tier
SIZES = {
    "documents": 500,
    "embeddings": 500,
    "events": 10_000,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
}
DIM = 64
DUP_SHARE = 0.05

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(out: Path, name: str, cols: dict) -> None:
    # parquet footers carry no timestamp, so one pyarrow version always
    # writes the same table to the same bytes
    pq.write_table(pa.table(cols), out / f"{name}.parquet", compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    n_dups = max(1, int(n * DUP_SHARE))
    dup_ids = rng.choice(n, size=n_dups, replace=False)
    for i in dup_ids:
        src = int(rng.integers(0, n))
        while src == i or src in dup_ids:
            src = int(rng.integers(0, n))
        texts[i] = texts[src] + " dup"
    return {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def _events(rng: np.random.Generator, n: int) -> dict:
    n_users = max(10, n * 3 // 200)
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    return pa.array(start_us + rng.integers(0, n_days, n) * DAY_US, pa.timestamp("us"))


def generate(out: Path, seed: int | list[int], scale: float = 1.0) -> None:
    """Write every table to ``out``; ``scale`` multiplies the row
    counts (the warm-up corpus uses a fraction of the timed size)."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in SIZES.items()}
    _write(out, "documents", _documents(rng, n["documents"]))
    _write(out, "embeddings", _embeddings(rng, n["embeddings"]))
    _write(out, "events", _events(rng, n["events"]))
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, npart, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    _write(out, "customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    })
    keys = np.arange(npart)
    _write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], no), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": _days(rng, EPOCH_1995_US, 2_400, no),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, nl), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl), pa.string()),
        "l_shipdate": _days(rng, EPOCH_1995_US + DAY_US, 2_500, nl),
    })


if __name__ == "__main__":
    generate(Path(sys.argv[1]), int(sys.argv[2]))
