"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the registered queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, with the same column names, types and value
domains as the TPC-H-ish fixtures the package is developed against
(TESTDATA.md / FIXTURES.md).  Row counts scale linearly with ``sf``:
lineitem 6,000,000 x sf, orders 1,500,000 x sf, customer 150,000 x sf,
and so on; documents and embeddings keep a floor of 500 rows.

The data seed is fixed (``DATA_SEED``): every benchmark seed reads the
same tables, so the stored output digests stay valid.  The benchmark
seed only orders and samples the queries.

Usage: python3 perfbench/fixture.py <out_dir> <sf>
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT_VERSION = 1  # bump when the generator changes; stale dirs rebuild

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
EMB_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(40, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng, n: int, start: dt.date, end: dt.date) -> pa.Array:
    """Midnight timestamps uniform over [start, end] (microseconds)."""
    span = (end - start).days + 1
    base = (start - dt.date(1970, 1, 1)).days * 86_400
    secs = base + rng.integers(0, span, n) * 86_400
    return pa.array((secs * 1_000_000).astype("int64"), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document with ~10% of its
            # words replaced, so the dedup queries find real pairs
            words = texts[int(rng.integers(0, i))].split()
            for j in np.flatnonzero(rng.random(len(words)) < 0.1):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [
                WORDS[k]
                for k in rng.integers(0, len(WORDS), int(rng.integers(8, 100)))
            ]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [LANGS[k] for k in rng.choice(len(LANGS), n, p=LANG_P)]
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMB_DIM))
    x = rng.normal(size=(n, EMB_DIM)) + 0.15 * centers[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32()),
        pa.array(x.reshape(-1), pa.float32()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; same ``sf`` gives identical tables."""
    n = row_counts(sf)
    rng = np.random.default_rng(DATA_SEED)

    def pick(seq: list[str], k: int) -> pa.Array:
        return pa.array([seq[i] for i in rng.integers(0, len(seq), k)])

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(k), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(rng, k, -999.99, 9999.99),
            "c_mktsegment": pick(SEGMENTS, k),
        }
    )
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(rng, k, -999.99, 9999.99),
        }
    )
    k = n["part"]
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(k), pa.int64()),
            "p_name": pick(names, k),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, k)]
            ),
            "p_type": pick(P_TYPES, k),
            "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(k) % 1000) * 0.1, 1),
        }
    )
    k = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), pa.int64()),
            "o_custkey": pa.array(
                rng.integers(0, n["customer"], k), pa.int64()
            ),
            "o_orderstatus": pick(["F", "O", "P"], k),
            "o_totalprice": _money(rng, k, 1000.0, 500_000.0),
            "o_orderdate": _days(
                rng, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
            ),
            "o_orderpriority": pick(PRIORITIES, k),
        }
    )
    k = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, k, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], k),
            "l_linestatus": pick(["F", "O"], k),
            "l_shipdate": _days(
                rng, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
            ),
        }
    )
    k = n["events"]
    start = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, k)) + start
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(15, k // 1000 * 15), k), pa.int64()
            ),
            "event_type": pick(EVENT_TYPES, k),
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": pa.array(
                [f'{{"k": {i}}}' for i in rng.integers(0, 100, k)]
            ),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, t in out.items():
        if t.num_rows != n[name]:
            raise RuntimeError(f"{name}: {t.num_rows} rows, want {n[name]}")
    return out


def ensure(out_dir: str, sf: float) -> str:
    """Write the tables for ``sf`` into ``out_dir`` unless a complete set
    of the current generator version is already there."""
    stamp = os.path.join(out_dir, "FIXTURE.json")
    want = {"format": FORMAT_VERSION, "sf": sf, "rows": row_counts(sf)}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == want:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    for name, rows in want["rows"].items():
        got = pq.ParquetFile(os.path.join(out_dir, f"{name}.parquet")).metadata
        if got.num_rows != rows:
            raise RuntimeError(f"{name}.parquet: {got.num_rows} rows, want {rows}")
    with open(stamp, "w") as f:
        json.dump(want, f)
    return out_dir


if __name__ == "__main__":
    ensure(sys.argv[1], float(sys.argv[2]))
