"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the query registry reads (``region`` ...
``embeddings``, one parquet file each) with the same schemas, value
domains and row counts per scale factor as the project's reference
fixtures, so every registered query and its DuckDB oracle run on them
unchanged. The same ``(sf, seed)`` always gives byte-identical tables.

Row counts follow the fixtures: ``lineitem`` = 6M x sf, ``orders`` =
1.5M x sf, ``events`` = 1M x sf, and so on; ``documents`` and
``embeddings`` never drop below 500 rows. About one document in twenty
is a near duplicate (another document's text plus " dup"), which is
what the dedup and similarity queries look for.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(end, "D") - lo).astype(int))


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, span = _days(start, end)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for length in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + length]))
        pos += length
    for i in rng.choice(n, max(1, n // 20), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables at scale factor ``sf`` for ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = round(150_000 * sf)
    n_supp = round(10_000 * sf)
    n_part = round(200_000 * sf)
    n_ord = round(1_500_000 * sf)
    n_line = round(6_000_000 * sf)
    n_evt = round(1_000_000 * sf)
    n_user = max(1, round(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), pa.float64()),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(rng.choice(names, n_part), pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1), pa.float64()),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000), pa.float64()),
            "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, n_line, 900, 105000), pa.float64()),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2), pa.float64()),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2), pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
            "l_shipdate": pa.array(_dates(rng, n_line, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
        }
    )
    # Events arrive as a Poisson stream over 30 days, sorted by time.
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    gaps = rng.exponential(30 * 86_400e6 / n_evt, n_evt)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(t0 + np.cumsum(gaps).astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), pa.string()),
            "value": pa.array(np.maximum(np.round(rng.exponential(50, n_evt), 2), 0.01), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
        }
    )
    out["documents"] = _documents(rng, max(500, round(50_000 * sf)))
    out["embeddings"] = _embeddings(rng, max(500, round(20_000 * sf)))
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    return out_dir
