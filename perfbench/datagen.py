"""Seeded input generation for the benchmark.

Writes the catalog's table layout (``region nation customer supplier
part orders lineitem events documents``, one parquet file each) with the
column names, types and value domains the catalog queries and their
DuckDB oracles expect. Row counts are fixed by the scale below, so every
seed gives the same amount of work; the seed changes the values, the
query order and the split of documents into arrival files.

Nothing here is timed: inputs are made before the session starts.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents")
#: rows per table (about a hundredth of TPC-H sf1, plus the event and
#: document tables the LLM-pipeline queries read)
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 600,
}
EVENT_USERS = 150

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "green", "big", "steel"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: share of documents planted as a near-copy of an earlier document
NEAR_DUP_SHARE = 0.05


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _timestamps(start: datetime, offsets: np.ndarray, unit: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype(f"timedelta64[{unit}]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table under ``out_dir``; same seed, same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n).tolist(),
    })
    n = ROWS["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_WORDS, n), rng.choice(PART_NOUNS, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1),
    })
    n = ROWS["orders"]
    order_days = rng.integers(0, (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days + 1, n)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _timestamps(datetime(1995, 1, 1), order_days, "D"),
        "o_orderpriority": rng.choice(PRIORITIES, n).tolist(),
    })
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    ship_days = rng.integers(1, (datetime(2001, 11, 4) - datetime(1995, 1, 1)).days + 1, n)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n).tolist(),
        "l_shipdate": _timestamps(datetime(1995, 1, 1), ship_days, "D"),
    })
    n = ROWS["events"]
    # increasing event times spread over 30 days, microsecond grain
    gaps = rng.exponential(30 * 86400e6 / n, n).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _timestamps(datetime(2024, 1, 1), np.cumsum(gaps), "us"),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": _money(rng, 0.01, 490.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write(out_dir, "documents", _documents(rng, ROWS["documents"]))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Token-soup documents over a 30-word vocabulary, with a planted
    share of near-copies (an earlier document plus one extra token), so
    the near-duplicate pipelines have true pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def split_arrivals(doc_ids: list[int], files: int, seed: int) -> list[list[int]]:
    """Deal document ids into ``files`` arrival batches in a seeded
    order: every document lands in exactly one batch."""
    order = np.random.default_rng(seed).permutation(doc_ids).tolist()
    return [order[i::files] for i in range(files)]


def shuffled(names: list[str], seed: int) -> list[str]:
    """The workload's operations in a seeded order."""
    return [names[i] for i in np.random.default_rng(seed).permutation(len(names))]
