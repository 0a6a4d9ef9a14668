"""Seeded synthetic tables for the benchmark.

A TPC-H-shaped star schema (lineitem, orders, customer, nation, part,
supplier) plus an ``events`` stream with a ``ticks`` side table for as-of
joins, a ``documents`` corpus with planted duplicates for the curation
pipeline and an ``embeddings`` table. Sizes follow TPC-H scale factor 0.1,
so every working set fits in Spark storage memory on one host. The same
seed always gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "orders": 150_000,
    "customer": 15_000,
    "nation": 25,
    "part": 20_000,
    "supplier": 1_000,
    "events": 100_000,
    "ticks": 20_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
USERS = 1_000
EMBED_DIM = 32
RETURNFLAGS = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
ORDERSTATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
BRANDS = [f"Brand#{i}" for i in range(1, 26)]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "scroll", "view"]
WORDS = (
    "agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table value "
    "window index shard cache plan leaf graph node edge lake file page block"
).split()

_EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01 in microseconds
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01 in microseconds
_DAY_US = 86_400 * 1_000_000


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, low: float, high: float) -> np.ndarray:
    return np.round(rng.uniform(low, high, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def lineitem(rng: np.random.Generator) -> pa.Table:
    """One to seven lines per order, numbered from 1, so
    ``(l_orderkey, l_linenumber)`` is a unique key."""
    lines = rng.integers(1, 8, SIZES["orders"])
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(SIZES["orders"], dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, SIZES["part"], n),
        "l_suppkey": rng.integers(0, SIZES["supplier"], n),
        "l_linenumber": (np.arange(n) - starts + 1).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, RETURNFLAGS, n),
        "l_linestatus": _pick(rng, LINESTATUS, n),
        "l_shipdate": _ts(_EPOCH_1992_US + rng.integers(0, 3650, n) * _DAY_US),
    })


def orders(rng: np.random.Generator) -> pa.Table:
    n = SIZES["orders"]
    return pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, SIZES["customer"], n),
        "o_orderstatus": _pick(rng, ORDERSTATUS, n),
        "o_totalprice": _money(rng, n, 1_000.0, 500_000.0),
        "o_orderdate": _ts(_EPOCH_1992_US + rng.integers(0, 3650, n) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def customer(rng: np.random.Generator) -> pa.Table:
    n = SIZES["customer"]
    return pa.table({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": rng.integers(0, SIZES["nation"], n).astype("int32"),
        "c_acctbal": _money(rng, n, -999.0, 9_999.0),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })


def nation(rng: np.random.Generator) -> pa.Table:
    n = SIZES["nation"]
    return pa.table({
        "n_nationkey": np.arange(n, dtype="int32"),
        "n_name": pa.array([f"NATION_{i}" for i in range(n)]),
        "n_regionkey": (np.arange(n) % 5).astype("int32"),
    })


def part(rng: np.random.Generator) -> pa.Table:
    n = SIZES["part"]
    return pa.table({
        "p_partkey": np.arange(n, dtype="int64"),
        "p_name": pa.array([f"part {i}" for i in range(n)]),
        "p_brand": _pick(rng, BRANDS, n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype("int32"),
        "p_retailprice": _money(rng, n, 900.0, 2_100.0),
    })


def supplier(rng: np.random.Generator) -> pa.Table:
    n = SIZES["supplier"]
    return pa.table({
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": rng.integers(0, SIZES["nation"], n).astype("int32"),
        "s_acctbal": _money(rng, n, -999.0, 9_999.0),
    })


def _distinct_times(rng: np.random.Generator, n: int, span_us: int) -> np.ndarray:
    """``n`` distinct microsecond offsets into a 30-day window, so no user
    has two rows at one instant (as-of matches stay unambiguous)."""
    return _EPOCH_2024_US + np.sort(rng.choice(span_us, n, replace=False))


def events(rng: np.random.Generator) -> pa.Table:
    n = SIZES["events"]
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(_distinct_times(rng, n, 30 * _DAY_US)),
        "user_id": rng.integers(0, USERS, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": _money(rng, n, 0.0, 100.0),
    })


def ticks(rng: np.random.Generator) -> pa.Table:
    n = SIZES["ticks"]
    return pa.table({
        "user_id": rng.integers(0, USERS, n),
        "ts": _ts(_distinct_times(rng, n, 30 * _DAY_US)),
        "level": _money(rng, n, 0.0, 10.0),
    })


def documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents; one in five copies one of the previous fifty
    documents, either exactly or with one word replaced, so any contiguous
    range of document ids holds true duplicates to find."""
    n = SIZES["documents"]
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(max(0, i - 50), i))].split(" ")
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(20, 60)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": pa.array(texts),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def embeddings(rng: np.random.Generator) -> pa.Table:
    n = SIZES["embeddings"]
    centers = rng.normal(0.0, 1.0, (16, EMBED_DIM))
    vecs = centers[rng.integers(0, 16, n)] + rng.normal(0.0, 0.4, (n, EMBED_DIM))
    vecs = vecs.astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })


TABLES = {
    "lineitem": lineitem,
    "orders": orders,
    "customer": customer,
    "nation": nation,
    "part": part,
    "supplier": supplier,
    "events": events,
    "ticks": ticks,
    "documents": documents,
    "embeddings": embeddings,
}


def generate(seed: int, out_dir: str, names: list[str]) -> dict[str, pa.Table]:
    """Build the named tables from ``seed`` and write each to
    ``out_dir/<name>.parquet``. Each table draws from its own stream, so a
    table does not change when another is added or left out."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name in names:
        rng = np.random.default_rng([seed, list(TABLES).index(name)])
        table = TABLES[name](rng)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        out[name] = table
    return out
