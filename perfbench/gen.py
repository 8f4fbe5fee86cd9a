"""Seeded input tables for the benchmark.

Builds the ten tables the engine's catalog knows (TPC-H-shaped star schema,
``events``, ``documents``, ``embeddings``) and writes the ones a workload
reads as one parquet file each, one row
group per file, with the column names and physical types the engine's
registry queries and oracles expect.  Every value is drawn from a NumPy
generator seeded by the benchmark seed, so the same ``(seed, sf)`` always
writes the same rows.

``documents`` additionally carries seeded near-duplicates inside the
``doc_id < 250`` slice that the n-gram Jaccard and MinHash-LSH rows read:
each injected document is a copy of another document of the slice with a
small share of its words replaced, so both dedup rows find pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.15, 0.41, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# The dedup rows read this slice of documents; near-duplicates go into it.
DEDUP_SLICE = 250
NEAR_DUPS = 24
EDIT_RATES = (0.0, 0.02, 0.04, 0.06)
EMB_DIM = 64


def table_sizes(sf: float) -> "dict[str, int]":
    """Row counts at scale factor ``sf`` (sf 0.1 gives 600k lineitem rows)."""
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(25_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    words = [list(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    if n >= DEDUP_SLICE:
        ids = rng.permutation(DEDUP_SLICE)
        for target, source in zip(ids[:NEAR_DUPS], ids[NEAR_DUPS : 2 * NEAR_DUPS]):
            rate = EDIT_RATES[target % len(EDIT_RATES)]
            copy = list(words[source])
            for i in np.flatnonzero(rng.random(len(copy)) < rate):
                copy[i] = vocab[rng.integers(0, len(vocab))]
            words[target] = copy
    text = [" ".join(w) for w in words]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel(), pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> "dict[str, pa.Table]":
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    i64, i32 = pa.int64(), pa.int32()
    ts = pa.timestamp("us")
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), i64),
                "c_name": _names("Customer", n["customer"]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
                "s_name": _names("Supplier", n["supplier"]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), i64),
                "p_name": _pick(rng, [f"{a} {b}" for a in P_ADJ for b in P_NOUN], n["part"]),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
                "p_type": _pick(rng, P_TYPES, n["part"]),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
                "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), i64),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n["orders"]),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
                "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n["orders"]), ts),
                "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), i64),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), i64),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n["lineitem"]),
                "l_linestatus": _pick(rng, ("F", "O"), n["lineitem"]),
                "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n["lineitem"]), ts),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n["events"]), i64),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us")
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, n["events"])).astype("timedelta64[us]"),
                    ts,
                ),
                "user_id": pa.array(rng.integers(0, 1500, n["events"]), i64),
                "event_type": _pick(rng, EVENT_TYPES, n["events"]),
                "value": np.round(np.minimum(rng.exponential(50.0, n["events"]), 560.0), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def generate(out_dir: str, seed: int, sf: float, tables=None) -> "dict[str, int]":
    """Write the named tables (all when ``tables`` is None) under ``out_dir``;
    return the bytes of each file.  A table's rows do not depend on which
    other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in build_tables(seed, sf).items():
        if tables is not None and name not in tables:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows or 1)
        sizes[name] = os.path.getsize(path)
    return sizes
