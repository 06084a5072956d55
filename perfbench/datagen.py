"""Deterministic synthetic tables in the shape of the engine's test data.

The benchmark cannot rely on any data outside its checkout, so it writes the
ten catalog tables itself: the TPC-H-like star (region .. lineitem), the
``events`` stream table and the LLM-data tables (``documents``,
``embeddings``). Column names, physical parquet types and value domains
follow FIXTURES.md; row counts scale with the scale factor as there.

The data seed is fixed, so every run and every commit reads byte-identical
inputs. The workload seed only permutes key order (see ``run.py``).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_COLORS = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_NOUNS = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_DAY_US = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (FIXTURES.md row-count table)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _named(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def build_tables(sf: float) -> dict[str, pa.Table]:
    """Return every table as an Arrow table; same ``sf`` gives equal tables."""
    n = row_counts(sf)
    rng = np.random.default_rng(DATA_SEED)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": _named("Customer", c),
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, _SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": _named("Supplier", s),
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _COLORS for b in _NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, _PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, o) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
        "l_discount": np.round(rng.uniform(0, 0.1, li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, li), 2),
        "l_returnflag": _pick(rng, ["N", "R", "A"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, li) * _DAY_US),
    })
    e = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, e))),
        "user_id": pa.array(rng.integers(0, max(c, 1), e), i64),
        "event_type": _pick(rng, _EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), rng.integers(10, 101))])
        for _ in range(d)
    ]
    # one doc in twenty is an earlier doc with a marker word appended:
    # the near-duplicate population the dedup operators look for
    for i in range(20, d, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": _pick(rng, _LANGS, d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=2.0, size=(m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def ensure_dataset(root: str, sf: float) -> str:
    """Write the tables under ``root`` once and return the sf directory.

    A ``_COMPLETE`` marker is written last, so an interrupted write is
    redone on the next call instead of being read half-finished.
    """
    sf_dir = os.path.join(root, f"sf{sf}")
    if os.path.exists(os.path.join(sf_dir, "_COMPLETE")):
        return sf_dir
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.makedirs(sf_dir)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"), compression="snappy")
    open(os.path.join(sf_dir, "_COMPLETE"), "w").close()
    return sf_dir
