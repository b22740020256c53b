"""Deterministic synthetic fixture tables for the benchmark.

The benchmark may read only inside its own checkout, so it builds its
inputs here instead of reading a shared fixture directory. The schemas,
value ranges and duplicate structure follow the fixture tables the
engine is tested on (FIXTURES.md): uniform TPC-H-ish keys and values, an
``events`` stream with microsecond timestamps, a 30-word document corpus
in which about 5% of documents are a copy of an earlier one with
``" dup"`` appended, and 64-d unit embeddings.

The data seed is a constant, not the workload seed: every workload seed
runs against identical tables, so run-to-run spread comes from the
operation stream alone and oracle results can be cached per table set.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: Bump when the generated content changes, so cached tables rebuild.
GEN_VERSION = 1

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = ["spark", "window", "merge", "table", "column", "vector",
         "stream", "value", "data", "small", "join", "filter", "big",
         "group", "hash", "customer", "sort", "order", "slow", "line",
         "part", "fast", "row", "the", "agg", "key", "query", "a",
         "scan", "batch"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate",
              "gizmo"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
             "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMBED_DIM = 64


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _days(rng: np.random.Generator, start: str, span: int,
          n: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(0, span + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32()),
        pa.array(x.ravel(), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(1_000 * sf))
    n_part = max(200, int(20_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            pa.float64())})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2403, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float),
                               pa.float64()),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0,
                               pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        gaps).astype("int64").astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2),
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)], pa.string())})
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def ensure_tables(cache_root: Path, sf: float) -> str:
    """Directory holding the ``sf`` tables as one parquet file each,
    generating them on first use. The write goes to a temporary sibling
    renamed into place, so an interrupted run never leaves a partial
    table set behind."""
    final = cache_root / f"sf{sf}-v{GEN_VERSION}"
    if final.is_dir():
        return str(final)
    tmp = cache_root / f".tmp-{final.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    os.replace(tmp, final)
    return str(final)
