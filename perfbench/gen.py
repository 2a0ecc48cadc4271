"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables graft's queries read (TPC-H-style star schema plus
`events`, `documents` and `embeddings`), one parquet file each, with the
schemas, key ranges and value distributions of the engine's test data:
independent uniform columns, exponential event values and inter-arrival
gaps, a 31-word document vocabulary with exact and near duplicates, and
unit-norm 64-d embeddings. Row counts scale linearly with `sf` (sf 0.1 is
600k lineitem rows).

The tables depend only on `sf` and DATA_SEED, never on the workload seed,
so one generated directory serves every run; `run.py` checks it by content
hash before reuse.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n = {k: max(1, int(round(v * sf))) for k, v in dict(
        customer=150000, supplier=10000, part=200000, orders=1500000,
        lineitem=6000000, events=1000000, documents=50000,
        embeddings=20000).items()}
    nc, ns, np_, no, nl = (n["customer"], n["supplier"], n["part"],
                           n["orders"], n["lineitem"])
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, np_),
                                              rng.choice(_NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(_PRIORITIES, no)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": np.round(rng.integers(0, 21, nl) / 200, 2),
        "l_tax": np.round(rng.integers(0, 17, nl) / 200, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})

    ne = n["events"]
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    span_us = 30 * 86400 * 10**6
    gaps = rng.exponential(1.0, ne)
    ts = start_us + (np.cumsum(gaps) / gaps.sum() * span_us * 0.9999).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(15, ne // 66), ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = [" ".join(rng.choice(_WORDS, k)) for k in rng.integers(10, 101, nd)]
    # exact duplicates, then near duplicates (a copy of another doc + " dup")
    for i in rng.choice(nd, max(1, nd // 600), replace=False):
        texts[i] = texts[(i + nd // 2) % nd]
    for i in rng.choice(nd, max(1, nd // 20), replace=False):
        texts[i] = texts[(i + 7 * nd // 10) % nd] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = n["embeddings"]
    v = rng.normal(size=(nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return out


def generate(out_dir, sf):
    """Write every table to `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
