"""Seeded generator for the registry tables the query workloads read.

Writes one single-row-group parquet file per table (the layout the
registry's loaders expect: `<dir>/<name>.parquet`) with the column names
and types of the project's test corpus: a TPC-H-like star schema, an
`events` stream table, a `documents` text corpus with planted
near-duplicates, and an `embeddings` table of unit vectors. The same
(seed, scale) always gives the same bytes.

`scale` multiplies the base row counts below; scale 1 is a few thousand
rows per table.

Usage: python3 gen_tables.py <out_dir> <seed> <scale>
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
}

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(base, seconds):
    """Naive microsecond timestamps `base + seconds` (parquet TIMESTAMP(MICROS),
    not adjusted to UTC, as the corpus stores them)."""
    us = np.round(np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    epoch = int((base - datetime.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(us + epoch, type=pa.timestamp("us"))


def _days(rng, n, start, span_days):
    return _ts(start, rng.integers(0, span_days, n) * 86400.0)


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, no, datetime.datetime(1995, 1, 1), 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, datetime.datetime(1995, 1, 2), 2498)})
    ne = n["events"]
    users = max(1, nc // 10)
    secs = np.sort(rng.uniform(0, 30 * 86400.0, ne))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(datetime.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, users, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document, one word
            # swapped, with a marker token appended
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB) - 1))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def write(out_dir, seed, scale):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
