#!/usr/bin/env python3
"""Deterministic synthetic input tables for the benchmark.

Usage: python3 perfbench/gen_data.py <out_dir> <sf>

Writes the ten tables the engine's queries read (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each with a single row group, in the shape of the TPC-H-like star
schema plus the text and embedding corpora. The contents depend only on
`sf`: the benchmark's `--seed` picks what runs against them, never the
tables, so the oracle digests in digests.json stay valid for every seed.
"""
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "red", "new", "small", "cold", "old", "blue"]
PART_NOUN = ["ring", "bolt", "anvil", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def rng(i):
    return np.random.default_rng(BASE_SEED * 1000 + i)


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def days(base, r, span, n):
    d = r.integers(0, span, n).astype("timedelta64[D]")
    return (np.datetime64(base, "D") + d).astype("datetime64[us]")


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def strings(fmt, keys):
    return pa.array([fmt % k for k in keys], pa.string())


def documents(n):
    r = rng(9)
    lens = r.integers(10, 100, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # 5% of the documents are a copy of another one with a marker token
    # appended, so exact and near-duplicate detection have work to find
    dups = r.choice(n, n // 20, replace=False)
    for d in sorted(dups):
        src = int(r.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in r.choice(5, n, p=LANG_P)]),
        "source": strings("src%d", ids % 20),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(n):
    r = rng(10)
    x = r.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), 64)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32),
    }


def generate(out, sf):
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_evt = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = int(50000 * sf), int(20000 * sf)

    write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nk = np.arange(25, dtype=np.int32)
    write(out, "nation", {"n_nationkey": nk, "n_name": strings("NATION_%d", nk),
                          "n_regionkey": (nk % 5).astype(np.int32)})

    r = rng(3)
    ck = np.arange(n_cust, dtype=np.int64)
    write(out, "customer", {
        "c_custkey": ck, "c_name": strings("Customer#%09d", ck),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})

    r = rng(4)
    sk = np.arange(n_supp, dtype=np.int64)
    write(out, "supplier", {
        "s_suppkey": sk, "s_name": strings("Supplier#%09d", sk),
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(r, -999.99, 9999.99, n_supp)})

    r = rng(5)
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
    write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": strings("Brand#%d", r.integers(1, 26, n_part)),
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})

    r = rng(6)
    write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", r, 2404, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)]})

    r = rng(7)
    write(out, "lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(r, 900.0, 105000.0, n_line),
        "l_discount": np.round(r.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": days("1995-01-02", r, 2498, n_line)})

    r = rng(8)
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(r.integers(0, 30 * 86400 * 10**6, n_evt))
    write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(0, max(1, int(15000 * sf)), n_evt).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_evt)],
        "value": np.round(r.exponential(50.0, n_evt), 2),
        "props": strings('{"k": %d}', r.integers(0, 100, n_evt))})

    write(out, "documents", documents(n_doc))
    write(out, "embeddings", embeddings(n_emb))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
