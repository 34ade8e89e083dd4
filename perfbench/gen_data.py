#!/usr/bin/env python3
"""Deterministic synthetic star schema for the product-path benchmark.

Writes the ten tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), one
parquet file each, with the same column names, types and value domains
as the repository's test data: uniform keys, `Brand#1..25` brands, order
dates 1995-01-01..2001-08-01, a 31-word document vocabulary with 5 %
near-duplicate documents (suffix " dup") and a few exact duplicates,
64-dimensional unit embeddings with 10 labels.

The data does not depend on the benchmark's --seed (the seed draws the
request streams). It has LINEITEM_ROWS lineitem rows, a quarter of the
sf0.1 row counts; every other table scales alike.

Usage: python3 gen_data.py <out_dir>
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
LINEITEM_ROWS = 150_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "batch", "sort", "value", "hash", "filter",
         "big", "data", "part", "column", "order", "scan", "a", "slow",
         "agg", "key", "window", "table", "merge", "vector", "join"]

US_PER_DAY = 86_400_000_000


def day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def ts(values_us):
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out):
    rng = np.random.default_rng(DATA_SEED)
    k = LINEITEM_ROWS / 600_000  # share of the sf0.1 row counts
    n_cust = max(100, int(15_000 * k))
    n_supp = max(25, int(1_000 * k))
    n_part = max(100, int(20_000 * k))
    n_ord = max(100, int(150_000 * k))
    n_events = max(100, int(100_000 * k))
    n_docs = max(100, int(5_000 * k))
    n_emb = max(100, int(2_000 * k))

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2))})

    lo, hi = day_us(1995, 1, 1), day_us(2001, 8, 1)
    odays = rng.integers(0, (hi - lo) // US_PER_DAY + 1, n_ord)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": ts(lo + odays * US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    n = LINEITEM_ROWS
    okey = rng.integers(0, n_ord, n, dtype=np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": ts(lo + (odays[okey] + rng.integers(1, 122, n)) * US_PER_DAY)})

    ev_lo = day_us(2024, 1, 1)
    ev_ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_events)) + ev_lo
    write(out, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(10, int(1500 * k)), n_events, dtype=np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_events)]})

    texts = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:
            # near-duplicate of an earlier document: a few word swaps + marker
            words = texts[rng.integers(0, len(texts))].split(" ")
            words = [w for w in words if w != "dup"]
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words + ["dup"]))
        elif texts and r < 0.052:
            texts.append(texts[rng.integers(0, len(texts))])  # exact duplicate
        else:
            m = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), m)))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    a = ap.parse_args()
    tmp = a.out.rstrip("/") + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    generate(tmp)
    if os.path.exists(a.out):
        sys.exit(f"{a.out} already exists")
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
