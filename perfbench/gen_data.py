#!/usr/bin/env python3
"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one parquet file
each, with the column names, types and value domains of the engine's
TPC-H-ish test fixtures. Row counts scale with --sf (sf 0.1 gives 600,000
lineitem rows). The same --seed always gives byte-identical tables.

Usage: python3 perfbench/gen_data.py --out DIR [--sf 0.1] [--seed 42]
"""
import argparse
import datetime as dt
import os

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
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def day_range(rng, n, start, end):
    """n uniform whole days in [start, end], as timestamp[us]."""
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int) + 1
    days = d0 + rng.integers(0, span, n).astype("timedelta64[D]")
    return days.astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust)
    write(out, "customer", {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(pick(rng, SEGMENTS, n_cust), pa.string())})
    sk = np.arange(n_supp)
    write(out, "supplier", {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(rng, n_supp, -999.99, 9999.99))})
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(pick(rng, names, n_part), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 1))})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(pick(rng, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(day_range(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(pick(rng, PRIORITIES, n_ord), pa.string())})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, n_li, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(pick(rng, ["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(pick(rng, ["F", "O"], n_li), pa.string()),
        "l_shipdate": pa.array(day_range(rng, n_li, "1995-01-02", "2001-11-04"))})

    month_us = 30 * 86400 * 1_000_000
    ts = EPOCH + (np.datetime64("2024-01-01", "us") - EPOCH) + np.sort(
        rng.integers(0, month_us, n_ev)).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(1, int(15000 * sf)), n_ev), pa.int64()),
        "event_type": pa.array(pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    # documents: random word streams; one in twenty is a near-duplicate of
    # an earlier document (its text plus a trailing " dup")
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(pick(rng, VOCAB, n_words)))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(pick(rng, LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors scattered around ten labelled centres
    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    generate(a.out, a.sf, a.seed)


if __name__ == "__main__":
    main()
