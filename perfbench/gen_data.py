"""Seeded synthetic input tables for the benchmark.

Writes the ten parquet tables graft's loader and declared queries read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) with the column names and types of the TPC-H-ish
fixture family described in FIXTURES.md. Row counts follow the scale
factor `sf` (sf=0.1: 15,000 customers, 150,000 orders, 600,000
lineitems). The same (sf, seed) always gives byte-identical tables.

Usage: python3 perfbench/gen_data.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table key value query join scan filter sort "
         "merge hash group agg window stream batch spark vector line part "
         "order customer small big fast slow").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PART_TYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
STATUS = "F O P".split()
PRIORITY = "1-URGENT 2-HIGH 3-MEDIUM 4-NOT SPECIFIED 5-LOW".split()
EVENT_TYPES = "click error purchase signup view".split()
LANGS = "en de es fr zh".split()
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
DAY_MS = 86_400_000
MAX_PAIR_REPEATS = 4


def occurrence(keys):
    """For each element, how many equal keys precede it."""
    order = np.argsort(keys, kind="stable")
    ks = keys[order]
    idx = np.arange(len(ks))
    run_start = np.maximum.accumulate(np.where(np.r_[True, ks[1:] != ks[:-1]], idx, 0))
    occ = np.empty(len(ks), dtype=np.int64)
    occ[order] = idx - run_start
    return occ


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span_days, n):
    base = np.datetime64(start, "ms").astype(np.int64)
    return pa.array(base + rng.integers(0, span_days, n) * DAY_MS, pa.timestamp("ms"))


def doc_texts(rng, n):
    lens = rng.integers(8, 90, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS, dtype=object)[idx]
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(words[at:at + ln]))
        at += ln
    # a few exact copies and near copies, so the dedup queries find work
    k = max(2, n // 600)
    for i in rng.choice(n, 2 * k, replace=False).reshape(2, k).T:
        out[i[1]] = out[i[0]]
    for i in rng.choice(n, 2 * k, replace=False).reshape(2, k).T:
        out[i[1]] = out[i[0]] + " " + WORDS[rng.integers(0, len(WORDS))]
    return out


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    yield "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.array(names, dtype=object)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES, dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(STATUS, dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": np.array(PRIORITY, dtype=object)[rng.integers(0, 5, n_ord)]})
    orderkey = rng.integers(0, n_ord, n_li)
    linenumber = rng.integers(1, 8, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 100000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(list("ANR"), dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(list("FO"), dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": days(rng, "1995-01-02", 2499, n_li)})
    # repeated (orderkey, linenumber) pairs are kept, as in the reference
    # fixture, but at most MAX_PAIR_REPEATS times: the loader packs the
    # occurrence index of a pair into 3 bits of the edge record id
    yield "lineitem", lineitem.filter(pa.array(occurrence(orderkey * 8 + linenumber)
                                               < MAX_PAIR_REPEATS))
    t0 = np.datetime64("2024-01-01", "ns").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * DAY_MS * 1_000_000, n_ev)) + t0
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    text = doc_texts(rng, n_doc)
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": text,
        "lang": np.array(LANGS, dtype=object)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})
    # ten label clusters of unit vectors
    label = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[label] + rng.normal(0.0, 1.2, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf, seed):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
