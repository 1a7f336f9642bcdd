#!/usr/bin/env python3
"""Seeded analytics input: the ten parquet tables the query suite reads
(TPC-H-like star schema plus events, documents and embeddings), written to
OUT_DIR. Usage: tables.py OUT_DIR SEED SCALE  (SCALE 1.0 = the sf0.01 row
counts: 60,000 lineitems)."""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join small big customer query order group "
         "column data filter stream vector").split()
LANGS = ["en"] * 3 + ["zh", "de", "fr", "es"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["red", "blue", "small", "large", "hot", "old", "new", "green"]
NOUNS = ["widget", "bolt", "ring", "plate", "rod", "gear", "pipe", "nut"]


def ts_us(start, rng, n, lo_days, hi_days):
    base = np.datetime64(start, "us").astype(np.int64)
    days = rng.integers(lo_days, hi_days, n)
    return pa.array(base + days * 86_400_000_000, type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def main(out, seed, scale):
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(200, int(15000 * scale))
    n_line = 4 * n_ord
    n_ev = max(500, int(10000 * scale))
    n_doc = max(100, int(500 * scale))
    n_emb = max(100, int(500 * scale))

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": ts_us("1995-01-01", rng, n_ord, 0, 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": ts_us("1995-01-02", rng, n_line, 0, 2498)})
    gaps = rng.integers(1, 2 * (30 * 86_400_000_000 // n_ev), n_ev)
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(base + np.cumsum(gaps), type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": money(rng, 0.01, 490, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 90)))
             for _ in range(n_doc)]
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
