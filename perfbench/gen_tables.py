"""Seeded source tables for the analytics-sweep workload.

Same table names, column names and parquet types as the engine's test data
(a TPC-H-like star schema plus `events`, `documents` and `embeddings`), one
single-row-group parquet file per table. Row counts scale with `sf` the way
the test data's do (sf 0.01: 60k lineitem rows, 500 documents).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "en", "en", "de", "es", "fr", "zh"]


def _ts(days_from, n, rng, start, span_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), row_group_size=max(table.num_rows, 1))


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150000 * sf), 50)
    n_supp = max(int(10000 * sf), 10)
    n_part = max(int(200000 * sf), 100)
    n_ord = max(int(1500000 * sf), 500)
    n_line = max(int(6000000 * sf), 2000)
    n_events = max(int(1000000 * sf), 1000)
    n_docs = max(int(50000 * sf), 500)
    n_emb = max(int(20000 * sf), 500)
    n_users = max(int(15000 * sf), 30)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    pk = np.arange(n_part)
    _write(out, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 20000) * 0.1, 2)}))
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_ts(0, n_ord, rng, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_ts(0, n_line, rng, "1995-01-02", 2498), pa.timestamp("us"))}))
    # events: a 30-day stream in timestamp order
    offs = np.sort(rng.integers(0, 30 * 86400 * 1000000, n_events))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(np.maximum(rng.exponential(40.0, n_events), 0.01), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)]}))
    # documents: bags of words; as in the test data, 26 in 500 (5.2%) are an
    # earlier document plus " dup". Lengths and duplicate positions are the
    # same for every seed (only the words vary), so query cost does not
    # depend on the seed.
    n_dups = n_docs * 26 // 500
    step = (n_docs - 11) // n_dups
    dups = {11 + k * step: (k * 7) % (11 + k * step) for k in range(n_dups)}
    texts = []
    for i in range(n_docs):
        if i in dups:
            texts.append(texts[dups[i]] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), 10 + (i * 37) % 90)))
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    # embeddings: ten equal labelled clusters of unit vectors in 64 dimensions
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = np.arange(n_emb) % 10
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
