"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the engine's query packs read
(region nation customer supplier part orders lineitem events documents
embeddings) with the column names and types the packs expect: a
TPC-H-shaped star schema, a month of click events, a word-salad
document corpus with ~5% near-duplicates (a copy of another document
plus a trailing " dup"), and 64-d unit embeddings in 10 loose clusters.
Row counts are those of the engine's scale-0.01 test tables, except the
corpus, which is larger so that per-document kernels outweigh per-query
fixed cost. `perfbench/run.py` calls `write`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEED = 42
N_CUST, N_PART, N_SUPP, N_ORDERS = 1_500, 2_000, 100, 15_000
N_EVENTS, N_USERS = 10_000, 150
N_DOCS, N_VECS = 10_000, 500


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def tables():
    rng = np.random.default_rng(SEED)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUST), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUST), s)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2), f64)})
    keys = np.arange(N_PART)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(ADJ, N_PART),
                                                      rng.choice(NOUN, N_PART))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)], s),
        "p_type": pa.array(rng.choice(PTYPES, N_PART), s),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 2), f64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, N_ORDERS), 2), f64),
        "o_orderdate": pa.array(_days(rng, N_ORDERS, "1995-01-01", 2404), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS), s)})
    per_order = rng.integers(1, 8, N_ORDERS)
    n_lines = int(per_order.sum())
    okey = np.repeat(np.arange(N_ORDERS), per_order)
    lineno = np.concatenate([np.arange(1, k + 1) for k in per_order])
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_lines), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, n_lines), i64),
        "l_linenumber": pa.array(lineno, i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_lines), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines), s),
        "l_shipdate": pa.array(_days(rng, n_lines, "1995-01-02", 2499), ts)})
    month_us = 30 * 86_400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, month_us, N_EVENTS))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS), s),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, N_EVENTS), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], s)})
    texts = [" ".join(rng.choice(WORDS, int(n))) for n in rng.integers(10, 100, N_DOCS)]
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    langs = rng.choice(LANGS, N_DOCS, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(langs, s),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0, 1, (10, 64))
    vecs = 0.15 * centers[labels] + rng.normal(0, 1, (N_VECS, 64))
    for i in rng.choice(N_VECS, N_VECS // 20, replace=False):
        vecs[i] = vecs[int(rng.integers(0, N_VECS))] + rng.normal(0, 0.01, 64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_VECS), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
