"""Seeded catalog tables: the TPC-H-style star schema plus the events,
documents and embeddings tables the catalog queries read, one parquet file
per table, with the column names and types of the repository's test data.

Sizes follow the scale factor ``sf`` as the test data's do (lineitem holds
about ``6e6 * sf`` rows); documents and embeddings keep their floors of 500
rows. Values are uniform over the same domains, documents are drawn from the
same 30-word vocabulary with 5% near-duplicates (a copy of an earlier
document with a ``dup`` token inserted), and embeddings are unit vectors
around ten labelled centres.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return pa.array(base + (np.asarray(seconds) * 1e6).astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, name + ".parquet"), compression="snappy")


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150000 * sf)
    n_supp = max(10, int(10000 * sf))
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = int(6000000 * sf)
    n_events = int(1000000 * sf)
    n_users = max(100, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_vecs = max(500, int(20000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}))
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}))
    order_days = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts("1995-01-01", order_days * 86400),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}))
    l_order = rng.integers(0, n_ord, n_line)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-01", (order_days[l_order] + rng.integers(1, 95, n_line)) * 86400)}))
    ev_secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts("2024-01-01", np.floor(ev_secs * 1e6) / 1e6),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]}))

    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = list(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(9, 100)))])
        texts.append(" ".join(words))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] * 0.35 + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))
    return {"sf": sf, "seed": seed, "lineitem": n_line, "documents": n_docs,
            "embeddings": n_vecs}
