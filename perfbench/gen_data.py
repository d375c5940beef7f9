"""Seeded generator for the benchmark's input tables.

Writes the ten tables the library reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group snappy Parquet file each, in the schema and value
distributions of the library's test corpora, at the row counts of its sf0.01
corpus (SIZES: 15k orders, 60k line items, 10k events over 150 users, 500
documents with 5 % planted near-duplicates and 500 64-dim unit embeddings).
The same seed always gives byte-identical tables; different seeds change
every value but no row count, so the work per run stays put.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1_500, "supplier": 100, "part": 2_000,
         "orders": 15_000, "lineitem": 60_000, "events": 10_000,
         "users": 150, "documents": 500, "embeddings": 500}
EMB_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "anvil", "widget", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400 * 1_000_000


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=table.num_rows + 1)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    return EPOCH_1995 + rng.integers(lo, hi, n) * np.timedelta64(DAY_US, "us")


def generate(out_dir, seed):
    """Write every table under `out_dir`; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    n = SIZES
    N_USERS = n["users"]
    N_CUSTOMER, N_SUPPLIER, N_PART = n["customer"], n["supplier"], n["part"]
    N_ORDERS, N_LINEITEM, N_EVENTS = n["orders"], n["lineitem"], n["events"]
    N_DOCS, N_EMB = n["documents"], n["embeddings"]
    N_DUP_DOCS = N_DOCS // 20

    def put(name, cols):
        t = pa.table(cols)
        _write(out_dir, name, t)
        counts[name] = t.num_rows

    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": REGIONS})
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    put("customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]})

    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    put("supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})

    pk = np.arange(N_PART, dtype=np.int64)
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    put("part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), N_PART)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, N_PART)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})

    put("orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, 0, 2404, N_ORDERS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]})

    put("lineitem", {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM, dtype=np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM, dtype=np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _days(rng, 1, 2499, N_LINEITEM)})

    ts = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS))
    put("events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})

    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, N_DOCS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    # planted near-duplicates: a copy of another document plus one token
    dup_ids = rng.choice(N_DOCS, N_DUP_DOCS, replace=False)
    for i in dup_ids:
        texts[i] = texts[(i + 1 + rng.integers(0, N_DOCS - 1)) % N_DOCS] + " dup"
    put("documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, N_EMB, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    emb = rng.normal(0.0, 1.0, (N_EMB, EMB_DIM)) + 0.07 * centers[labels]
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": labels})
    return counts


if __name__ == "__main__":
    import sys
    import time
    t0 = time.time()
    print(generate(sys.argv[1], int(sys.argv[2])),
          f"{time.time() - t0:.2f}s")
