"""Deterministic synthetic catalog tables for the catalog-mix workload.

Writes the ten tables the catalog reads (`graft.Tables.names`) as single
parquet files, with the schemas and value distributions of the engine's
sf0.01 test data: uniform keys, TPC-H-style categorical columns, an
`events` stream ordered by time, short documents over a fixed vocabulary
and unit-norm 64-d embeddings. The data seed is fixed, so every run of the
benchmark reads the same tables; the workload seed only orders queries.

    python3 perfbench/gen_tables.py OUT_DIR
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
USERS = 150
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "new", "hot", "large", "cold", "red", "blue", "old"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = ("a the fast slow big small data spark query table row column key "
         "value hash join merge sort group agg filter scan window stream "
         "batch line part order customer vector dup").split()


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def pick(rng, values, n, p=None):
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def tables(rng):
    n = ROWS
    yield "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}
    yield "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    yield "customer", {
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pick(rng, SEGMENTS, n["customer"])}
    yield "supplier", {
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n["supplier"])}
    parts = n["part"]
    yield "part", {
        "p_partkey": pa.array(range(parts), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, PART_ADJ, parts),
                                              pick(rng, PART_NOUN, parts))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, parts)],
        "p_type": pick(rng, PART_TYPES, parts),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(parts) % 1000) * 0.1, 2)}
    orders = n["orders"]
    yield "orders", {
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], orders), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], orders),
        "o_totalprice": money(rng, 1000, 500000, orders),
        "o_orderdate": pa.array(days(rng, dt.date(1995, 1, 1),
                                     dt.date(2001, 8, 1), orders),
                                pa.timestamp("us")),
        "o_orderpriority": pick(rng, PRIORITIES, orders)}
    li = n["lineitem"]
    yield "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, orders, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], li),
        "l_linestatus": pick(rng, ["F", "O"], li),
        "l_shipdate": pa.array(days(rng, dt.date(1995, 1, 2),
                                    dt.date(2001, 11, 4), li),
                               pa.timestamp("us"))}
    ev = n["events"]
    gaps = rng.uniform(0, 2 * 30 * 86400e6 / ev, ev).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    yield "events", {
        "event_id": pa.array(range(ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, ev), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)]}
    docs = n["documents"]
    text = [" ".join(pick(rng, VOCAB, k)) for k in rng.integers(10, 100, docs)]
    # One document in ten is a near copy of an earlier one (a word or two
    # replaced), so the dedup and containment queries have work to find.
    for i in range(docs // 10, docs, 10):
        words = text[int(rng.integers(0, i))].split()
        for j in rng.integers(0, len(words), int(rng.integers(1, 3))):
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        text[i] = " ".join(words)
    yield "documents", {
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": text,
        "lang": pick(rng, LANGS, docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k}" for k in rng.integers(0, 20, docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())}
    vecs = n["embeddings"]
    labels = rng.integers(0, 10, vecs)
    centroids = rng.normal(0, 1, (10, 64))
    v = centroids[labels] * 0.5 + rng.normal(0, 1, (vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", {
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}


def main(out_dir):
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, cols in tables(np.random.default_rng(DATA_SEED)):
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    main(sys.argv[1])
