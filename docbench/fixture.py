"""Generate the operator-suite fixture: the ten tables `SparkEntry.queries`
reads (a TPC-H-shaped star schema, an event stream, a small document
corpus with planted near-duplicates and an embedding table), at the
shape and scale of the repository's sf0.01 test data.

The fixture is a pure function of FIXTURE_SEED, so the expected result
hashes in expected/operator_suite.json stay valid for every benchmark
seed; the benchmark seed only changes the order the queries run in.

    python3 docbench/fixture.py OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 20260417
# bump when the generator changes, so a cached fixture is rebuilt
FIXTURE_VERSION = 2

N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_USERS, N_DOCS, N_VECS, DIM = 10000, 150, 500, 500, 64

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us")
                     + (np.asarray(seconds) * 1e6).astype("timedelta64[us]")),
                    pa.timestamp("us"))


def generate(out):
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
    _write(out, "customer", {
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, N_CUSTOMER)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2)})
    adj = ["small", "red", "blue", "hot", "old", "large"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate"]
    types = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
    _write(out, "part", {
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 6, N_PART), rng.integers(0, 6, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": [types[t] for t in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.05, 2)})
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    order_days = rng.integers(0, 2404, N_ORDERS)
    _write(out, "orders", {
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": _ts("1995-01-01", order_days * 86400),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, N_ORDERS)]})
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines])
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(36, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts("1995-01-01",
                          (order_days[okey] + rng.integers(1, 122, n)) * 86400)})
    etypes = ["signup", "error", "click", "view", "purchase"]
    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    _write(out, "events", {
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": [etypes[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    # documents: bags of corpus words; every 20th doc is a planted
    # near-duplicate of an earlier one (its text with " dup" appended)
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in
                                  rng.integers(0, len(WORDS), int(rng.integers(8, 90)))))
    langs = ["en", "en", "en", "zh", "es", "de", "fr"]
    _write(out, "documents", {
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.integers(0, len(langs), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centers[labels] + 0.6 * rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1])
