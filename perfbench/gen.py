"""Deterministic generator for the benchmark's input tables.

Writes the ten tables graft's `Tables` loaders read (one parquet file each,
named `<table>.parquet`) with the schemas and value shapes of graft's test
data: a TPC-H-like star schema, an `events` stream table and the
`documents`/`embeddings` corpus tables.

The tables depend only on the scale factor and `DATA_SEED`, never on the
benchmark's `--seed`: the expected output digests in `expected.json` are
recorded against exactly these tables. The workload seed varies the query
order and the live-phase arrival times instead.

Run standalone as `python3 perfbench/gen.py <out_dir> [scale]`.
"""

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("PROMO", "SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _us(year, month, day):
    return (dt.datetime(year, month, day) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _days(rng, n, start, end):
    """Uniform whole days in [start, end), as timestamp[us] values."""
    lo, hi = _us(*start) // 86_400_000_000, _us(*end) // 86_400_000_000
    return rng.integers(lo, hi, n) * 86_400_000_000


def _write(out, name, columns):
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="snappy")


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def generate(out, scale):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * scale)
    n_orders = 10 * n_cust
    n_lines = 4 * n_orders
    n_part = int(200_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_events = int(1_000_000 * scale)
    n_users = max(10, n_cust // 10)
    n_docs = int(50_000 * scale)
    n_vecs = max(500, int(20_000 * scale))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})

    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    part_price = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": part_price})

    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts(_days(rng, n_orders, (1995, 1, 1), (2001, 8, 2))),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})

    l_part = rng.integers(0, n_part, n_lines)
    l_qty = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_lines),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": l_qty,
        "l_extendedprice": np.round(l_qty * part_price[l_part] * rng.uniform(0.95, 2.1, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_lines)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_lines)],
        "l_shipdate": _ts(_days(rng, n_lines, (1995, 1, 2), (2001, 11, 5)))})

    # events: ts ascending with event_id over 30 days, as the stream replays
    start = _us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n_events))
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    # documents: random vocabulary text; one in twenty is an earlier
    # document with " dup" appended, so the dedup rows find clusters
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
