"""Seeded input generator for the benchmark workloads.

Writes the ten parquet tables the query packs read (the TPC-H-ish star
schema, `events`, `documents` and `embeddings`) with the same schemas and
value distributions as the project's test tables, one row group per table.
The same seed always gives byte-identical tables.

`catalog` writes all ten tables at scale 0.01. `replay` writes only
`events.parquet` for the streaming replay: a stream spanning the given
event-time seconds at the 0.1-scale event density (100 000 events per
30 days, 1 500 users).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
T0_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86400 * 1_000_000
EPOCH_1995_DAYS = 9131  # 1995-01-01 as days since the epoch
CATALOG_SF = 0.01


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def _days_ts(days):
    """Days since the epoch -> midnight timestamps (us, naive)."""
    return pa.array(days.astype(np.int64) * DAY_US, type=pa.timestamp("us"))


def _cents(x):
    return np.round(x, 2)


def events_table(rng, n, users, span_us):
    ts = np.sort(T0_US + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), type=pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.maximum(0.01, _cents(rng.exponential(50.0, n)))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    langs = rng.choice(["en", "zh", "de", "fr", "es"], n,
                       p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings_table(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centers[label] + rng.normal(0.0, 1.2, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label, type=pa.int32()),
    })


def catalog(out_dir, seed):
    sf = CATALOG_SF
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(15000 * sf), int(1000 * sf), int(20000 * sf)
    n_ord = int(150000 * sf)
    n_li = 4 * n_ord
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32())}))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], n_cust)}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n_supp))}))
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": _cents(900.0 + (np.arange(n_part) % 1000) / 10.0)}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": _days_ts(EPOCH_1995_DAYS + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days_ts(EPOCH_1995_DAYS + 1 + rng.integers(0, 2499, n_li))}))
    _write(out_dir, "events", events_table(
        rng, int(1_000_000 * sf), max(10, int(15000 * sf)), 30 * DAY_US))
    _write(out_dir, "documents", documents_table(rng, max(500, int(50000 * sf))))
    _write(out_dir, "embeddings", embeddings_table(rng, max(500, int(20000 * sf))))


def replay(out_dir, seed, span_s):
    """events.parquet over `span_s` event-time seconds at 0.1-scale density."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = int(round(100000 * span_s / (30 * 86400)))
    _write(out_dir, "events", events_table(rng, n, 1500, int(span_s * 1_000_000)))

