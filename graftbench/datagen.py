"""Seeded generator for the sf0.1-shaped star schema the registry gates read.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
types, row counts and value distributions of the sf0.1 test tables. The
same seed writes the same bytes; a different seed redraws every value, so
each benchmark run sees fresh data of the same shape.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
PTYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _strs(choices, idx):
    return pa.array(np.asarray(choices, dtype=object)[idx])


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
N_CUST, N_SUPP, N_PART, N_ORD, N_LINE = 15000, 1000, 20000, 150000, 600000
N_EV, N_USERS, N_DOCS, N_VEC = 100000, 1500, 5000, 2000


def generate(out, seed, tables=None):
    """Write `tables` (default: all) under `out`. Each table draws from its
    own stream of the seed, so a subset holds the same rows as a full set.
    """
    os.makedirs(out, exist_ok=True)
    for name in TABLES if tables is None else tables:
        rng = np.random.default_rng([seed, TABLES.index(name)])
        cols = globals()["_" + name](rng)
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _region(rng):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}


def _nation(rng):
    return {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}


def _customer(rng):
    n = N_CUST
    return {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": _strs(SEGMENTS, rng.integers(0, 5, n))}


def _supplier(rng):
    n = N_SUPP
    return {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2))}


def _part(rng):
    n = N_PART
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    return {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
        "p_type": _strs(PTYPES, rng.integers(0, 6, n)),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2))}


def _orders(rng):
    n = N_ORD
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUST, n, dtype=np.int64)),
        "o_orderstatus": _strs(["F", "O", "P"], rng.integers(0, 3, n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n) * US_PER_DAY),
        "o_orderpriority": _strs(PRIORITIES, rng.integers(0, 5, n))}


def _lineitem(rng):
    n = N_LINE
    return {
        "l_orderkey": pa.array(rng.integers(0, N_ORD, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, N_PART, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _strs(["A", "N", "R"], rng.integers(0, 3, n)),
        "l_linestatus": _strs(["F", "O"], rng.integers(0, 2, n)),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n) * US_PER_DAY)}


def _events(rng):
    n = N_EV
    # sorted distinct draws over 30 days: ts strictly increases with
    # event_id, so no two events share an event time
    ts = np.sort(rng.choice(30 * US_PER_DAY, n, replace=False)) + EPOCH_2024
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": _strs(EVENT_TYPES, rng.integers(0, 5, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}


def _documents(rng):
    n = N_DOCS
    # 10-100 words of a 30-word vocabulary; 5% of the docs are copies of
    # an earlier doc with " dup" appended, so the near-dup gates have true
    # pairs to find
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n)]
    for dst in np.sort(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[dst] = texts[int(rng.integers(0, dst))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _strs(LANGS, rng.choice(5, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}


def _embeddings(rng):
    n = N_VEC
    emb = rng.standard_normal((n, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))}
