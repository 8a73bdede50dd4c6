"""Seeded input generator for the benchmark workloads.

The tables follow the shape of the repository's test fixtures (a TPC-H-like
star schema, an `events` stream, a `documents` corpus and an `embeddings`
table); every value is drawn from the seed, so one seed always gives the
same inputs and another seed gives other inputs of the same size.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes; BENCHMARK.json and README.md give the reasons.
SIZES = {
    "ml_pipeline": dict(events=100000, users=1500),
    "operator_queries": dict(customers=15000, orders=150000, lineitem=600000,
                             parts=20000, suppliers=100, events=100000,
                             users=1500, documents=500, embeddings=500),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _ts_us(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype="int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _day(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(rng, customers, orders, lineitem, parts, suppliers=100):
    """region, nation, customer, supplier, part, orders and lineitem."""
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": rng.choice(SEGMENTS, customers)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, suppliers)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(parts), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, parts),
                                              rng.choice(PART_NOUN, parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, parts)],
        "p_type": rng.choice(PART_TYPES, parts),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(parts) % 1000) * 0.1, 1)})
    odate = rng.integers(_day(1995, 1, 1), _day(2001, 8, 1) + 1, orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": _money(rng, 1000, 500000, orders),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": rng.choice(PRIORITIES, orders)})
    lok = rng.integers(0, orders, lineitem)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, lineitem), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, lineitem), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitem), pa.int32()),
        "l_quantity": rng.integers(1, 51, lineitem).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, lineitem),
        "l_discount": rng.integers(0, 11, lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, lineitem) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], lineitem),
        "l_linestatus": rng.choice(["F", "O"], lineitem),
        "l_shipdate": _ts_us(odate[lok] + rng.integers(1, 96, lineitem))})
    return t


def events(rng, n, users, rekey=False):
    """A 30-day event stream from 2024-01-01 with ids in time order; with
    `rekey` the user ids are a seeded permutation of spread-out keys."""
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, n)) + start
    keys = np.arange(users)
    if rekey:
        keys = rng.permutation(keys * 7 + int(rng.integers(0, 1000)))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(keys[rng.integers(0, users, n)], pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, n):
    """A word-salad corpus with 5% near-duplicates (an earlier text plus
    a trailing ' dup')."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    vecs = pa.array(list(x.astype("float32")), pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n), pa.int64()),
                     "embedding": vecs,
                     "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def _write(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def generate(workload, seed, out):
    """Writes the workload's inputs for `seed` under `out`."""
    rng = np.random.default_rng(seed)
    size = SIZES[workload]
    if workload == "ml_pipeline":
        _write({"events": events(rng, size["events"], size["users"], rekey=True)}, out)
    else:
        t = tpch(rng, size["customers"], size["orders"], size["lineitem"],
                 size["parts"], size["suppliers"])
        t["events"] = events(rng, size["events"], size["users"])
        t["documents"] = documents(rng, size["documents"])
        t["embeddings"] = embeddings(rng, size["embeddings"])
        _write(t, out)
