"""Seeded stand-ins for the repository's test tables (TESTDATA.md,
FIXTURES.md section 6): the same ten tables, column names, types and value
domains, at the sf0.01 row counts, written the way the originals were
(pyarrow, one parquet file per table, `<dir>/<name>.parquet`), which is the
layout both the queries and the DuckDB oracle read.

    python3 perfbench/tables.py <dir> <seed>

prints the lineitem and orders row counts as JSON. The same seed always
writes the same values.
"""
import json
import os
import sys
from datetime import date, datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS, SUPPLIERS, PARTS, ORDERS = 1500, 100, 2000, 15000
EVENTS, DOCUMENTS, EMBEDDINGS, DIM = 10000, 500, 500, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
         "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
         "window"]

US_PER_DAY = 86_400_000_000


def write(out_dir, seed):
    rng = np.random.default_rng(seed)

    def pick(xs, n):
        return np.array(xs, dtype=object)[rng.integers(0, len(xs), n)].tolist()

    def ints(lo, hi, n):
        return rng.integers(lo, hi + 1, n)

    def money(lo, width, n):
        return np.round(rng.random(n) * width + lo, 2)

    def micros(d):
        return int((datetime(d.year, d.month, d.day) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000

    def ts(us):
        return pa.array(us, pa.int64()).cast(pa.timestamp("us"))

    tables = {}
    tables["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                                 "r_name": REGIONS})
    tables["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                                 "n_name": [f"NATION_{i}" for i in range(25)],
                                 "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(ints(0, 24, CUSTOMERS), pa.int32()),
        "c_acctbal": money(-995.0, 10994.0, CUSTOMERS),
        "c_mktsegment": pick(SEGMENTS, CUSTOMERS)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(ints(0, 24, SUPPLIERS), pa.int32()),
        "s_acctbal": money(-830.0, 10800.0, SUPPLIERS)})
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(PARTS), pa.int64()),
        "p_name": [f"{a} {n}" for a, n in zip(pick(ADJECTIVES, PARTS), pick(NOUNS, PARTS))],
        "p_brand": [f"Brand#{b}" for b in ints(1, 25, PARTS)],
        "p_type": pick(TYPES, PARTS),
        "p_size": pa.array(ints(1, 50, PARTS), pa.int32()),
        "p_retailprice": 900.0 + ints(0, 999, PARTS) / 10.0})

    # orders and their one to seven lines, so (l_orderkey, l_linenumber) is a key
    order_day = ints(0, 2403, ORDERS)
    order_us = micros(date(1995, 1, 1)) + order_day * US_PER_DAY
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(ORDERS), pa.int64()),
        "o_custkey": pa.array(ints(0, CUSTOMERS - 1, ORDERS), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], ORDERS),
        "o_totalprice": money(1013.0, 498965.0, ORDERS),
        "o_orderdate": ts(order_us),
        "o_orderpriority": pick(PRIORITIES, ORDERS)})
    lines = ints(1, 7, ORDERS)
    okey = np.repeat(np.arange(ORDERS), lines)
    n = len(okey)
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    quantity = ints(1, 50, n).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(ints(0, PARTS - 1, n), pa.int64()),
        "l_suppkey": pa.array(ints(0, SUPPLIERS - 1, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * (900.0 + rng.random(n) * 1200.0), 2),
        "l_discount": ints(0, 10, n) / 100.0,
        "l_tax": ints(0, 8, n) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["F", "O"], n),
        "l_shipdate": ts(np.repeat(order_us, lines) + ints(1, 90, n) * US_PER_DAY)})

    # January 2024, ascending with the id, up to four minutes of jitter
    ids = np.arange(EVENTS)
    tables["events"] = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": ts(micros(date(2024, 1, 1)) + ids * (30 * US_PER_DAY // EVENTS)
                 + ints(0, 240_000_000, EVENTS)),
        "user_id": pa.array(ints(0, 149, EVENTS), pa.int64()),
        "event_type": pick(EVENT_TYPES, EVENTS),
        "value": money(0.01, 490.0, EVENTS),
        "props": [f'{{"k": {k}}}' for k in ints(0, 99, EVENTS)]})

    # word salad over the reference documents' vocabulary; about one
    # document in twenty is a near duplicate of its predecessor
    texts = []
    for i in range(DOCUMENTS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[-1] + " dup")
        else:
            texts.append(" ".join(pick(WORDS, int(ints(8, 90, 1)[0]))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, DOCUMENTS),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # unit vectors scattered around one of ten label centroids
    centroids = rng.uniform(-1.0, 1.0, (10, DIM))
    label = ints(0, 9, EMBEDDINGS)
    raw = centroids[label] + rng.uniform(-1.0, 1.0, (EMBEDDINGS, DIM)) * 0.6
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {"lineitem": n, "orders": ORDERS}


if __name__ == "__main__":
    print(json.dumps(write(sys.argv[1], int(sys.argv[2]))))
