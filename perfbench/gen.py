"""Seeded generator of the ten tables graft reads (`graft.Tables`).

The tables have the shape of the repository's test data: the TPC-H-like
star schema, the `events` stream, a text corpus and 64-d unit embeddings.
The same seed and scale give the same files. Timestamps are written as
INT64 micros without UTC adjustment (TIMESTAMP_NTZ), which Spark and the
DuckDB oracle both read as naive timestamps.

Row counts follow the test data's scale factor: sf = 0.01 gives 60k
lineitem, 10k events and 500 documents; `events_sf` sets the events table
on its own (the river seeds a 100k-row index with events_sf = 0.1).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "en", "en", "en", "de", "fr", "es", "zh"]

EVENTS_START_US = 1704067200000000  # 2024-01-01
EVENTS_SPAN_US = 30 * 86400 * 10**6
DAY0_US = 788918400000000  # 1995-01-01
DAY_US = 86400 * 10**6


def _ts(us):
    return pa.array(np.asarray(us, dtype="int64").astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(lo + rng.random(n) * (hi - lo), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(),
                    type=pa.string())


def events(seed, events_sf):
    rng = np.random.default_rng([seed, 1])
    n = max(100, int(1_000_000 * events_sf))
    users = max(10, int(15_000 * events_sf))
    step = EVENTS_SPAN_US // n
    ts = EVENTS_START_US + np.arange(n, dtype="int64") * step + rng.integers(0, step, n)
    value = np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n, dtype="int64")),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(seed, sf):
    """About one document in twenty is a near-copy of an earlier one (a
    prefix of it tagged " dup"), so the dedup operators find pairs."""
    rng = np.random.default_rng([seed, 2])
    n = max(50, int(50_000 * sf))
    texts = []
    for i in range(n):
        if i > 0 and rng.integers(0, 20) == 0:
            src = texts[rng.integers(0, i)].split(" ")
            texts.append(" ".join(src[:max(5, len(src) - int(rng.integers(0, 4)))]) + " dup")
        else:
            words = rng.integers(0, len(VOCAB), 10 + int(rng.integers(0, 90)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def embeddings(seed, sf):
    rng = np.random.default_rng([seed, 3])
    n = min(2000, max(50, int(50_000 * sf)))
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype="int32")),
    })


def tables(seed, sf, events_sf):
    rng = np.random.default_rng([seed, 0])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype="int32"))
    i64 = lambda a: pa.array(np.asarray(a, dtype="int64"))
    qty = rng.integers(1, 51, n_line).astype("float64")
    return {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": i64(range(n_part)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)}),
        "orders": pa.table({
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(DAY0_US + rng.integers(0, 2404, n_ord) * DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(900.0 * qty / 50.0 + rng.random(n_line)
                                                 * (2100.0 * qty - 900.0 * qty / 50.0), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(DAY0_US + rng.integers(1, 2499, n_line) * DAY_US)}),
        "events": events(seed, events_sf),
        "documents": documents(seed, sf),
        "embeddings": embeddings(seed, sf),
    }


def write(out_dir, seed, sf, events_sf, names=None):
    """Writes the tables (or only `names`) as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    if names == ["events"]:
        ts = {"events": events(seed, events_sf)}
    else:
        ts = tables(seed, sf, events_sf)
    for name, t in ts.items():
        if names is None or name in names:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
