"""Seeded synthetic corpus for the query workloads.

Writes the ten tables the declared queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the column names, types and value distributions of the
TPC-H-ish fixture corpus the queries are developed against: uniform
independent keys and values, a sorted event stream over January 2024,
near-duplicate documents (5% are an earlier document plus " dup") and
unit-norm 64-dim float embeddings. Row counts follow the fixture's
scale rules, so `sf=0.1` gives 600,000 lineitem rows. The README's
"Generated corpus" section compares seed 1 with the sf0.1 fixture.

The same (sf, seed) always gives byte-identical tables.

Usage: python3 perfbench/gen_corpus.py <outDir> <sf> <seed>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the join hash row batch scan customer column filter small slow "
         "merge order vector line data table agg value key stream window "
         "spark group part big sort query fast").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PTYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _pick(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _days(rng, first, last, n):
    """Midnight timestamps drawn uniformly from [first, last]."""
    span = (last - first).days + 1
    base = np.datetime64(first, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _ids(n):
    return pa.array(np.arange(n, dtype=np.int64))


def _int32(values):
    return pa.array(np.asarray(values, dtype=np.int32))


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_events, n_users = int(1000000 * sf), int(15000 * sf)
    n_docs, n_vecs = max(500, int(50000 * sf)), max(500, int(20000 * sf))

    yield "region", pa.table({
        "r_regionkey": _int32(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": _int32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": _int32([i % 5 for i in range(25)])})
    yield "customer", pa.table({
        "c_custkey": _ids(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": _int32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": _ids(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": _int32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    yield "part", pa.table({
        "p_partkey": _ids(n_part),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": _int32(rng.integers(1, 51, n_part)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))})
    yield "orders", pa.table({
        "o_orderkey": _ids(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": _int32(rng.integers(1, 8, n_line)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_events))
    yield "events", pa.table({
        "event_id": _ids(n_events),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]))
    yield "documents", pa.table({
        "doc_id": _ids(n_docs),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": _ids(n_vecs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": _int32(rng.integers(0, 10, n_vecs))})


def generate(out_dir, sf, seed):
    """Write every table under out_dir; returns the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(sf, seed):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


if __name__ == "__main__":
    print(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
