#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the engine's ten parquet tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schema of the repository's testdata (`TESTDATA.md`, `FIXTURES.md` B) and
the distributions measured on its sf0.1 rung:

  * every key is uniform (no skew): customers per nation, orders per
    customer, lines per order (~4), events per user;
  * events: 66.7 events per user over 30 days of January 2024, five event
    types, exponential(50) values, `{"k": 0..99}` JSON props, `event_id`
    in timestamp order;
  * documents: 10-100 words from a 30-word vocabulary, 5 % near-duplicates
    (another document's text plus " dup"), 41 % `en` and four other langs,
    `source = src{doc_id % 20}`;
  * embeddings: unit-norm 64-d float vectors, ten uniform labels.

Row counts scale with `sf` exactly as the testdata rungs do (lineitem
6 M x sf, events 1 M x sf, ...). The same seed gives byte-identical files;
every table draws from its own `(seed, table, part)` random stream.

    python3 perfbench/gen.py --seed 7 --sf 0.02 --out /tmp/in
"""
import argparse
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

EVENTS_PER_USER = 1e6 / 15000      # sf0.1: 100 000 events over 1 500 users
NEAR_DUP_FRACTION = 0.05           # sf0.1: 250 of 5 000 documents
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
US_PER_DAY = 86_400_000_000


def _rng(seed, table, part=0):
    return np.random.default_rng([seed, TABLES.index(table), part])


def _micros(d):
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, n, start, end):
    """Uniform whole days in [start, end], as timestamp[us] micros."""
    span = (end - start).days
    return _micros(start) + rng.integers(0, span + 1, n) * US_PER_DAY


def _ts(micros):
    return pa.array(micros, pa.int64()).cast(pa.timestamp("us"))


def region(seed, sf):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def nation(seed, sf):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def customer(seed, sf):
    n = int(150_000 * sf)
    rng = _rng(seed, "customer")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n)]})


def supplier(seed, sf):
    n = int(10_000 * sf)
    rng = _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})


def part(seed, sf):
    n = int(200_000 * sf)
    rng = _rng(seed, "part")
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                              noun[rng.integers(0, 8, n)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2)})


def orders(seed, sf):
    n = int(1_500_000 * sf)
    rng = _rng(seed, "orders")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, int(150_000 * sf), n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
        "o_orderdate": _ts(_days(rng, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))),
        "o_orderpriority": prio[rng.integers(0, 5, n)]})


def lineitem(seed, sf):
    n = int(6_000_000 * sf)
    rng = _rng(seed, "lineitem")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * sf), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_days(rng, n, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)))})


def events(seed, sf, users=None, part=0):
    """`users` overrides the sf-derived user count (events per user stays
    fixed); `part` selects an independent batch for the same seed."""
    users = int(15_000 * sf) if users is None else users
    n = int(round(users * EVENTS_PER_USER))
    rng = _rng(seed, "events", part)
    ts = np.sort(_micros(EVENTS_START) + rng.integers(0, EVENTS_DAYS * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(seed, sf):
    n = int(50_000 * sf)
    rng = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dups = np.flatnonzero(rng.random(n) < NEAR_DUP_FRACTION)
    for i, src in zip(dups, rng.integers(0, n, len(dups))):
        texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(seed, sf):
    n = max(500, int(20_000 * sf))
    rng = _rng(seed, "embeddings")
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(v.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


BUILDERS = {t: globals()[t] for t in TABLES}


def write_table(table, path):
    """Write one single-row-group parquet file (the testdata layout) and
    return (rows, sha256 of the file bytes)."""
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))
    with open(path, "rb") as f:
        return table.num_rows, hashlib.sha256(f.read()).hexdigest()


def generate(seed, out_dir, sf, tables=TABLES, users=None, events_part=0):
    """Write `tables` for `seed` into `out_dir`; returns {table: (rows, sha256)}."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for t in tables:
        tab = (events(seed, sf, users, events_part) if t == "events"
               else BUILDERS[t](seed, sf))
        out[t] = write_table(tab, os.path.join(out_dir, f"{t}.parquet"))
    return out


def distinct_users(path):
    return len(pq.read_table(path, columns=["user_id"]).column(0).unique())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--users", type=int, default=None)
    a = ap.parse_args()
    for t, (rows, h) in generate(a.seed, a.out, a.sf, users=a.users).items():
        print(f"{t:<11} {rows:>9} rows  sha256 {h[:16]}")


if __name__ == "__main__":
    main()
