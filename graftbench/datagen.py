"""Seeded input generator for the graft benchmark.

Writes the TPC-H-like star schema plus the `events` and `documents`
tables that the engine reads through `Tables.table`, with the same
column names and physical types as the engine's testdata (parquet,
timestamp[us] without zone). Dimension sizes are those of sf0.1.

`orders`/`lineitem` cover a `days`-long date slice at the sf0.1 density
(~62 orders and ~250 lineitems a day, 5 order priorities), so the
date-partitioned sink keeps the sf0.1 rows-per-file shape (~50 rows per
file) while a pass fits the run length.

The same seed always gives the same bytes of data.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS = 15_000
SUPPLIERS = 1_000
PARTS = 20_000
ORDERS_PER_DAY = 62.3
EVENT_USERS = 1_500
ORDER_START = dt.datetime(1995, 1, 1)
EVENT_START = dt.datetime(2024, 1, 1)

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "dark", "light"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "wire", "cap", "pin"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("a the data spark stream batch table row column key value join group "
         "sort hash scan filter window merge order part line agg query vector "
         "fast slow big small customer index").split()


def _ts(start, seconds):
    """timestamp[us] array from float seconds after `start`."""
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + np.round(np.asarray(seconds) * 1e6).astype(np.int64),
                    type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(rng, out, days):
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, CUSTOMERS),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, CUSTOMERS)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, SUPPLIERS)})
    adj, noun = rng.integers(0, 8, PARTS), rng.integers(0, 8, PARTS)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(PARTS), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, PARTS)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, PARTS)],
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(PARTS) % 1000) / 10.0, 2)})

    n_orders = int(round(ORDERS_PER_DAY * days))
    order_day = rng.integers(0, days, n_orders)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(ORDER_START, order_day * 86400.0),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})

    # each order gets 1..7 lines numbered 1..n, so (orderkey, linenumber)
    # — the transaction id — is unique
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    lineno = np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    n = len(okey)
    flags = rng.integers(0, 6, n)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("F", "O")[i % 2] for i in flags],
        "l_shipdate": _ts(ORDER_START, (order_day[okey] + rng.integers(1, 122, n)) * 86400.0)})
    return n


def events(rng, out, n):
    """`n` events over 30 days from 1,500 users (sf0.1 has 100,000)."""
    secs = np.sort(rng.uniform(0, 30 * 86400.0, n))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(EVENT_START, secs),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, out, n):
    """`n` random-word documents (sf0.1 has 5,000); ~0.2% exact copies and
    ~1% one-word edits of an earlier document, so the dedup and
    shared-passage paths find clusters."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.012:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in words))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def generate(out, seed, days, n_events, n_documents):
    """Write every table for `seed` into `out`; returns the lineitem count."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = star_schema(rng, out, days)
    events(rng, out, n_events)
    documents(rng, out, n_documents)
    return n
