"""Deterministic batch fixtures for the benchmark.

Writes the four tables the benchmark's batch queries read (events, orders,
lineitem, documents) as parquet, in the shapes and distributions of the
project's sf0.1 test tables: same columns and physical types (timestamps as
non-UTC-adjusted microseconds), same row counts and value domains.  Every
value comes from one fixed numpy seed, so two calls write identical tables.

    python3 perfbench/fixtures.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data dup part column order scan a slow agg key "
         "window table merge vector join").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131 * US_PER_DAY        # 1995-01-01
EPOCH_2024 = 19723 * US_PER_DAY       # 2024-01-01


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _cents(x):
    return np.round(x, 2)


def events(rng, n):
    gaps = rng.exponential(25.92, n)
    ts = EPOCH_2024 + (np.cumsum(gaps) * 1e6).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(_cents(rng.exponential(50.0, n))),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def orders(rng, n):
    days = rng.integers(0, 2404, n)   # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n // 10, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_cents(rng.uniform(1000.0, 500000.0, n))),
        "o_orderdate": _ts(EPOCH_1995 + days * US_PER_DAY),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }), days


def lineitem(rng, order_days, n_orders):
    per_order = rng.poisson(4.0, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    n = len(okey)
    ship = order_days[okey] + rng.integers(1, 122, n)
    return pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 2 * n_orders // 15, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_orders // 150, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng.uniform(900.0, 105000.0, n))),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(EPOCH_1995 + ship * US_PER_DAY),
    })


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def write_all(out_dir, scale=0.1):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(FIXTURE_SEED))
    n_orders = int(1_500_000 * scale)
    tables = {"events": events(rng, int(1_000_000 * scale))}
    tables["orders"], days = orders(rng, n_orders)
    tables["lineitem"] = lineitem(rng, days, n_orders)
    tables["documents"] = documents(rng, int(50_000 * scale))
    for name, table in tables.items():
        tmp = os.path.join(out_dir, name + ".parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, name + ".parquet"))


if __name__ == "__main__":
    write_all(sys.argv[1])
