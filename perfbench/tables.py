"""Seeded input tables for the registry op of the `serve` workload.

Writes the tables the registry queries read (customer, orders, lineitem,
events, documents) as one parquet file each, in the layout and value
domains of the repository's synthetic test tables (TESTDATA.md): uniform
TPC-H-like star-schema columns, an event stream over 30 days, and
documents over a 31-word vocabulary of which 5 % are near-duplicates of
an earlier document (its text plus the token "dup"). Sizes scale with
`sf` as the test tables do. The same seed gives the same tables.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = (["en", "de", "es", "fr", "zh"], [0.41, 0.14, 0.15, 0.15, 0.15])
DAY_US = 86_400_000_000


def _days(rng, n, first, last):
    """Midnight timestamps drawn uniformly from [first, last]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US,
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(i)] + " dup")
        else:
            words = rng.choice(WORDS, rng.integers(8, 91))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, seed, sf):
    """Write the tables for scale `sf` under `out_dir`."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_line = (int(sf * k) for k in (150_000, 1_500_000,
                                                   6_000_000))
    n_events, n_docs = int(sf * 1_000_000), max(500, int(sf * 50_000))
    tables = {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, int(sf * 200_000), n_line),
                                  pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, int(sf * 10_000), n_line),
                                  pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105_000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(np.sort(rng.integers(
                np.datetime64("2024-01-01", "us").astype(np.int64),
                np.datetime64("2024-01-31", "us").astype(np.int64),
                n_events)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(150, n_events // 67),
                                             n_events), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
            "value": _money(rng, n_events, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }),
        "documents": _documents(rng, n_docs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
