"""Seeded input tables for the flow benchmark.

Writes the registry tables the benchmark's flows read (TPC-H-like
``customer``, ``supplier``, ``orders``, ``lineitem`` and the ``documents``
corpus) as one parquet file per table, with the column names, types and
value domains the registry flows and their DuckDB oracles expect: those of
the registry's sf0.01 test tables.  The same seed always gives the same
tables; no input is read from outside the benchmark's own directory.

Usage: python3 perfbench/datagen.py OUT_DIR SEED
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "orders": 15000,
        "lineitem": 60000, "documents": 500}
TABLES = list(ROWS)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    """Random word-bag documents over a 30-word vocabulary, 10-100 words
    each, as in the registry's test tables: no duplicate texts, and one
    document in 20, chosen by the seed, ends with the blocklisted token
    ``dup``."""
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] += " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return {
        "doc_id": doc_id,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; return the row count per table."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_o, n_l, n_d = ROWS.values()
    data = {
        "customer": {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_c)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        },
        "orders": {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
            "o_totalprice": _money(rng, 1000, 500000, n_o),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_o) * _US_PER_DAY),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_o)],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_o, n_l),
            "l_partkey": rng.integers(0, 2000, n_l),
            "l_suppkey": rng.integers(0, n_s, n_l),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100,
            "l_tax": rng.integers(0, 9, n_l) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_l) * _US_PER_DAY),
        },
        "documents": _documents(rng, n_d),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in TABLES:
        table = pa.table(data[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    print(generate(sys.argv[1], int(sys.argv[2])))
