"""Seeded parquet tables shaped like the repository's TPC-H-ish test data.

Column names, types and value domains follow the tables the query
specs read (``sources.tables.TABLE_NAMES``): independent uniform
columns, two-decimal prices, microsecond naive timestamps, one row
group per file.  ``documents`` plants near-duplicate clusters of a
fixed size pattern among unrelated texts, so the dedup specs find
edges; ``events`` spreads events uniformly over 30 days, about 67 per
user.
"""

from __future__ import annotations

import itertools
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
VOCAB = (
    "the a fast slow small big key order sort table scan merge part window "
    "hash join agg row column data value line customer query filter group "
    "batch stream spark vector dup"
).split()

_EPOCH_US = int(datetime(1970, 1, 1).timestamp() * 1e6)


def _us(ts: str) -> int:
    return int(datetime.fromisoformat(ts).timestamp() * 1e6) - _EPOCH_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    day = 86_400_000_000
    return rng.integers(_us(lo) // day, _us(hi) // day + 1, n) * day


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


#: sizes of the near-duplicate groups, repeated: singletons and
#: clusters of 2 to 5 copies
GROUP_SIZES = (1, 1, 1, 1, 1, 1, 2, 3, 4, 5)


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Copies in a cluster differ from their base text by one word, so
    that every pair of them shares at least half its word trigrams;
    the clusters are cliques of the similarity graph, whatever the
    seed."""
    texts: list[str] = []
    langs: list[str] = []
    for size in itertools.cycle(GROUP_SIZES):
        if len(texts) >= n:
            break
        words = list(rng.choice(VOCAB, rng.integers(24, 90)))
        lang = str(rng.choice(LANGS))
        for _ in range(size):
            edited = list(words)
            if size > 1:
                edited[int(rng.integers(len(edited)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(edited))
            langs.append(lang)
    texts, langs = texts[:n], langs[:n]
    order = rng.permutation(n)  # scatter cluster members over doc ids
    texts = [texts[i] for i in order]
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([langs[i] for i in order]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def generate(seed: int, out_dir: str, orders: int, events: int, documents: int) -> dict[str, int]:
    """Write the tables under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = max(orders // 10, 20), max(orders // 150, 10)
    n_line = orders * 4
    ev_users = max(events // 67, 1)
    ev_ts = rng.integers(_us("2024-01-01"), _us("2024-01-31"), events)
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(orders, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], orders)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, orders)),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", orders)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, orders)),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, orders, n_line)),
            "l_partkey": pa.array(rng.integers(0, max(orders // 8, 10), n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_line)),
        },
        "events": {
            "event_id": pa.array(np.arange(events, dtype="int64")),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, ev_users, events)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, events)),
            "value": pa.array(_money(rng, 0.0, 500.0, events)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]),
        },
        "documents": _documents(rng, documents),
    }
    return {name: _write(out_dir, name, cols) for name, cols in tables.items()}
