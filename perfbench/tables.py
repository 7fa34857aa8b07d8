"""Seeded generator for the ten parquet tables the registry keys read.

The tables have the names, column names and column types of the
TPC-H-like fixture set that ``debias_spark.catalog.TABLES`` lists, and
the same value domains: uniform keys, TPC-H-style categorical columns,
a 30-word document vocabulary with 5 % near-duplicate documents
(``<earlier text> dup``), unit-norm 64-d embeddings and a 30-day event
stream sorted by time.  Row counts scale with ``sf`` (sf 0.1 gives
600 000 lineitem rows).  The same ``(seed, sf)`` always writes the same
values.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ["en", "de", "es", "fr", "zh"]
DOC_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# rows per unit of sf (TPC-H proportions of the fixture set)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    n_dup = n // 20
    dup_at = set(rng.choice(np.arange(n // 10, n), n_dup, replace=False).tolist())
    for i in range(n):
        if i in dup_at:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(DOC_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(DOC_WORDS[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, DOC_LANGS, n, DOC_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _events(rng, n: int, n_users: int) -> pa.Table:
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(int(round(r * sf)), 10) for t, r in ROWS_PER_SF.items()}
    i64 = lambda k: pa.array(np.arange(n[k], dtype=np.int64))  # noqa: E731
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    nl = n["lineitem"]
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64("customer"),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64("supplier"),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64("part"),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (np_, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)]),
                "p_type": _pick(rng, PART_TYPES, np_),
                "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64("orders"),
                "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
                "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
                "o_orderdate": pa.array(_days(rng, no, "1995-01-01", "2001-08-01")),
                "o_orderpriority": _pick(rng, PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
                "l_linestatus": _pick(rng, ["F", "O"], nl),
                "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", "2001-11-04")),
            }
        ),
        "events": _events(rng, n["events"], max(nc // 10, 10)),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row
    counts by table name."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in build_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
