"""Testdata catalog: parquet loaders for the driver's tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf dir.

At 100 TB these would be partitioned/bucketed external tables; the loaders
keep the access path declarative (spark.read.parquet) so predicate pushdown,
column pruning and partition pruning all happen at the scan.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

from debias_spark.session import ensure_runtime_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Input-file-version cache (r14): metadata and planning statistics a
# real deployment reads from the metastore are computed once per input
# file version and memoized, keyed by (path, mtime_ns, size) so a
# regenerated testdata file invalidates its entries; non-plain-file
# paths (directories, remote URIs) are never cached.  Two kinds of entry:
# * schemas (``_cached_schema``, guide §6): every spark.read.parquet()
#   without an explicit schema re-infers it from parquet footers on the
#   driver — measured ~75-130 ms per table() call at sf0.1 vs ~13 ms
#   with the schema supplied.  Only the schema is held; each call still
#   builds a fresh DataFrame over a fresh scan, so no plan or data is
#   ever reused across queries or runs.
# * ANALYZE-TABLE-style statistics (row counts, column sums, static
#   per-corpus artifacts): these gate PLAN SHAPE only (e.g. the hot-gram
#   window-vs-salted-pack choice) or are value-identical by contract, so
#   a stale entry can never change a result.
_STAT_CACHE: dict[tuple, object] = {}


def cached_input_stat(path: str, stat_key, compute):
    """Return compute() memoized per (input-file version, stat_key) —
    one ``os.stat`` per call; uncacheable paths (missing, directories,
    remote URIs) just call compute()."""
    try:
        st = os.stat(path)
    except OSError:
        return compute()
    if not stat.S_ISREG(st.st_mode):
        return compute()
    key = (path, st.st_mtime_ns, st.st_size, stat_key)
    if key not in _STAT_CACHE:
        _STAT_CACHE[key] = compute()
    return _STAT_CACHE[key]


def _cached_schema(spark: SparkSession, path: str):
    """The inferred schema of the parquet file at ``path``, memoized per
    file version and per value of the nanosAsLong conf (the inferred type
    of a TIMESTAMP(NANOS) column depends on it, so a schema inferred
    under one value is never served under the other)."""
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    return cached_input_stat(
        path, ("schema", nanos), lambda: spark.read.parquet(path).schema
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_cached_schema(spark, path)).parquet(path)
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts arrives either as parquet TIMESTAMP(NANOS, ntz) — surfaced
    as an epoch-nanos long via nanosAsLong — or as plain TIMESTAMP(MICROS)
    in newer testdata generations.  Normalize both to timestamp_ntz at µs
    precision (integer division keeps the nanos arithmetic exact; timestamps
    everywhere else in the engine are NTZ with UTC session semantics)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql access."""
    for t in TABLES:
        table(spark, sf_dir, t).createOrReplaceTempView(t)
