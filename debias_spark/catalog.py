"""Testdata catalog: parquet loaders for the driver's tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under an sf dir.

At 100 TB these would be partitioned/bucketed external tables; the loaders
keep the access path declarative (spark.read.parquet) so predicate pushdown,
column pruning and partition pruning all happen at the scan.
"""

from __future__ import annotations

import os

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


# Metadata-only schema cache (r14, guide §6): every spark.read.parquet()
# without an explicit schema re-infers the schema by reading parquet
# footers on the driver — measured ~75-130 ms per table() call at sf0.1
# vs ~13 ms with the schema supplied.  A real deployment reads the schema
# from the metastore (external catalog tables, TESTDATA.md's 100 TB
# posture); this cache is that metastore behavior for the path-based
# fixtures.  Keyed by (path, mtime_ns, size) so a regenerated testdata
# file invalidates its entry, plus the nanosAsLong conf the inferred type
# of a TIMESTAMP(NANOS) column depends on, so a schema inferred under one
# value is never served under the other; non-plain-file paths
# (directories, remote URIs) fall back to normal inference.  The cache
# holds SCHEMAS ONLY — each call still builds a fresh DataFrame over a
# fresh scan, so no plan or data is ever reused across queries or runs.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _cached_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
        if not os.path.isfile(path):
            return None
        key = (
            path,
            st.st_mtime_ns,
            st.st_size,
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"),
        )
    except OSError:
        return None
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return sch


# ANALYZE-TABLE-style statistics cache (r14): planning statistics a real
# deployment reads from the metastore (row counts, column sums) are
# computed once per input-file version and memoized under the same
# (path, mtime_ns, size) identity as the schema cache.  Statistics gate
# PLAN SHAPE only (e.g. the hot-gram window-vs-salted-pack choice); the
# gated spellings are value-identical, so a stale statistic can never
# change a result — only which equally-correct plan runs.
_STAT_CACHE: dict[tuple, object] = {}


def cached_input_stat(path: str, stat_key: str, compute):
    """Return compute() memoized per (input-file version, stat_key);
    uncacheable paths (directories, remote URIs) just call compute()."""
    try:
        st = os.stat(path)
        if not os.path.isfile(path):
            return compute()
        key = (path, st.st_mtime_ns, st.st_size, stat_key)
    except OSError:
        return compute()
    if key not in _STAT_CACHE:
        _STAT_CACHE[key] = compute()
    return _STAT_CACHE[key]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    sch = _cached_schema(spark, path)
    reader = spark.read.schema(sch) if sch is not None else spark.read
    df = reader.parquet(path)
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
