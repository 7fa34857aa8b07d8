"""Round-4 source/sink wave (Z25-Z26): columnar-format roundtrips that
exercise the WRITE path as a first-class, driver-hash-checked operator.

Every other key reads the driver's parquet; these two write a real sink
(ORC, partitioned parquet) inside the repo's warehouse dir, read it back
through a fresh scan, and aggregate — the oracle computes the identical
aggregate straight from the source parquet, so a hash match proves the
sink+source path is lossless and the partition layout prunes correctly.

Reference parity: the reference's only sink is a JSON file
(call-debias.py:141,154 — covered by debias_spark/sources/json_io.py);
columnar sinks are north-star extensions per SURVEY §2.A4 rationale.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.warehouse import prune_stale_siblings, scratch_dir, scratch_root



@register(
    "sink_orc_roundtrip",
    "Z25",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source roundtrip: project orders to typed columns, write
    ORC (snappy), re-read through a fresh scan, and aggregate fulfilled
    orders per priority.  The oracle aggregates the source parquet
    directly — a hash match proves the ORC writer/reader preserves every
    value and type exactly.

    Scale shape: the write is one task per input partition (the
    parallel-writer path a real cluster uses — no coalesce(1)
    single-writer bottleneck); the read-back filter reaches the ORC scan
    as a pushed predicate (ORC carries min/max stride stats like
    parquet), and the aggregate is the standard partial+final pair.
    Write mode is overwrite, so the key is idempotent per (sf, format)
    sink dir."""
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    out = scratch_dir(spark, sf_dir, "orc_orders")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
        )
    )


@register(
    "sink_partitioned_parquet_prune",
    "Z26",
    oracle="""
    SELECT l_linestatus,
           count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def sink_partitioned_parquet_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + partition-pruned read-back: write
    lineitem partitioned BY l_returnflag (hive-style directory layout),
    read it back filtered to the returned-items partition, and aggregate
    per line status.  The oracle runs the same filtered aggregate on the
    source table; the hash match proves the partitioned layout loses no
    rows and the partition column round-trips from directory names.

    Scale shape: this is THE layout decision that makes a 100 TB table
    cheap to query — the read-back filter is a PartitionFilter (plan
    shows it), so Spark lists and scans ONE of the three flag
    directories and never opens the rest; partition pruning happens at
    planning, before any IO.  tests/test_io_roundtrip.py pins the
    pruned-scan plan shape.  The partition column is low-cardinality (3
    values) by design — partitioning by a high-cardinality key would
    produce a small-files explosion; that discipline is the point of
    choosing l_returnflag here."""
    src = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    out = scratch_dir(spark, sf_dir, "part_lineitem")
    src.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("qty").alias("total_qty"),
        )
    )


@register(
    "sink_csv_roundtrip",
    "Z28",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents,
           CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS first_day,
           CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS last_day
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source roundtrip with TYPED re-parse: write orders as
    headered CSV (bigint keys, string status, integer cents, ISO dates),
    read it back under an EXPLICIT schema — the only scale-sane way to
    read CSV; inferSchema is a full extra pass over the data — and
    aggregate per status.  The oracle aggregates the source parquet; a
    hash match proves values survive the text round-trip including the
    date column's format-parse cycle.

    Scale shape: parallel per-partition writers (no coalesce(1)); the
    read-back is a splittable uncompressed-CSV scan (each executor takes
    line-aligned splits), and min/max dates re-serialize to ISO strings
    so the emitted frame carries no raw temporal types (driver-hash
    discipline)."""
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        cents(F.col("o_totalprice")).alias("cents"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    out = scratch_dir(spark, sf_dir, "csv_orders")
    src.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema("o_orderkey long, o_orderstatus string, cents long, odate date")
        .option("header", True)
        .csv(out)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
            F.min("odate").cast("string").alias("first_day"),
            F.max("odate").cast("string").alias("last_day"),
        )
    )


@register(
    "sink_bucketed_join_noshuffle",
    "Z29",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def sink_bucketed_join_noshuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: save orders and lineitem bucketed
    + sorted BY the join key into the warehouse, then join the two
    bucketed tables — the layout investment that turns every future
    fact-fact join on that key into a ZERO-EXCHANGE sort-merge join
    (tests/test_round4_wave2.py pins the no-Exchange plan).  At 100 TB
    this is the difference between shuffling the fact table per query
    and shuffling it once at ingest; the bucket count (8 here) would be
    sized so each bucket file stays in the hundreds of MB.

    The aggregate after the join DOES shuffle (by priority) — bucketing
    removes the join exchange, not the rollup's; the oracle proves the
    bucketed layout returns exactly the rows a plain join returns."""
    db = "io_bucket"
    # per-session table names (the warehouse.scratch_dir rule applied to
    # catalog tables): bench and a correctness sweep may run this key at
    # the same sf simultaneously
    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf").replace(".", "_") + "_" + app
    loc = os.path.join(scratch_root(), "bucket_db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    names = {}
    for name, key, cols in (
        ("orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
        ("lineitem", "l_orderkey", ["l_orderkey", "l_quantity"]),
    ):
        tbl = f"{db}.{name}_{tag}"
        # the session catalog is ephemeral (in-memory metastore) but the
        # managed-table LOCATION persists on disk — a fresh session's
        # overwrite cannot see the orphaned dir, so drop both explicitly,
        # and prune prior sessions' orphaned table dirs
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(loc, f"{name}_{tag}"), ignore_errors=True)
        prune_stale_siblings(loc, f"{name}_", f"{name}_{tag}")
        (
            table(spark, sf_dir, name)
            .select(*cols)
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        names[name] = tbl
    o = spark.table(names["orders"])
    li = spark.table(names["lineitem"])
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
    )


@register(
    "sink_json_roundtrip",
    "Z35",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source roundtrip: project documents to typed
    columns, write newline-delimited JSON (the reference's only sink
    format — call-debias.py:141,154 — here as a DISTRIBUTED multi-part
    sink), re-read through a fresh scan WITH AN EXPLICIT SCHEMA, and
    aggregate.  The oracle aggregates the source parquet directly, so a
    hash match proves the JSON writer/reader preserves every value and
    type.

    The explicit read schema matters twice at scale: it skips the
    whole-dataset inference pass a schemaless json read performs, and it
    pins types (inference widens int-looking strings and reorders
    columns).  Text is deliberately EXCLUDED from the sink projection:
    JSON re-escaping round-trips strings correctly but costs 4x parquet;
    a production pipeline keeps payloads columnar and ships JSON only
    for interchange rows like these rollup inputs."""
    src = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = scratch_dir(spark, sf_dir, "json_docs")
    src.write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id bigint, lang string, n_chars bigint").json(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )


@register(
    "join_dpp_partitioned",
    "Z36",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT lang FROM documents
        WHERE substr(md5(lang), 1, 1) < '8'
    )
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN dim USING (lang)
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning, executed and value-proven: the corpus
    is laid out partitioned by lang (the 100 TB layout), the dim side's
    filter is OPAQUE to static analysis (md5 of the value), and the join
    still only READS the surviving partitions — Spark plans a
    dynamicpruning subquery that executes the dim first and turns its
    result into a partition filter on the fact scan.  This is the
    mechanism that makes fact-to-dim star joins feasible on partitioned
    100 TB tables: I/O scales with the dim selectivity, not the fact
    size (tests/test_plan_invariants.py asserts the dynamicpruning
    expression is really in the scan).

    The oracle computes the same join on the unpartitioned source —
    a hash match proves pruning dropped no rows."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = scratch_dir(spark, sf_dir, "dpp_docs")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        fact.select("lang")
        .distinct()
        .filter(F.substring(F.md5("lang"), 1, 1) < "8")
    )
    return (
        fact.join(dim, "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )
