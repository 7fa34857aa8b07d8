"""Sink keys: ORC, CSV, JSON and XML roundtrips, partitioned and
bucketed Parquet, row-group pruning, compression codecs, dynamic
partition overwrite, managed-table inserts, record-capped files and the
Python data source writer.  Each writes a real sink under the session's
warehouse dir, reads it back through a fresh scan, and aggregates; the
oracle computes the same aggregate from the source parquet, so a hash
match proves the sink+source path is lossless.

The reference's only sink is a JSON file (call-debias.py:141,154 —
covered by debias_spark/sources/json_io.py); columnar sinks are
north-star extensions per SURVEY §2.A4.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.session import pinned_confs
from debias_spark.warehouse import (
    fresh_scratch_dirs,
    prune_stale_siblings,
    scratch_dir,
    scratch_root,
)


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
    planning, before any IO.  tests/test_round4_wave2.py pins the
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
    "sink_xml_roundtrip",
    "Z37",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents,
           min(strftime(o_orderdate, '%Y-%m-%d')) AS first_day
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/source roundtrip over Spark 4's NATIVE xml data source
    (one <row> element per record, parallel one-file-per-partition write):
    orders project to typed columns, serialize to XML, re-read with an
    EXPLICIT schema (inference on a text format is a correctness trap —
    a partition of all-null strings would re-type the column), and
    aggregate per priority.  The oracle aggregates the source parquet
    directly, so a hash match proves the XML writer/parser round-trips
    every value — including the '&'/'<' entity escaping in priority
    strings and ISO date formatting — losslessly.

    Only integers and strings cross the XML boundary (cents, not a
    double price; pre-formatted date string): text formats re-parse
    floats through decimal repr, which is exactly the engine-divergence
    class the repo's integer-emission rule exists to avoid.

    Scale shape: write = one task per input partition (no coalesce(1));
    read-back = splittable per-file parallel parse; the aggregate is an
    ordinary partial+final hash aggregate.  XML is the interchange
    surface here, not the analytics store — the key proves the bridge is
    lossless, the docstring's advice remains 'land it in parquet'."""
    # fan_out (r14): the write is one task per INPUT partition, and the
    # single-row-group source scanned as ONE — the whole XML serialize
    # ran serial and the read-back parsed one file on one core.  Spread
    # the base rows first: 32 write tasks, 32 files, splittable parallel
    # re-parse; the aggregate result is file-layout independent.
    from debias_spark.operators.skew import fan_out

    src = fan_out(table(spark, sf_dir, "orders")).select(
        "o_orderkey",
        "o_orderpriority",
        cents(F.col("o_totalprice")).alias("cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
    )
    out = scratch_dir(spark, sf_dir, "xml_orders")
    (
        src.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(out)
    )
    back = spark.read.format("xml").option("rowTag", "order").schema(
        StructType(
            [
                StructField("o_orderkey", LongType()),
                StructField("o_orderpriority", StringType()),
                StructField("cents", LongType()),
                StructField("order_day", StringType()),
            ]
        )
    ).load(out)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
            F.min("order_day").alias("first_day"),
        )
        .orderBy("o_orderpriority")
    )


# The reference writes only bare files (call-debias.py); the managed-table
# lifecycle (saveAsTable + INSERT INTO + a catalog read-back) is the
# session-catalog surface a warehouse deployment drives instead of raw
# paths.
@register(
    "sink_managed_table_insert",
    "Z40",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def sink_managed_table_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-table lifecycle: CREATE via saveAsTable (fulfilled orders),
    append via SQL INSERT INTO ... SELECT (open orders), then aggregate a
    catalog read-back (spark.table, not a path).  This is the
    session-catalog surface — name resolution, schema enforcement on
    INSERT, warehouse-managed storage — that separates a governed
    warehouse from ad-hoc path reads/writes.  The oracle aggregates the
    source directly: a hash match proves create+insert+resolve round-
    trips every row exactly once.

    Table names are applicationId-suffixed (two concurrent sessions
    share ./spark-warehouse on disk, so a fixed name would race
    overwrite-vs-read exactly like the path sinks — the
    warehouse.scratch_dir rule) and prior sessions' table dirs are
    best-effort pruned.

    Plan shape: two parallel writes (one task per input partition), then
    a catalog-resolved scan + one aggregate.  The table outlives the
    call (the returned plan reads it lazily); the prune pass retires
    prior sessions' dirs, same as every path sink."""
    tag = re.sub(
        r"[^a-z0-9]", "_", (os.path.basename(sf_dir.rstrip("/")) or "sf").lower()
    )
    app = re.sub(r"[^a-z0-9]", "_", spark.sparkContext.applicationId.lower())
    tname = f"z40_orders_{tag}_{app}"
    warehouse_root = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    prune_stale_siblings(warehouse_root, f"z40_orders_{tag}_", tname)

    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    spark.sql(f"DROP TABLE IF EXISTS {tname}")
    src.filter(F.col("o_orderstatus") == "F").write.saveAsTable(tname)
    spark.sql(
        f"INSERT INTO {tname} SELECT * FROM {{open_orders}}",
        open_orders=src.filter(F.col("o_orderstatus") == "O"),
    )
    return (
        spark.table(tname)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("rev_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sink_python_datasource",
    "Z46",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(month(o_orderdate) AS INT) AS mth,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITE path (Spark 4): the
    (priority, month) order report written through the jsonl_sink
    source — write(iterator) runs per partition on executors, staging
    to .tmp and publishing task-atomically; commit(messages) runs on
    the driver and manifests every task file — then read back with the
    ordinary JSON reader and returned.  The oracle computes the same
    report straight from orders: a hash match proves the custom sink
    lost/duplicated nothing across its two-phase commit.  Completes the
    Python DataSource surface: Z30 batch read, Z42 streaming read, Z46
    write.

    Scale shape: write parallelism is the frame's partitioning (one
    task file per partition, repartition(4) here keeps multi-task
    commit on the test box); the driver touches only commit MESSAGES
    (file name + row count), never rows — the committer contract that
    keeps job commit O(tasks) at 100 TB."""
    from debias_spark.sources import jsonl_sink

    jsonl_sink.register(spark)
    agg = (
        table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.expr("CAST(month(o_orderdate) AS INT)").alias("mth"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
        )
    )
    path = scratch_dir(spark, sf_dir, "z46_pyds")
    # mode("overwrite") reaches the source's writer() hook, which clears
    # the target driver-side before any task runs (no manual rmtree)
    agg.repartition(4).write.format("jsonl_sink").mode("overwrite").save(path)
    return (
        spark.read.schema(
            "o_orderpriority string, mth int, n_orders long, rev_cents long"
        )
        .json(path, pathGlobFilter="part-*.jsonl")
        .orderBy("o_orderpriority", "mth")
    )


# Pairs sink_partitioned_parquet_prune (Z26): Z26 proves DIRECTORY-level
# partition pruning (the filter never lists the other partitions); this key
# proves the finer grain — within unpartitioned files, the reader skips row
# GROUPS whose min/max stats exclude the predicate.  At 100 TB both layers
# matter: partitions bound the file listing, row-group stats bound the I/O
# within each file, and both are free once the data is written sorted.
def write_rowgroup_sink(spark: SparkSession, sf_dir: str) -> str:
    """Write orders range-partitioned AND sorted by o_orderdate with
    small row groups (~256 KB), so every row group's min/max date stats
    cover a narrow, non-overlapping slice.  Exposed for the footer
    diagnostic test (tests/test_round7_wave.py reads the parquet footers
    via pyarrow and asserts the 1997 predicate overlaps only a small
    fraction of row groups)."""
    out = scratch_dir(spark, sf_dir, "z52_rowgroup")
    o = table(spark, sf_dir, "orders")
    (
        o.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .option("parquet.block.size", 256 * 1024)
        .parquet(out)
    )
    return out


@register(
    "sink_rowgroup_stats_prune",
    "Z52",
    oracle=f"""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def sink_rowgroup_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roundtrip through the sorted sink with a pushed one-year date
    filter: the predicate reaches the parquet reader (PushedFilters on
    the scan — asserted in tests/test_plan_invariants.py style in the
    round-7 wave test), and because the data is range-sorted the reader's
    row-group stats skip ~6/7 of the groups before decoding a page.  The
    monthly aggregate hash-matches the same filter over the SOURCE table,
    proving the sort+write+filtered-read path loses nothing.

    Scale shape: the write is one range shuffle (the same shuffle a
    sorted table needs anyway); the read scans only stat-overlapping row
    groups — I/O proportional to the selected date range, not the table."""
    out = write_rowgroup_sink(spark, sf_dir)
    rb = spark.read.parquet(out).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        rb.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
        )
        .orderBy("month")
    )


_CODECS = ("snappy", "zstd", "gzip", "none")


@register(
    "sink_compression_codecs",
    "Z56",
    oracle=f"""
    SELECT c.codec,
           (SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS n_orders,
           (SELECT CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) FROM orders
            WHERE o_orderstatus = 'F') AS rev_cents
    FROM (SELECT unnest(['gzip', 'none', 'snappy', 'zstd']) AS codec) c
    ORDER BY c.codec
    """,
)
def sink_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec matrix: the same filtered projection
    written under snappy, zstd, gzip and uncompressed, each read back
    and aggregated — the four results must be IDENTICAL (codec choice
    may never change data), which the oracle pins by emitting the same
    source-table aggregate once per codec.  The size/speed trade-off
    itself is asserted in tests (compressed files strictly smaller than
    none; all four readable), not hashed — sizes are encoder-version
    facts, not data facts.

    Scale: codec is a per-column-chunk write option; at 100 TB zstd
    typically buys ~30% over snappy for CPU — the point of pinning the
    surface is that switching is one option, zero plan changes."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    proj = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    frames = []
    for codec in _CODECS:
        out = scratch_dir(spark, sf_dir, f"z56_{codec}")
        proj.write.mode("overwrite").option("compression", codec).parquet(out)
        rb = spark.read.parquet(out)
        frames.append(
            rb.agg(
                F.count("*").alias("n_orders"),
                F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
            ).select(F.lit(codec).alias("codec"), "n_orders", "rev_cents")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("codec")


# The reference rewrites whole output files per run (call-debias.py:141);
# dynamic partition overwrite is the lake-native refinement that rewrites
# ONLY the partitions a batch touches.
@register(
    "sink_dynamic_partition_overwrite",
    "Z61",
    oracle=f"""
    -- expected merged state: 1997 rows arrive DOUBLED (the second write
    -- unions the year's orders with themselves), every other year keeps
    -- its original single copy — exactly iff overwrite touched ONLY the
    -- 1997 partition
    WITH doubled AS (
        SELECT year(o_orderdate) AS year, o_totalprice FROM orders
        UNION ALL
        SELECT year(o_orderdate), o_totalprice FROM orders
        WHERE year(o_orderdate) = 1997
    )
    SELECT CAST(year AS INT) AS year,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents
    FROM doubled GROUP BY year ORDER BY year
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite
    (spark.sql.sources.partitionOverwriteMode=dynamic): the full table
    lands partitioned by year, then a second overwrite write containing
    ONLY 1997 data (deliberately doubled) replaces JUST that partition —
    under the default STATIC mode the same statement would wipe every
    other year.  The merged-state rollup hash-matches the oracle's
    replay, which is only possible if exactly one partition was
    rewritten and six-plus others survived untouched.  At 100 TB this is
    THE idempotent daily-reload primitive: re-running a day's batch
    replaces that day, never the table.  The result is materialized
    inside the conf scope."""
    o = table(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    (out,) = fresh_scratch_dirs(spark, sf_dir, "z61_dynpart")
    o.write.mode("overwrite").partitionBy("year").parquet(out)

    with pinned_confs(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        y97 = o.filter(F.col("year") == 1997)
        y97.unionByName(y97).write.mode("overwrite").partitionBy(
            "year"
        ).parquet(out)
        rb = spark.read.parquet(out)
        result = (
            rb.groupBy(F.col("year").cast("int").alias("year"))
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
            )
            .orderBy("year")
            .localCheckpoint(eager=True)
        )
    return result


_MAX_RECORDS = 2000


@register(
    "sink_max_records_per_file",
    "Z64",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def sink_max_records_per_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size control on write (maxRecordsPerFile): a single output
    partition is split into ~N-row files — the knob that bounds file
    sizes WITHOUT an extra repartition shuffle, complementing the
    REBALANCE hint (X152) which fixes sizes by moving rows.  The
    readback rollup hash-matches the source (file splitting may never
    lose or duplicate a row); the file-count arithmetic
    (ceil(rows/limit) per partition) is asserted in the wave test.

    Scale: at 100 TB this is the last-mile guard against the
    1-partition-1-giant-file failure mode of coalesced writes (and the
    knob is the guard, never coalesce(1) itself in production).  The
    written projection is pruned to the two rollup columns and the cap
    sized so file COUNT (ceil(rows/cap), ~75 at sf0.1) stays well below
    the task-launch-dominated regime; the deterministic ceil-split
    arithmetic itself is pinned by the wave test on a tiny frame with a
    3-row cap, decoupling the proof from the benched cost."""
    o = table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    out = scratch_dir(spark, sf_dir, "z64_maxrec")
    (
        o.coalesce(1)  # deliberately ONE partition: the option must split it
        .write.mode("overwrite")
        .option("maxRecordsPerFile", _MAX_RECORDS)
        .parquet(out)
    )
    rb = spark.read.parquet(out)
    return (
        rb.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
        )
        .orderBy("o_orderstatus")
    )
