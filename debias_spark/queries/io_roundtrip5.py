"""Round-7 wave 2 (Z52): parquet row-group pruning roundtrip — a
range-partitioned, sorted parquet sink whose tight row-group statistics
let a date-filtered read skip most of the file bytes.

Pairs sink_partitioned_parquet_prune (Z26): Z26 proves DIRECTORY-level
partition pruning (the filter never lists the other partitions); this key
proves the finer grain — within unpartitioned files, the reader skips row
GROUPS whose min/max stats exclude the predicate.  At 100 TB both layers
matter: partitions bound the file listing, row-group stats bound the I/O
within each file, and both are free once the data is written sorted.

Reference parity: none — the reference has no columnar storage; north-star
extension per SURVEY §2.H (r6 verdict item 8c).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.warehouse import scratch_dir


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


def write_typed_partitions(spark: SparkSession, sf_dir: str) -> str:
    """orders written as year=<int>/month=<int> Hive-style directories.
    Exposed for the plan test (asserts PartitionFilters prune the
    listing and the discovered partition columns come back as ints)."""
    out = scratch_dir(spark, sf_dir, "z55_typedpart")
    o = table(spark, sf_dir, "orders")
    (
        o.withColumn("year", F.year("o_orderdate"))
        .withColumn("month", F.month("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("year", "month")
        .parquet(out)
    )
    return out


@register(
    "source_partition_typed_discovery",
    "Z55",
    oracle=f"""
    SELECT CAST(month(o_orderdate) AS INT) AS month,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents
    FROM orders
    WHERE year(o_orderdate) = 1997
    GROUP BY 1 ORDER BY 1
    """,
)
def source_partition_typed_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed multi-level partition discovery: orders land as
    year=1997/month=3 directory pairs, and the read side infers BOTH
    partition columns back as INTEGERS from the path segments alone (no
    schema hint).  A year filter then prunes at the LISTING level —
    PartitionFilters on the scan, 12 of ~82 directories ever opened —
    the coarse layer above Z52's row-group stats (and Z26's single
    string partition; this key pins multi-level + type inference).
    The monthly rollup hash-matches the same aggregate over the source
    table, proving the partition columns carry their exact values
    through the directory encoding.

    Scale shape: partitioned write = one shuffle by (year, month); the
    filtered read lists 12 directories regardless of table size."""
    out = write_typed_partitions(spark, sf_dir)
    rb = spark.read.parquet(out).filter(F.col("year") == 1997)
    return (
        rb.groupBy(F.col("month").cast("int").alias("month"))
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


@register(
    "source_csv_schema_infer",
    "Z57",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents,
           strftime(min(o_orderdate), '%Y-%m-%d') AS first_day
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def source_csv_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV schema INFERENCE roundtrip: orders serialized to headered CSV
    (dates as ISO strings, prices as decimals), read back with
    inferSchema=true and NO schema hint — the reader must rediscover
    bigint keys, double prices and DATE-typed order days (an explicit
    dateFormat pins the inference; header gives the names).  The grouped
    aggregate hash-matches the source table, so every inferred type
    carried its exact values.  Complements Z26/Z28 (explicit-schema CSV)
    and Z45 (multiline quoting): this key pins the INFERENCE surface an
    ad-hoc ingest actually uses.

    Scale: inference samples the file (a second scan) — the docstring
    contract at 100 TB is 'infer once, then pin the schema', which is
    exactly what the explicit-schema twins demonstrate."""
    o = table(spark, sf_dir, "orders")
    out = scratch_dir(spark, sf_dir, "z57_csv")
    (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .write.mode("overwrite")
        .option("header", "true")
        .csv(out)
    )
    rb = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("dateFormat", "yyyy-MM-dd")
        .csv(out)
    )
    return (
        rb.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_day"),
        )
        .orderBy("o_orderpriority")
    )
