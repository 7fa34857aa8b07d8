"""Round-5 source/sink wave (Z32-Z33): schema-evolution reads
(mergeSchema over parquet parts written at different schema versions) and
malformed-input tolerance (PERMISSIVE CSV with corrupt-record capture) —
the two source-robustness surfaces every production lake hits.

Reference parity: the reference aborts on any malformed input line
(call-debias.py reads whole files, no error channel); robust sources are
north-star extensions per SURVEY §2.A rationale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.warehouse import fresh_scratch_dirs, scratch_dir


@register(
    "source_parquet_schema_merge",
    "Z32",
    oracle=f"""
    SELECT count(*) AS n_rows,
           count(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS n_with_cents,
           count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_priority,
           CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN {cents_sql("o_totalprice")} END) AS BIGINT)
               AS cents_sum
    FROM orders
    """,
)
def source_parquet_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet parts written at DIFFERENT schema
    versions (v1: key + cents; v2: key + priority) land in one dataset
    dir; a mergeSchema read unions the schemas, null-filling the columns
    each part lacks.  The aggregate counts rows per schema lineage and
    sums the v1 measure — the oracle restates it from the source table,
    so the hash proves merge, null-fill, and type reconciliation.

    Scale shape: mergeSchema costs one footer read per FILE at planning
    (no data scan); production datasets with many files pin the merged
    schema in a table catalog instead, but the read path exercised here —
    scan files of differing physical schemas into one logical schema — is
    exactly how a 100 TB lake absorbs schema drift without rewriting
    history."""
    orders = table(spark, sf_dir, "orders")
    (out,) = fresh_scratch_dirs(spark, sf_dir, "schema_merge")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        cents(F.col("o_totalprice")).alias("cents"),
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority"
    )
    v1.write.parquet(os.path.join(out, "part=v1"))
    v2.write.parquet(os.path.join(out, "part=v2"))
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.count("cents").alias("n_with_cents"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.sum("cents").alias("cents_sum"),
    )


@register(
    "source_csv_permissive_badrecords",
    "Z33",
    oracle=f"""
    SELECT count(*) AS n_rows,
           count(CASE WHEN o_orderkey % 7 = 0 THEN 1 END) AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 7 <> 0 THEN {cents_sql("o_totalprice")} END) AS BIGINT)
               AS cents_good
    FROM orders
    """,
)
def source_csv_permissive_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance: a CSV is synthesized from orders with
    every 7th key's numeric field deliberately corrupted, then read back
    PERMISSIVE with a corrupt-record column — bad lines become capture
    rows instead of job failures (FAILFAST would abort; DROPMALFORMED
    would silently lose them — both wrong for a 100 TB ingest where a
    0.001% corruption rate is guaranteed and must be quarantined, not
    fatal).  The aggregate proves the good/corrupt split and that good
    rows parse losslessly.

    Scale shape: one pass to write, one schema-bound scan to read (no
    inferSchema second pass); the corrupt channel is a per-row projection
    with zero shuffle."""
    orders = table(spark, sf_dir, "orders")
    (out,) = fresh_scratch_dirs(spark, sf_dir, "csv_permissive")
    lines = orders.select(
        F.concat_ws(
            ",",
            F.col("o_orderkey"),
            F.col("o_orderpriority"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("notanumber")).otherwise(
                cents(F.col("o_totalprice")).cast("string")
            ),
        ).alias("value")
    )
    lines.write.text(out)
    schema = StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("priority", StringType()),
            StructField("cents", LongType()),
            StructField("_bad", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count("_bad").alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("cents"))).alias("cents_good"),
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
