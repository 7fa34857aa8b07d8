"""Round-7 wave 11 (Z61): dynamic partition overwrite.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
rewrites whole output files per run (call-debias.py:141); dynamic
partition overwrite is the lake-native refinement that rewrites ONLY
the partitions a batch touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.session import pinned_confs
from debias_spark.warehouse import fresh_scratch_dirs


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
