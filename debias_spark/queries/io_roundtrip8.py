"""Round-7 wave 16 (Z63-Z64): multiLine JSON-array ingestion and
maxRecordsPerFile write sizing.

Reference parity: the reference writes ONE JSON document per input file
(call-debias.py:154) — exactly the multiLine array/object shape Z63
reads back; Z64 is the small-files control its naive writer lacks.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import register
from debias_spark.session import pinned_confs
from debias_spark.warehouse import fresh_scratch_dirs, scratch_dir

_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


@register(
    "source_json_multiline_array",
    "Z63",
    oracle="""
    SELECT o_orderpriority AS prio,
           count(*) AS n,
           CAST(sum(o_custkey) AS BIGINT) AS cust_sum
    FROM orders WHERE o_orderstatus = 'O' AND o_orderkey < 1200
    GROUP BY 1 ORDER BY 1
    """,
)
def source_json_multiline_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiLine JSON ingestion: each file is ONE pretty-printed JSON
    ARRAY spanning many lines — the shape REST exports and the
    reference's per-file response documents (call-debias.py:154)
    actually have, which the default line-delimited reader rejects as
    corrupt.  With multiLine=true the reader parses whole files (one
    file per task — the documented constraint: no intra-file split, so
    file-size hygiene matters at scale), explodes the array into rows,
    and the typed rollup hash-matches the source.

    Scale shape: per-FILE parallelism only under multiLine (rule: the
    jsonl twin Z38/A3 is the splittable high-throughput form; multiLine
    exists for payload fidelity at ingestion edges).  The fixture
    collect is bounded O(1) in SF by a fixed orderkey cap (< 1200, a
    few hundred rows at ANY scale factor) so the benched cost measures
    multiLine ingestion, not driver-side fixture generation."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .filter(F.col("o_orderkey") < 1200)
    )
    (out,) = fresh_scratch_dirs(spark, sf_dir, "z63_mljson")
    os.makedirs(out, exist_ok=True)
    # 8 pretty-printed array files, bucketed by custkey (driver-side
    # test scaffolding; bounded rows per bucket at these SFs)
    parts = (
        o.select("o_orderkey", "o_custkey", "o_orderpriority")
        .withColumn("bucket", F.col("o_custkey") % 8)
        .collect()
    )
    buckets: dict[int, list] = {}
    for r in parts:
        buckets.setdefault(int(r.bucket), []).append(
            {
                "o_orderkey": r.o_orderkey,
                "o_custkey": r.o_custkey,
                "o_orderpriority": r.o_orderpriority,
            }
        )
    for b, rows in buckets.items():
        rows.sort(key=lambda d: d["o_orderkey"])
        with open(os.path.join(out, f"batch-{b}.json"), "w") as fh:
            json.dump(rows, fh, indent=2, sort_keys=True)
    rb = spark.read.option("multiLine", "true").json(out)
    return (
        rb.groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_custkey").cast("long").alias("cust_sum"),
        )
        .orderBy("prio")
    )


_MAX_RECORDS = 2000


@register(
    "sink_max_records_per_file",
    "Z64",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum({_CENTS}) AS BIGINT) AS rev_cents
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
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents"),
        )
        .orderBy("o_orderstatus")
    )


_SPLIT_BYTES = 64 * 1024


@register(
    "source_max_partition_bytes_scan",
    "Z67",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum({_CENTS}) AS BIGINT) AS rev_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def source_max_partition_bytes_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-split sizing on read (spark.sql.files.maxPartitionBytes) —
    the READ-side twin of Z64's maxRecordsPerFile: one parquet FILE is
    scanned as many input partitions (effective split = min(
    maxPartitionBytes, max(openCostInBytes, bytes/defaultParallelism)),
    ceil(bytes/split) tasks — arithmetic pinned in the wave test), and
    the rollup hash-matches the source, proving byte-range splitting
    never loses or duplicates a row across row-group boundaries.

    At 100 TB this is THE scan-parallelism lever the brief calls out:
    partitions sized so each task's input fits executor memory — too
    big spills, too small drowns in task launch; the Z58 advisor's
    arithmetic picks the value, this key proves the knob."""
    o = table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    out = scratch_dir(spark, sf_dir, "z67_mpb")
    o.coalesce(1).write.mode("overwrite").parquet(out)
    # openCost is raised WITH the split size: the effective split is
    # min(mpb, max(openCost, bytes/parallelism)), so leaving openCost at
    # default would let the parallelism term shrink splits below the
    # demonstrated knob on small inputs
    split = str(_SPLIT_BYTES)
    with pinned_confs(
        spark,
        {
            "spark.sql.files.maxPartitionBytes": split,
            "spark.sql.files.openCostInBytes": split,
        },
    ):
        rb = spark.read.parquet(out)
        rows = (
            rb.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                    "rev_cents"
                ),
            )
            .orderBy("o_orderstatus")
            .collect()
        )
        # materialized under the live confs; the tiny (<=3-row) result is
        # re-framed so the returned plan doesn't depend on restored confs
        return spark.createDataFrame(rows, "o_orderstatus string, n bigint, rev_cents bigint")
