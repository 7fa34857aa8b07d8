"""Round-9 wave 2 (Z70): the gzip-unsplittable-scan proof — why a 100 TB
landing zone must never arrive as monolithic .gz files.

Reference parity: the reference reads whole files sequentially
(call-debias.py's per-file loop) and never meets the splittability
question; on Spark the input SPLIT arithmetic is the parallelism, and a
gzip stream's lack of sync points silently serializes a scan however
small maxPartitionBytes is set.  This key pins both halves: the plan
fact (1 split for gz, many for plain, same bytes, same conf) and the
data fidelity of both roundtrips via one value-oracled rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import register
from debias_spark.warehouse import fresh_scratch_dirs

_MAX_SPLIT = 64 * 1024  # 64 KiB splits: the plain file must split, gz cannot


@register(
    "source_gzip_unsplittable_scan",
    "Z70",
    oracle="""
    SELECT fmt, lang, n_docs, sum_chars FROM (
        SELECT 'gzip' AS fmt, lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang
        UNION ALL
        SELECT 'plain' AS fmt, lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars
        FROM documents GROUP BY lang
    ) ORDER BY fmt, lang
    """,
)
def source_gzip_unsplittable_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the documents table twice as a SINGLE json file — once
    gzip-compressed, once plain — then read both back under a 64 KiB
    ``spark.sql.files.maxPartitionBytes`` and assert the split
    arithmetic: the plain file fans out into multiple input splits, the
    gzip file is pinned to EXACTLY ONE however small the split size is
    (no sync markers to seek to).  The returned rollup re-aggregates
    both readbacks per lang, so the oracle hash also proves neither
    roundtrip lost or altered a row.

    The 100 TB lesson this pins: compressed text landing zones must use
    a splittable container (parquet/orc with internal compression) or
    many small-enough files — one 10 GB .gz file is a one-task scan, a
    straggler no conf can fix.  Conf is restored in a finally
    (never-set -> unset, rule 20)."""
    docs = table(spark, sf_dir, "documents")
    gz_dir, pl_dir = fresh_scratch_dirs(spark, sf_dir, "z70_gz", "z70_plain")
    one = docs.coalesce(1)
    one.write.option("compression", "gzip").json(gz_dir)
    one.write.json(pl_dir)

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(_MAX_SPLIT))
    try:
        gz = spark.read.schema(docs.schema).json(gz_dir)
        pl = spark.read.schema(docs.schema).json(pl_dir)
        n_gz = gz.rdd.getNumPartitions()
        n_pl = pl.rdd.getNumPartitions()
        # raise, not assert: the 1-vs-many split fact IS what this key
        # exists to pin, and a bare assert strips to a no-op under
        # python -O (r9 advice — Y72's guards already use raise)
        if n_gz != 1:
            raise RuntimeError(f"gzip json scan split into {n_gz} partitions")
        if n_pl < 2:
            raise RuntimeError(
                f"plain json scan stayed at {n_pl} partition(s) under a "
                f"{_MAX_SPLIT}-byte split size"
            )

        def rollup(df: DataFrame, fmt: str) -> DataFrame:
            return df.groupBy("lang").agg(
                F.lit(fmt).alias("fmt"),
                F.count("*").alias("n_docs"),
                F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
            )

        out = (
            rollup(gz, "gzip")
            .unionByName(rollup(pl, "plain"))
            .select("fmt", "lang", "n_docs", "sum_chars")
            .orderBy("fmt", "lang")
            # materialize inside the conf scope: the tiny-split conf is
            # part of the proof, not something later consumers inherit
            .localCheckpoint(eager=True)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return out
