"""Round-7 block wave 6 (Z45): multiline/quoted CSV roundtrip — the
adversarial-content ingestion case (embedded newlines, quotes, and
separators inside fields).

Reference parity: the reference (SirHooke/debias-batch-processor) reads
newline-delimited text and JSON only; CSV hardening is a north-star
ingestion extension per SURVEY §2.A.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.warehouse import scratch_dir

# tricky = first 20 chars + newline + quoted lang + comma + next 20 chars:
# one field containing all three CSV hazards (record separator, quote
# char, field separator)
_TRICKY_SQL = (
    "substr(coalesce(text, ''), 1, 20) || chr(10) || '\"' || lang || '\",' "
    "|| substr(coalesce(text, ''), 21, 20)"
)


@register(
    "source_csv_multiline_quotes",
    "Z45",
    oracle=f"""
    WITH t AS (
        SELECT lang, {_TRICKY_SQL} AS tricky FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(tricky)) AS BIGINT) AS sum_len,
           CAST(sum(('0x' || substr(md5(tricky), 1, 8))::BIGINT) AS BIGINT)
               AS checksum
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def source_csv_multiline_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink/source roundtrip with adversarial field content: build a
    column that embeds a NEWLINE, a DOUBLE QUOTE and a COMMA in every
    value, write it as quoted CSV, read it back with multiLine=true, and
    aggregate per lang: count, total chars, and a 32-bit-md5 checksum of
    every restored string.  The oracle computes the same aggregate from
    the SOURCE construction — it matches only if every byte survived the
    quote-escape-newline round trip (a lost escape or a row split at the
    embedded newline changes the md5 sum).  Write and read pin the SAME
    escape character explicitly: Spark's writer backslash-escapes
    embedded quotes rather than doubling them, and a reader configured
    differently would silently mis-parse.  Second writer trap pinned
    here: ignoreLeading/TrailingWhiteSpace default to TRUE on WRITE, so
    fields whose content happens to start or end with a space are
    silently trimmed unless both options are disabled (measured: ~13
    chars lost per 70 docs before the fix — the checksum caught it).

    Scale shape: multiLine=true is the one CSV option with a real scale
    cost — files cannot be split at arbitrary newlines, so parallelism
    is per-FILE, not per-block; the write keeps the source partitioning
    (many files) precisely so the multiline read-back still fans out.
    The checksum aggregates map-side; no shuffle carries raw text."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.expr(_TRICKY_SQL).alias("tricky")
    )
    path = scratch_dir(spark, sf_dir, "z45_csv")
    (
        docs.write.mode("overwrite")
        .option("header", True)
        .option("escape", "\\")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )
    back = (
        spark.read.schema("doc_id long, lang string, tricky string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", "\\")
        .csv(path)
    )
    h32 = F.conv(F.substring(F.md5("tricky"), 1, 8), 16, 10).cast("long")
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("tricky")).alias("sum_len"),
            F.sum(h32).alias("checksum"),
        )
        .orderBy("lang")
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
