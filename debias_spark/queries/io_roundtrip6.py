"""Round-7 wave 10 (Z59-Z60): wholetext file-per-record ingestion and
recursive directory lookup.

Reference parity: the reference ingests a directory tree of text files
one FILE at a time (call-debias.py:143-147 reads the whole file, then
splits lines) — wholetext is the Spark-native spelling of that
file-granular read; recursiveFileLookup generalizes its fixed
`input/<lang>/` single-level walk (readme.md:44-56).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.warehouse import fresh_scratch_dirs

_N_FILES = 40  # docs per file = docs bucketed by doc_id % _N_FILES


@register(
    "source_wholetext_files",
    "Z59",
    oracle=f"""
    WITH b AS (
        SELECT doc_id % {_N_FILES} AS bucket,
               string_agg(text, chr(10) ORDER BY doc_id) AS body
        FROM documents GROUP BY 1
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(strlen(body) AS BIGINT) AS n_bytes,
           md5(body) AS body_md5
    FROM b ORDER BY bucket
    """,
)
def source_wholetext_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingestion (wholetext=true): documents serialize
    into 40 newline-joined text files, and the read side returns ONE ROW
    PER FILE — the reference's file-granular read (call-debias.py:143)
    and the shape a document-ingest pipeline uses when record boundaries
    are files, not lines (A2 covers the line-per-record mode).  Each
    file's byte length and md5 hash-match the oracle's string_agg
    replay, so no byte is lost or reordered at the file boundary.

    Scale shape: wholetext makes each FILE one task's single record —
    fine for document corpora (files are bounded), wrong for giant
    files; the docstring contract at 100 TB is file-size hygiene
    upstream.  The bucket id recovers from the file NAME via
    input_file_name parsing — the same path-derived-attribute trick as
    the reference's <lang>/ directory convention."""
    docs = table(spark, sf_dir, "documents")
    (out,) = fresh_scratch_dirs(spark, sf_dir, "z59_wholetext")
    os.makedirs(out, exist_ok=True)
    parts = (
        docs.groupBy((F.col("doc_id") % _N_FILES).alias("bucket"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("body")
        )
        .collect()
    )
    for row in parts:
        with open(os.path.join(out, f"bucket-{row.bucket:05d}.txt"), "w") as fh:
            fh.write(row.body)
    # NB: the option-string spelling `.option("wholetext", "true")` is
    # silently IGNORED by the text source (still line-per-record); only
    # the reader kwarg engages whole-file mode — measured round 7
    rb = spark.read.text(out, wholetext=True)
    return (
        rb.select(
            F.regexp_extract(F.input_file_name(), r"bucket-(\d+)\.txt", 1)
            .cast("long")
            .alias("bucket"),
            F.octet_length("value").cast("long").alias("n_bytes"),
            F.md5("value").alias("body_md5"),
        )
        .orderBy("bucket")
    )


@register(
    "source_recursive_dir_glob",
    "Z60",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def source_recursive_dir_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive directory ingestion: orders land in a 3-level nested
    tree (region/yeargroup/part files, NOT hive key=value dirs), and the
    read side needs recursiveFileLookup=true + a pathGlobFilter to find
    every parquet file at any depth — the lake-landing-zone layout
    (date-stamped nested folders from an upstream exporter) that plain
    reads silently miss or reject.  The status rollup hash-matches the
    source, proving no file at any depth is skipped or double-read.

    Scale shape: listing is the driver-side cost of deep trees — at
    100 TB the contract is bounded fan-out per level (or a manifest);
    the scan itself is ordinary parquet."""
    o = table(spark, sf_dir, "orders")
    (out,) = fresh_scratch_dirs(spark, sf_dir, "z60_nested")
    for grp in range(3):
        sub = os.path.join(out, f"level1_{grp}", f"level2_{grp % 2}")
        (
            o.filter(F.col("o_orderkey") % 3 == grp)
            .write.mode("overwrite")
            .parquet(sub)
        )
    rb = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(out)
    )
    return (
        rb.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
        )
        .orderBy("o_orderstatus")
    )
