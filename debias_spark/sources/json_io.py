"""Annotation-output JSON source/sink (SURVEY §1.2, §2.A A3/A4).

The reference writes one ``<stem>-output.json`` response document per input
file (call-debias.py:141,154) and the analytics parser globs
``*-output.json`` back (analytics/parser.py:16) — the suffix is
load-bearing.  Two sinks:

* ``write_outputs_partitioned`` — the scale path: newline-delimited JSON,
  partitioned by language, written fully distributed.  This is what a
  100 TB run uses; downstream reads are partition-pruned.
* ``write_outputs_per_file`` — the compatibility path: exact per-file
  response documents with the reference's naming contract, so existing
  consumers of the reference's output directory can point at ours
  unchanged.  Document assembly is distributed (groupBy + to_json, one
  row per input file); the write streams those rows through the driver
  one partition at a time (``toLocalIterator``) straight to their final
  ``<stem>-output.json`` names.  It needs a driver-visible POSIX output
  folder and is not the scale path: ``write_outputs_partitioned`` is.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from debias_spark.annotate.annotator import TAG_SCHEMA
from debias_spark.sources.small_input import one_partition_if_small

# SURVEY §1.2 — the canonical nested response document
RESPONSE_SCHEMA = StructType(
    [
        StructField(
            "results",
            ArrayType(
                StructType(
                    [
                        StructField("literal", StringType()),
                        StructField("language", StringType()),
                        StructField("tags", ArrayType(TAG_SCHEMA)),
                    ]
                )
            ),
        )
    ]
)


def _result_struct() -> F.Column:
    return F.struct(
        F.col("literal"),
        F.col("language"),
        F.col("tags").cast(ArrayType(TAG_SCHEMA)).alias("tags"),
    )


def write_outputs_partitioned(annotated: DataFrame, output_dir: str) -> None:
    """Scale-path sink: one JSON line per record, partitioned by language.

    Replaces only the sink's own ``language=*`` dirs: the output folder also
    holds the run log and the staged corpus this write reads from, which a
    whole-folder overwrite would delete.  Every ``language=*`` dir is
    removed first, so a rerun whose corpus drops a language leaves none of
    the earlier run's records behind."""
    spark = annotated.sparkSession
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    root = hadoop_path(output_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for status in fs.globStatus(hadoop_path(root, "language=*")) or []:
        fs.delete(status.getPath(), True)
    (
        annotated.select("src_file", "language", _result_struct().alias("result"))
        .write.mode("append")
        .partitionBy("language")
        .json(output_dir)
    )


def assemble_response_docs(annotated: DataFrame) -> DataFrame:
    """(src_file, json) — one reference-shaped response document per input
    file, assembled distributed (collect_list grouped by src_file: a hash
    exchange above one partition, none over a one-partition input).

    collect_list order after a shuffle is partition-arrival order — not
    stable across runs.  The reference emits results in input-file line
    order (call-debias.py:141 appends in request order), so when the frame
    carries ``_seq`` (text_corpus.with_line_seq) the results array is
    rebuilt by aggregating (seq, result) structs and sort_array-ing before
    to_json: deterministic output consumers can diff."""
    if "_seq" in annotated.columns:
        seq = F.col("_seq").cast("long")
    else:  # no ordering column supplied: fall back to scan order
        seq = F.monotonically_increasing_id()
    return (
        annotated.groupBy("src_file")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(seq.alias("s"), _result_struct().alias("r")))
            ).alias("ordered")
        )
        .select(
            "src_file",
            F.to_json(
                F.struct(F.transform("ordered", lambda x: x["r"]).alias("results"))
            ).alias("json"),
        )
    )


def write_outputs_per_file(annotated: DataFrame, output_dir: str) -> list[str]:
    """Compatibility sink honoring the '<stem>-output.json' naming contract.
    Returns the written filenames, sorted.

    ``assemble_response_docs`` already yields one row per input file, so
    the driver streams those rows (one partition in memory at a time) and
    writes each document to a dot-prefixed temp file in the output folder,
    then ``os.replace``-s it onto its final name: a reader of the folder
    sees the old document or the new one, never a torn one, and Spark's
    file listing skips the temp name.  Over a one-partition input the
    aggregate plans no exchange, so the sink runs one job."""
    out = pathlib.Path(output_dir)
    out.mkdir(parents=True, exist_ok=True)
    written = []
    for row in assemble_response_docs(annotated).toLocalIterator():
        name = f"{row.src_file.rsplit('.', 1)[0]}-output.json"
        tmp = out / f".{name}.tmp"
        tmp.write_text(row.json + "\n", encoding="utf-8")
        os.replace(tmp, out / name)
        written.append(name)
    return sorted(written)


def read_outputs(spark: SparkSession, output_dir: str) -> DataFrame:
    """Analytics source: glob *-output.json response docs back into the
    nested row type + source filename (analytics/parser.py:16-20)."""
    docs = (
        spark.read.schema(RESPONSE_SCHEMA)
        .option("multiLine", "true")
        .json(f"{output_dir}/*-output.json")
    )
    return one_partition_if_small(docs).withColumn(
        "file", F.regexp_extract(F.input_file_name(), r"/([^/]+)$", 1)
    )
