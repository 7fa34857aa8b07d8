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
  unchanged.  Each record's result is serialized distributed (to_json);
  ``text_corpus.write_per_file``, the one per-file writer, orders each
  file's results by ``_seq`` (input line order) and streams one document
  per file through the driver.  It needs a driver-visible POSIX output
  folder and is not the scale path: ``write_outputs_partitioned`` is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from debias_spark.annotate.annotator import TAG_SCHEMA
from debias_spark.sources.small_input import one_partition_if_small
from debias_spark.sources.text_corpus import scanned_file_name, write_per_file

# call-debias.py:141 — each input file's response document is <stem> + this
OUTPUT_SUFFIX = "-output.json"

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


def write_outputs_per_file(annotated: DataFrame, output_dir: str) -> list[str]:
    """Compatibility sink honoring the '<stem>-output.json' naming contract.
    Returns the written filenames, sorted.  Each document is the
    reference's ``{"results": [...]}`` in input line order plus "\\n"."""

    def write(stem, rows, path):
        doc = '{"results":[' + ",".join(r.json for r in rows) + "]}\n"
        path.write_text(doc, encoding="utf-8")

    results = annotated.select("src_file", "_seq", F.to_json(_result_struct()).alias("json"))
    return write_per_file(results, output_dir, OUTPUT_SUFFIX, write)


def read_outputs(spark: SparkSession, output_dir: str) -> DataFrame:
    """Analytics source: glob *-output.json response docs back into the
    nested row type + source filename (analytics/parser.py:16-20)."""
    docs = (
        spark.read.schema(RESPONSE_SCHEMA)
        .option("multiLine", "true")
        .json(f"{output_dir}/*{OUTPUT_SUFFIX}")
    )
    return one_partition_if_small(docs).withColumn("file", scanned_file_name())
