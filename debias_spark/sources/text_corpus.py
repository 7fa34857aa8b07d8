"""Language-partitioned line-file corpus source (SURVEY §1.1, §2.A).

Reference layout (readme.md:44-56): ``input/<lang>/<file>.csv`` where the
folder name IS the language attribute; each line is one record; blank lines
dropped; unknown-language folders skipped (call-debias.py:184-194).

Spark-first: one declarative ``spark.read.text`` over the glob, language
derived from the path, the language gate expressed as a filter.  On a
Hive-partitioned layout (``input/language=en/``) the same filter becomes
partition pruning and never lists the skipped directories; this reader
handles the reference's bare-folder layout, so pruning happens at the
file-listing level via the directory glob instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.sources.small_input import one_partition_if_small

# call-debias.py:36 — the reference's language gate
SUPPORTED_LANGUAGES = ("nl", "en", "de", "it", "fr")


def read_corpus(
    spark: SparkSession,
    input_dir: str,
    languages: tuple[str, ...] = SUPPORTED_LANGUAGES,
    drop_blank: bool = True,
) -> DataFrame:
    """Corpus as (value, language, src_file): one row per non-blank line.

    src_file is the source filename (stem + extension) — the unit of the
    reference's batching, retry and output naming.
    """
    df = (
        one_partition_if_small(spark.read.text(f"{input_dir}/*/*.csv"))
        .withColumn("_path", F.input_file_name())
        .withColumn("language", F.regexp_extract("_path", r"/([^/]+)/[^/]+$", 1))
        .withColumn("src_file", F.regexp_extract("_path", r"/([^/]+)$", 1))
        .drop("_path")
    )
    df = df.filter(F.col("language").isin(*languages))
    if drop_blank:
        df = df.filter(F.length(F.trim("value")) > 0)
    return df


def with_line_seq(df: DataFrame) -> DataFrame:
    """Append ``_seq``: the record's 1-based position among its src_file's
    non-blank lines (``read_corpus`` drops blank lines before numbering, so
    it is not the raw line number).

    The reference emits results in input-file line order (call-debias.py:141
    writes the response array in request order); Spark's collect_list after a
    shuffle is partition-order nondeterministic, so the per-file sink sorts
    on this column to restore the reference's ordering contract.

    monotonically_increasing_id() is (partition_id << 33) + row-in-partition;
    text splits of one file are assigned ascending partition ids in file
    order, so ordering by it within src_file IS line order; a small corpus
    that ``read_corpus`` read as one partition holds those splits in the
    same order.  The window shuffles by src_file (above one partition) —
    apply it on the per-file compat path only (the partitioned scale sink
    doesn't need an ordering column).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("src_file").orderBy(F.monotonically_increasing_id())
    return df.withColumn("_seq", F.row_number().over(w))


def split_record(df: DataFrame, value_col: str = "value") -> DataFrame:
    """The latent 2-field schema applied at report time (call-debias.py:92-96):
    split on the FIRST comma into (record_num, literal_text), trimmed; a line
    with no comma yields literal_text = ''."""
    parts = F.split(F.col(value_col), ",", 2)
    return df.withColumn("record_num", F.trim(F.get(parts, 0))).withColumn(
        "literal_text", F.coalesce(F.trim(F.get(parts, 1)), F.lit(""))
    )
