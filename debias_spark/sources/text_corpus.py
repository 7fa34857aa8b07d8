"""Language-partitioned line-file corpus source and the per-file contract
of the paper pipeline (SURVEY §1.1, §2.A).

Reference layout (readme.md:44-56): ``input/<lang>/<file>.csv`` where the
folder name IS the language attribute; each line is one record; blank lines
dropped; unknown-language folders skipped (call-debias.py:184-194).

Spark-first: one declarative ``spark.read.text`` over the glob, language
derived from the path, the language gate expressed as a filter.  On a
Hive-partitioned layout (``input/language=en/``) the same filter becomes
partition pruning and never lists the skipped directories; this reader
handles the reference's bare-folder layout, so pruning happens at the
file-listing level via the directory glob instead.

The per-file contract, set once at the scan: every row knows the file it
came from (``src_file``, the bare name, URI-decoded once from
``_metadata.file_path``) and its place in that file (``_seq``, its
``monotonically_increasing_id``).  That id is (partition id << 33) +
row in partition; a file's read splits get ascending partition ids in
file order, and a small input read as one partition holds them in the
same order, so ``_seq`` ascends in line order within a file at any split
count, with no shuffle.  ``write_per_file`` is the one writer of per-file
outputs: it orders each file's rows by ``_seq`` and names the output
after the bare input name (``<stem><suffix>``, the reference's
call-debias.py:64 and :141), so the response documents and the reports
list records in input line order, as the reference does.
"""

from __future__ import annotations

import os
import pathlib
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.sources.small_input import one_partition_if_small

# call-debias.py:36 — the reference's language gate
SUPPORTED_LANGUAGES = ("nl", "en", "de", "it", "fr")


def _scanned_path() -> Column:
    """The path of the file a row was scanned from, URI-decoded once.
    ``url_decode`` alone reads '+' as a space, so it is escaped first."""
    return F.url_decode(F.replace(F.col("_metadata.file_path"), F.lit("+"), F.lit("%2B")))


def scanned_file_name() -> Column:
    """The bare name of the file a row was scanned from (``b c%.csv``)."""
    return F.regexp_extract(_scanned_path(), r"/([^/]+)$", 1)


def read_corpus(spark: SparkSession, input_dir: str) -> DataFrame:
    """Corpus as (value, language, src_file, _seq): one row per non-blank
    line of a supported language's folder (see the module docstring)."""
    df = one_partition_if_small(spark.read.text(f"{input_dir}/*/*.csv")).select(
        "value",
        F.regexp_extract(_scanned_path(), r"/([^/]+)/[^/]+$", 1).alias("language"),
        scanned_file_name().alias("src_file"),
    )
    return df.filter(
        F.col("language").isin(*SUPPORTED_LANGUAGES) & (F.length(F.trim("value")) > 0)
    ).withColumn("_seq", F.monotonically_increasing_id())


def write_per_file(
    rows: DataFrame,
    output_dir: str,
    suffix: str,
    write: Callable[[str, list, pathlib.Path], None],
) -> list[str]:
    """Write one ``<stem><suffix>`` file per ``src_file`` of ``rows`` into
    ``output_dir``; returns the written names, sorted.

    Each file's rows are gathered as structs of ``_seq`` and then the other
    columns in frame order, sorted, so ``_seq`` (unique within a file)
    orders them.  One row per file streams to the driver with
    ``toLocalIterator`` (one partition in memory at a time) and
    ``write(stem, rows, path)`` writes it to a dot-prefixed temp file in
    the folder, which ``os.replace`` moves onto its name: a reader sees the
    old file or the new one, never a torn one, and Spark's file listing
    skips the temp name.  Over a one-partition input the ``groupBy`` plans
    no exchange, so this runs one job."""
    out = pathlib.Path(output_dir)
    out.mkdir(parents=True, exist_ok=True)
    fields = [c for c in rows.columns if c not in ("src_file", "_seq")]
    per_file = rows.groupBy("src_file").agg(
        F.sort_array(F.collect_list(F.struct("_seq", *fields))).alias("rows")
    )
    written = []
    for r in per_file.toLocalIterator():
        stem = r.src_file.rsplit(".", 1)[0]
        name = stem + suffix
        tmp = out / f".{name}.tmp"
        write(stem, r.rows, tmp)
        os.replace(tmp, out / name)
        written.append(name)
    return sorted(written)


def split_record(df: DataFrame, value_col: str = "value") -> DataFrame:
    """The latent 2-field schema applied at report time (call-debias.py:92-96):
    split on the FIRST comma into (record_num, literal_text), trimmed; a line
    with no comma yields literal_text = ''."""
    parts = F.split(F.col(value_col), ",", 2)
    return df.withColumn("record_num", F.trim(F.get(parts, 0))).withColumn(
        "literal_text", F.coalesce(F.trim(F.get(parts, 1)), F.lit(""))
    )
