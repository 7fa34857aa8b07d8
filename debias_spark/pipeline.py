"""End-to-end pipeline: the reference's whole behavior, PySpark-native.

Reference lifecycle (SURVEY §3.1): scan partitioned corpus -> batch-annotate
per file (sequential, one HTTP call in flight) -> write one JSON doc per
file -> PDF report for flagged files -> pandas analytics over the outputs.

Spark lifecycle: one declarative plan per stage; annotation fans out across
executors in Arrow batches instead of serializing on one call at a time;
sinks are distributed with a per-file compatibility mode; analytics are the
registered E-series queries over the re-read outputs.

``run_pipeline`` annotates each record exactly once per run: it writes the
annotated corpus once as Parquet to ``<output_folder>/_annotated/corpus/``
and returns a frame read back from that directory.  The sink, the CLI summary
and the report all read this one committed copy, so the annotator (and a
real HTTP API behind it) sees every record once, and a non-deterministic
API cannot make the written docs, the summary and the report disagree.
The returned frame stays valid until the same output folder is rewritten.
At 100 TB this one columnar write replaces three more passes over the
annotator and the API behind it.  Spark and Hadoop readers skip
``_``-prefixed dirs, and the analytics glob ``*-output.json`` does not
match it.  The Parquet sits one level below ``_annotated/`` so that its
read-back names a leaf Spark does not take for hidden: named by its own
``_`` leaf, Spark logs ``All paths were ignored`` and reads it anyway.

Per-file contract: ``read_corpus`` sets each row's file (``src_file``,
the bare, URI-decoded input name) and line position (``_seq``) once, at
the scan, and ``text_corpus.write_per_file`` writes both the documents
and the reports from them, in line order, under the bare input name.
Nothing between the scan and the staging write shuffles, so the
annotator gets the scan's partitions.

Small inputs are read as one partition.  The pipeline's three reads (the
corpus glob, the ``_annotated/`` read-back and the ``*-output.json``
glob) each pass through ``sources.small_input.one_partition_if_small``
right at the scan: an input of at most
``spark.sql.adaptive.coalescePartitions.minPartitionSize`` bytes (1 MB by
default), sized from the scan's own file listing, becomes one partition.
At that size AQE would coalesce any shuffle of it to one partition
anyway, so the exchange buys no parallelism; without it the CLI
summary's ``groupBy`` and the analytics' ``groupBy`` and ``orderBy`` plan
no exchange and no AQE job, and neither do the per-file sinks, which
group by file (``write_outputs_per_file``, ``report.render_reports``).
On perfbench's corpus (1,741 records, inputs under 300 KB, ``local[4]``)
one operation runs 8 jobs instead of 25 and 8 tasks instead of 40
(SCALE.md, "Small inputs as one partition" and "Per-file sinks as one
row per output file").  An input above the threshold keeps every plan
it had, so the 100 TB path is unchanged, and no option is added.
"""

from __future__ import annotations

import configparser
from collections.abc import Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.annotate import AnnotateConfig, analytics_frame, annotate, flagged
from debias_spark.sources import (
    read_corpus,
    read_outputs,
    write_outputs_partitioned,
    write_outputs_per_file,
)
from debias_spark.sources.small_input import one_partition_if_small
from debias_spark.sources.text_corpus import split_record


@dataclass
class PipelineConfig:
    """The reference's config surface (call-debias.py:27-36, readme.md:77-95)."""

    input_folder: str
    output_folder: str
    use_ner: bool = True
    use_llm: bool = False
    max_retries: int = 5

    def fields(self) -> dict[str, str]:
        """The ``[settings]`` mapping under the reference key names: what
        ``to_ini`` writes and the GUI's settings editor shows
        (gui.py:116-158)."""
        return {
            "INPUT_FOLDER": self.input_folder,
            "OUTPUT_FOLDER": self.output_folder,
            "USE_NER": str(self.use_ner),
            "USE_LLM": str(self.use_llm),
            "MAX_RETRIES": str(self.max_retries),
        }

    @classmethod
    def from_fields(cls, fields: Mapping[str, str]) -> "PipelineConfig":
        """Inverse of ``fields``, for a config.ini section or the GUI's
        editor values.  Booleans parse as configparser parses them; a
        missing folder or an unparseable value raises ValueError."""
        if not fields.get("INPUT_FOLDER") or not fields.get("OUTPUT_FOLDER"):
            raise ValueError(
                "[settings] must define INPUT_FOLDER and OUTPUT_FOLDER "
                "(reference key names, readme.md usage)"
            )

        def flag(key: str, default: bool) -> bool:
            raw = fields.get(key)
            if raw is None:
                return default
            try:
                return configparser.ConfigParser.BOOLEAN_STATES[raw.strip().lower()]
            except KeyError:
                raise ValueError(f"{key}: not a boolean: {raw!r}") from None

        return cls(
            input_folder=fields["INPUT_FOLDER"],
            output_folder=fields["OUTPUT_FOLDER"],
            use_ner=flag("USE_NER", True),
            use_llm=flag("USE_LLM", False),
            max_retries=int(fields.get("MAX_RETRIES", "5")),
        )

    @classmethod
    def from_ini(cls, path: str) -> "PipelineConfig":
        cp = configparser.ConfigParser()
        cp.read(path)
        try:
            return cls.from_fields(cp["settings"])
        except ValueError as exc:
            raise ValueError(f"config {path}: {exc}") from None

    def to_ini(self, path: str) -> None:
        cp = configparser.ConfigParser()
        cp["settings"] = self.fields()
        with open(path, "w") as fh:
            cp.write(fh)


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    client_factory=None,
    per_file_compat: bool = True,
) -> DataFrame:
    """Scan -> annotate -> stage -> sink.  Returns the annotated corpus,
    read back from its staged Parquet copy in
    ``<output_folder>/_annotated/corpus/`` (see the module docstring); a
    rerun into the same folder replaces it.

    per_file_compat=True writes the reference's '<stem>-output.json' docs;
    False writes the distributed language-partitioned NDJSON sink (the
    100 TB path)."""
    corpus = read_corpus(spark, cfg.input_folder)
    ann_cfg = AnnotateConfig(
        max_retries=cfg.max_retries, use_ner=cfg.use_ner, use_llm=cfg.use_llm
    )
    if client_factory is not None:
        ann_cfg.client_factory = client_factory
    annotated = annotate(corpus, text_col="value", lang_col="language", config=ann_cfg)
    # A committed write, not cache()/persist(): the cache manager would hand
    # a later run with the same plan (same input path, same client) this
    # run's rows, and executor-local blocks do not survive executor loss.
    staged = f"{cfg.output_folder}/_annotated/corpus"
    annotated.write.mode("overwrite").parquet(staged)
    # Reading with the written schema skips Parquet's schema-inference job;
    # the file source makes every field nullable, as inference would.
    annotated = one_partition_if_small(spark.read.schema(annotated.schema).parquet(staged))
    if per_file_compat:
        write_outputs_per_file(annotated, cfg.output_folder)
    else:
        write_outputs_partitioned(annotated, cfg.output_folder)
    return annotated


def report_rows(annotated: DataFrame) -> DataFrame:
    """The PDF report's dataflow (call-debias.py:54-136) as a DataFrame:
    flagged records only, first-comma split projection, one row per tag with
    the record cells blanked after the first tag row (enumerate-index
    semantics at :106-107).  Rendering (reportlab) stays a driver-side sink
    over this frame."""
    ex = split_record(flagged(annotated), "value").select(
        "src_file",
        "_seq",
        "record_num",
        "literal_text",
        F.posexplode("tags").alias("tag_pos", "tag"),
    )
    first = F.col("tag_pos") == 0
    return ex.select(
        "src_file",
        "_seq",
        F.when(first, F.col("record_num")).otherwise("").alias("record_cell"),
        F.when(first, F.col("literal_text")).otherwise("").alias("literal_cell"),
        F.format_string(
            "Literal: %s\nIssue: %s\nSource: %s",
            F.col("tag.literal"),
            F.col("tag.issue"),
            F.col("tag.source"),
        ).alias("tag_details"),
        "tag_pos",
    )


def analytics_view(spark: SparkSession, output_dir: str) -> DataFrame:
    """The §1.3 denormalized analytics frame rebuilt from the written
    outputs: file, language, record_literal, issue_literal,
    tag_count_per_record — one record row plus one row per tag (N+1)."""
    docs = read_outputs(spark, output_dir)
    rec = docs.select("file", F.explode("results").alias("r")).select(
        "file",
        F.col("r.language").alias("language"),
        F.col("r.literal").alias("literal"),
        F.col("r.tags").alias("tags"),
    )
    return analytics_frame(rec)


def issue_distribution(frame: DataFrame, language: str | None = None) -> DataFrame:
    """Dashboard chart 1 (dashboard_widget.py:94-152): detections per issue
    literal, optional language filter, ranked with deterministic tiebreak."""
    tags = frame.filter(F.col("issue_literal").isNotNull())
    if language is not None:
        tags = tags.filter(F.col("language") == language)
    return (
        tags.groupBy("issue_literal")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("issue_literal"))
    )


def record_distribution(frame: DataFrame) -> DataFrame:
    """Dashboard chart 2 (dashboard_widget.py:157-204): histogram of
    issue-count-per-record.  The record-level rows guarantee 0-tag records
    appear in the 0 bucket."""
    per_record = frame.groupBy("record_literal").agg(
        F.max("tag_count_per_record").alias("n_issues")
    )
    return per_record.groupBy("n_issues").agg(F.count("*").alias("n_records")).orderBy("n_issues")
