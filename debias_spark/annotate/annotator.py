"""Batch annotation as a vectorized Spark operator (SURVEY F1/F2).

The reference's core compute is: batch the lines of one file, POST them to
the annotation API, retry with exponential backoff, skip the file when
retries are exhausted (call-debias.py:143-174).  Spark-first translation:

* batch unit   = Arrow record batch (mapInPandas), not "one file" — sized by
  spark.sql.execution.arrow.maxRecordsPerBatch so 100 TB fans out across
  executors instead of serializing on one HTTP call at a time
  (the reference is strictly sequential, call-debias.py:193-194);
* retry        = in-UDF bounded retry with exponential backoff per batch,
  mirroring wait = 2**attempt (call-debias.py:168);
* skip-on-exhaust = rows get null tags + a populated ``_error`` column
  instead of vanishing: downstream filters decide, the job never aborts
  (readme.md:200 semantics), and Spark task retries still cover crashes.

Everything stays Arrow-vectorized: one Python round-trip per batch, nested
structs returned columnar.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# The canonical nested row type of the whole system (SURVEY §1.2).
TAG_SCHEMA = StructType(
    [
        StructField("literal", StringType()),
        StructField("issue", StringType()),
        StructField("source", StringType()),
    ]
)

ANNOTATION_FIELDS = [
    StructField("literal", StringType()),
    StructField("language", StringType()),
    StructField("tags", ArrayType(TAG_SCHEMA)),
    StructField("_error", StringType()),
    StructField("_attempts", IntegerType()),
]


def _default_client_factory():
    from debias_spark.annotate.lexicon import LexiconClient

    return LexiconClient()


@dataclass
class AnnotateConfig:
    """Mirrors the reference's config surface (call-debias.py:27-36):
    USE_NER / USE_LLM / MAX_RETRIES; client pluggable (HTTP or lexicon)."""

    max_retries: int = 5
    backoff_base: float = 0.0  # seconds; 2.0 == reference's 2**attempt sleeps
    use_ner: bool = True
    use_llm: bool = False
    # factory, not instance: constructed inside each executor task so an HTTP
    # session/socket is never pickled through the closure.
    client_factory: Callable[[], Callable[[list[str], str], dict]] = field(
        default=_default_client_factory
    )


def annotate(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    config: AnnotateConfig | None = None,
) -> DataFrame:
    """Append annotation columns to ``df``.

    Output schema = input columns + (literal, language, tags, _error,
    _attempts).  ``tags`` is null (not []) when the batch failed after
    retries, matching the reference's "skip file, keep going" semantics.
    """
    cfg = config or AnnotateConfig()
    in_schema = df.schema
    names = [f.name for f in in_schema.fields]
    if text_col not in names or lang_col not in names:
        raise ValueError(f"df must contain {text_col!r} and {lang_col!r}")
    # The echoed literal/language fields are redundant when the input already
    # uses those column names (e.g. the corpus reader's 'language') — skip
    # them rather than emitting duplicate column names.
    added = [f for f in ANNOTATION_FIELDS if f.name not in names]
    added_names = {f.name for f in added}
    out_schema = StructType(list(in_schema.fields) + added)

    def run_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = cfg.client_factory()
        # wire the config's API flags into clients that accept them (both
        # the lexicon and HTTP clients expose use_ner/use_llm like the
        # reference's payload, call-debias.py:43-48)
        for flag in ("use_ner", "use_llm"):
            if hasattr(client, flag):
                setattr(client, flag, getattr(cfg, flag))
        for pdf in batches:
            values = pdf[text_col].fillna("").tolist()
            # Group the batch by language: the API contract is one language
            # per request (call-debias.py:43-48).
            out_tags: list[list | None] = [None] * len(pdf)
            out_err: list[str | None] = [None] * len(pdf)
            out_att: list[int] = [0] * len(pdf)
            langs = pdf[lang_col].fillna("default").tolist()
            by_lang: dict[str, list[int]] = {}
            for i, lg in enumerate(langs):
                by_lang.setdefault(lg, []).append(i)
            for lg, idxs in by_lang.items():
                vals = [values[i] for i in idxs]
                response, err, attempts = _call_with_retry(client, vals, lg, cfg)
                # A call can "succeed" yet return a malformed body; a shape
                # mismatch must land in _error for the batch, not raise out
                # of mapInPandas and kill the job (the reference logs and
                # skips the file, call-debias.py:157).
                results = None
                if err is None:
                    results = (response or {}).get("results")
                    if not isinstance(results, list) or len(results) != len(vals):
                        got = len(results) if isinstance(results, list) else type(results).__name__
                        err = f"ShapeMismatch: {got} results for {len(vals)} inputs"
                for j, i in enumerate(idxs):
                    out_att[i] = attempts
                    if err is not None:
                        out_err[i] = err
                        continue
                    res = results[j] or {}
                    out_tags[i] = [
                        (t.get("literal"), t.get("issue"), t.get("source"))
                        for t in (res.get("tags") or [])
                    ]
            out = pdf.copy()
            cols = {
                "literal": values,
                "language": langs,
                "tags": out_tags,
                "_error": out_err,
                "_attempts": out_att,
            }
            for name, vals in cols.items():
                if name in added_names:
                    out[name] = vals
            yield out

    return df.mapInPandas(run_batches, schema=out_schema)


def _call_with_retry(client, values: list[str], language: str, cfg: AnnotateConfig):
    """Bounded retry with exponential backoff (call-debias.py:149-174).

    Returns (response, error, attempts); error is set iff retries exhausted.
    """
    last_err = "unknown"
    for attempt in range(1, cfg.max_retries + 1):
        try:
            return client(values, language), None, attempt
        except Exception as exc:  # transient per-batch errors only
            last_err = f"{type(exc).__name__}: {exc}"
            if attempt < cfg.max_retries and cfg.backoff_base > 0:
                time.sleep(cfg.backoff_base**attempt)
    return None, last_err, cfg.max_retries


def flagged(df: DataFrame) -> DataFrame:
    """Records whose tags array is non-null AND non-empty — Python truthiness
    of ``r.get("tags")`` (call-debias.py:59).  size(null) = -1 so a single
    ``size > 0`` predicate covers both null and []."""
    return df.filter(F.size("tags") > 0)


def analytics_frame(df: DataFrame, record_col: str = "literal") -> DataFrame:
    """The reference's denormalized analytics frame (SURVEY §1.3).

    For each record: ONE record-level row (issue_literal null) plus one row
    per tag, *not* explode_outer: an N-tag record yields N+1 rows
    (analytics/parser.py:29-46).  The record-level row is load-bearing: it
    guarantees 0-tag records appear in the record-distribution chart.  One
    pass builds both row families: the exploded array is a leading NULL
    followed by the tag literals.

    Every input column other than ``tags`` is kept in place, with
    ``record_col`` renamed to ``record_literal``; ``issue_literal`` and
    ``tag_count_per_record`` follow them.
    """
    keep = [
        F.col(c).alias("record_literal") if c == record_col else F.col(c)
        for c in df.columns
        if c != "tags"
    ]
    tags = F.coalesce(F.col("tags"), F.array())
    issues = F.concat(
        F.array(F.lit(None).cast("string")), F.transform(tags, lambda t: t["literal"])
    )
    return df.select(
        *keep,
        F.explode(issues).alias("issue_literal"),
        F.size(tags).alias("tag_count_per_record"),
    )
