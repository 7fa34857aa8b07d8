"""Unit tests for the annotation operator: edge semantics the reference
pins down (SURVEY §1-§2) plus the retry/error protocol (F2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from debias_spark.annotate import (
    AnnotateConfig,
    LexiconClient,
    analytics_frame,
    annotate,
    flagged,
)


def _docs(spark):
    rows = [
        (1, "the slow old system", "en"),
        (2, "nothing to flag here", "en"),
        (3, "big big big", "de"),  # repeated term -> one tag (first occurrence)
        (4, "", "en"),  # empty line
        (5, "slow network", "xx"),  # unknown language -> default lexicon
        (6, None, "en"),  # null text
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_lexicon_client_shape():
    out = LexiconClient()(["the slow old system", "clean"], "en")
    assert set(out) == {"results"}
    r0 = out["results"][0]
    assert r0["literal"] == "the slow old system"
    assert [t["literal"] for t in r0["tags"]] == ["slow", "old"]
    assert all(set(t) == {"literal", "issue", "source"} for t in r0["tags"])
    assert out["results"][1]["tags"] == []


def test_annotate_edges(spark):
    ann = annotate(_docs(spark)).collect()
    by_id = {r.doc_id: r for r in ann}
    assert [t.literal for t in by_id[1].tags] == ["slow", "old"]
    assert by_id[2].tags == []  # no hits -> empty, NOT null
    assert [t.literal for t in by_id[3].tags] == ["big"]  # deduped
    assert by_id[4].tags == []  # empty line -> no tags
    assert [t.literal for t in by_id[5].tags] == ["slow"]  # default lexicon
    assert by_id[6].tags == [] and by_id[6].literal == ""  # null -> ''
    assert all(r._error is None for r in ann)


def test_flagged_truthiness(spark):
    """size(tags) > 0 must reproduce Python truthiness: null and [] both
    excluded (call-debias.py:59)."""
    ann = annotate(_docs(spark))
    kept = {r.doc_id for r in flagged(ann).collect()}
    assert kept == {1, 3, 5}


def test_retry_exhaust_sets_error_keeps_rows(spark):
    """Failed batches keep their rows with null tags + _error populated —
    the reference's skip-on-exhaust never drops the run (readme.md:200)."""
    # defined locally so cloudpickle ships it by value to the workers
    class AlwaysFails:
        def __call__(self, values, language):
            raise ConnectionError("synthetic outage")

    cfg = AnnotateConfig(max_retries=3, client_factory=AlwaysFails)
    out = annotate(_docs(spark), config=cfg).collect()
    assert len(out) == 6
    assert all(r.tags is None for r in out)
    assert all("ConnectionError" in r._error for r in out)
    assert all(r._attempts == 3 for r in out)


def test_partial_failure_isolated_per_language(spark):
    """One language's endpoint failing must not poison other batches."""
    class FailsForGerman:
        def __init__(self):
            self.inner = LexiconClient()

        def __call__(self, values, language):
            if language == "de":
                raise ConnectionError("de endpoint down")
            return self.inner(values, language)

    cfg = AnnotateConfig(max_retries=2, client_factory=FailsForGerman)
    out = {r.doc_id: r for r in annotate(_docs(spark), config=cfg).collect()}
    assert out[3].tags is None and out[3]._error is not None  # de failed
    assert out[1].tags is not None and out[1]._error is None  # en fine


def test_analytics_frame_n_plus_one(spark):
    """N-tag record -> N+1 rows (one record row + one row per tag), never
    explode_outer (analytics/parser.py:29-46)."""
    ann = annotate(_docs(spark))
    frame = analytics_frame(ann)
    n_records = ann.count()
    n_tags = ann.select(F.coalesce(F.size("tags"), F.lit(0)).alias("n")).agg(
        F.sum("n")
    ).collect()[0][0]
    assert frame.count() == n_records + n_tags
    # record-level rows carry null issue_literal and survive for 0-tag records
    rec_rows = frame.filter(F.col("issue_literal").isNull())
    assert rec_rows.count() == n_records
    # tag counts replicated identically on record and tag rows
    bad = frame.groupBy("record_literal").agg(
        F.countDistinct("tag_count_per_record").alias("k")
    ).filter(F.col("k") > 1)
    assert bad.count() == 0


def test_malformed_response_shape_sets_error(spark):
    """A call that 'succeeds' but returns a short / missing / mistyped
    results array must land in _error for the batch, not raise inside
    mapInPandas and kill the job (call-debias.py:157 logs and skips)."""

    def short_results(values, language):
        return {"results": [{"literal": values[0], "tags": []}]}  # too short

    def no_results(values, language):
        return {"ok": True}

    # short_results: only language groups with >1 row mismatch (the 1-row
    # de/xx groups legitimately get 1 result back)
    docs = _docs(spark).coalesce(1)  # one Arrow batch -> multi-row en group
    cfg = AnnotateConfig(max_retries=2, client_factory=lambda: short_results)
    out = annotate(docs, config=cfg).collect()
    en = [r for r in out if r.lang == "en"]
    assert len(en) > 1
    assert all(r._error is not None and "ShapeMismatch" in r._error for r in en)
    assert all(r.tags is None for r in en)

    # no_results: every group mismatches
    cfg = AnnotateConfig(max_retries=2, client_factory=lambda: no_results)
    out = annotate(docs, config=cfg).collect()
    assert all(r._error is not None and "ShapeMismatch" in r._error for r in out)
    assert all(r.tags is None for r in out)
