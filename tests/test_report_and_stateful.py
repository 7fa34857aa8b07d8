"""Report renderer sink + custom stateful streaming operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debias_spark.annotate import annotate
from debias_spark.catalog import table
from debias_spark.pipeline import report_rows
from debias_spark.report import HAVE_REPORTLAB, render_reports
from debias_spark.sources import read_corpus
from debias_spark.streaming import run_available_now, stream_events
from debias_spark.streaming.stateful import running_user_counts


@pytest.fixture()
def annotated(spark, tmp_path_factory):
    """The annotated corpus of two files, scanned by ``read_corpus`` so it
    carries ``src_file`` and ``_seq`` like every pipeline frame."""
    inp = tmp_path_factory.mktemp("corpus")
    for rel, text in (("en/a.csv", "1, slow old ride\n2, clean\n"), ("de/b.csv", "1, big thing\n")):
        (inp / rel).parent.mkdir(exist_ok=True)
        (inp / rel).write_text(text)
    return annotate(read_corpus(spark, str(inp)), text_col="value", lang_col="language")


def test_render_text_reports(annotated, tmp_path):
    names = render_reports(report_rows(annotated), str(tmp_path))
    assert names == ["a.txt", "b.txt"]
    content = (tmp_path / "a.txt").read_text()
    assert "Record #" in content and "Issue: " in content
    # flagged-only: record 2 (clean) must not appear
    assert "clean" not in content


def test_render_pdf_reports(annotated, tmp_path):
    """fmt='pdf' always writes a structurally valid PDF: reportlab when
    present, else the stdlib writer (debias_spark.pdfmin)."""
    names = render_reports(report_rows(annotated), str(tmp_path), fmt="pdf")
    assert names == ["a.pdf", "b.pdf"]
    for name in names:
        _assert_valid_pdf((tmp_path / name).read_bytes())
    if not HAVE_REPORTLAB:  # stdlib writer: report title + table text present
        raw = (tmp_path / "a.pdf").read_bytes()
        assert b"(De-bias report: a) Tj" in raw
        assert b"(Record #) Tj" in raw


def _assert_valid_pdf(raw: bytes) -> None:
    """Structural checks a PDF reader relies on: magic header, EOF marker,
    startxref pointing at the xref table, and every xref entry's byte offset
    landing exactly on its 'N 0 obj' line."""
    assert raw.startswith(b"%PDF-")
    assert b"%%EOF" in raw
    tail = raw[raw.rfind(b"startxref") :].split()
    xref_at = int(tail[1])
    assert raw[xref_at : xref_at + 4] == b"xref"
    # xref entries: skip header + free entry, then check offsets
    lines = raw[xref_at:].split(b"\n")
    n_obj = int(lines[1].split()[1])
    for num, entry in enumerate(lines[2 : 2 + n_obj]):
        off, _gen, kind = entry.split()
        if kind == b"n":
            assert raw[int(off) :].startswith(b"%d 0 obj" % num), f"obj {num}"


def test_pdfmin_multipage(tmp_path):
    """Enough rows to force page breaks: page count and Kids must agree."""
    from debias_spark.pdfmin import write_table_pdf

    rows = [(f"r{i}", f"lit ({i})\\", f"detail {i}") for i in range(200)]
    path = tmp_path / "big.pdf"
    write_table_pdf(path, "big report", ("Record #", "Literal", "Tag details"), rows)
    raw = path.read_bytes()
    _assert_valid_pdf(raw)
    n_pages = raw.count(b"/Type /Page ")
    assert n_pages >= 2
    assert b"/Count %d" % n_pages in raw


def test_stateful_counts_match_batch(spark, sf_dir):
    """The custom stateful aggregate's final state must equal the batch
    groupBy — state-store execution, identical semantics."""
    out = run_available_now(
        running_user_counts(stream_events(spark, sf_dir)), spark, output_mode="update"
    )
    # update mode may emit one row per user per trigger: the final row per
    # user is the one with the max running count
    final = (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("value_cents").alias("value_cents"),
        )
        .collect()
    )
    batch = {
        r.user_id: (r.n, r.cents)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
        )
        .collect()
    }
    got = {r.user_id: (r.n_events, r.value_cents) for r in final}
    assert got == batch
