"""Report sink: the reference's PDF report (call-debias.py:54-136) as a
driver-side renderer over the ``pipeline.report_rows`` DataFrame.

The dataflow (flagged-only filter, first-comma split, one row per tag,
record cells blanked after the first tag row) is the declarative plan in
``report_rows``; this module is ONLY the rendering sink.  reportlab renders
the landscape-A4 table when available (readme.md:147-155 layout); without
it the minimal stdlib writer (debias_spark.pdfmin) emits the same
landscape-A4 table shape, so fmt='pdf' always produces a valid PDF.  The
text renderer remains the default.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame

from debias_spark.sources.text_corpus import write_per_file

try:  # optional dependency, exactly like the reference's reportlab
    import reportlab  # noqa: F401

    HAVE_REPORTLAB = True
except ImportError:
    HAVE_REPORTLAB = False

HEADER = ("Record #", "Literal", "Tag details")


def render_reports(rows: DataFrame, output_dir: str, fmt: str = "text") -> list[str]:
    """Render one report per src_file from a report_rows frame.

    Returns the written filenames, sorted ('<stem>.txt' / '<stem>.pdf' —
    the reference derives report names from input names with a suffix swap,
    call-debias.py:64).  Only files with >= 1 flagged record get a report
    (the frame is already flagged-only).  ``write_per_file`` lists each
    file's rows on (_seq, tag_pos), the input-file line order of the
    reference's report; that pair is unique within a file, so the blanked
    record_cell never decides the order."""
    cells = rows.select("src_file", "_seq", "tag_pos", "record_cell", "literal_cell", "tag_details")
    if fmt == "pdf":
        return write_per_file(cells, output_dir, ".pdf", _render_pdf)
    return write_per_file(cells, output_dir, ".txt", _render_text)


def _render_text(stem: str, rows: list, path: pathlib.Path) -> None:
    lines = [f"De-bias report: {stem}", "", " | ".join(HEADER), "-" * 60]
    for r in rows:
        details = r.tag_details.replace("\n", "; ")
        lines.append(f"{r.record_cell} | {r.literal_cell} | {details}")
    path.write_text("\n".join(lines) + "\n")


def _render_pdf(stem: str, rows: list, path: pathlib.Path) -> None:
    if HAVE_REPORTLAB:
        from reportlab.lib.pagesizes import A4, landscape
        from reportlab.platypus import SimpleDocTemplate, Table

        data = [list(HEADER)] + [
            [r.record_cell, r.literal_cell, r.tag_details] for r in rows
        ]
        SimpleDocTemplate(str(path), pagesize=landscape(A4)).build([Table(data)])
        return
    from debias_spark.pdfmin import write_table_pdf

    write_table_pdf(
        path,
        f"De-bias report: {stem}",
        HEADER,
        [
            (r.record_cell, r.literal_cell, r.tag_details.replace("\n", "; "))
            for r in rows
        ],
    )
