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
    (the frame is already flagged-only)."""
    out = pathlib.Path(output_dir)
    out.mkdir(parents=True, exist_ok=True)
    # Hash-partition by src_file so each file's rows sit contiguously in one
    # partition, sort within partitions, and stream one partition at a time
    # (toLocalIterator): driver memory is bounded by one partition, not the
    # corpus, and no range-bounds sampling job runs.  Sort key is
    # (src_file, seq, tag_pos) — input-file line order, the reference's
    # report order (record_cell is blanked on tag rows and must never be a
    # sort key).
    order_cols = ["src_file", "seq", "tag_pos"] if "seq" in rows.columns else [
        "src_file", "tag_pos"
    ]
    written = []
    cur_file: str | None = None
    buf: list = []

    def _flush() -> None:
        if cur_file is None:
            return
        stem = cur_file.rsplit(".", 1)[0]
        if fmt == "pdf":
            written.append(_render_pdf(stem, buf, out))
        else:
            written.append(_render_text(stem, buf, out))

    ordered = rows.repartition("src_file").sortWithinPartitions(*order_cols)
    for r in ordered.toLocalIterator():
        if r.src_file != cur_file:
            _flush()
            cur_file, buf = r.src_file, []
        buf.append(r)
    _flush()
    return sorted(written)


def _render_text(stem: str, rows: list, out: pathlib.Path) -> str:
    name = f"{stem}.txt"
    lines = [f"De-bias report: {stem}", "", " | ".join(HEADER), "-" * 60]
    for r in rows:
        details = r.tag_details.replace("\n", "; ")
        lines.append(f"{r.record_cell} | {r.literal_cell} | {details}")
    (out / name).write_text("\n".join(lines) + "\n")
    return name


def _render_pdf(stem: str, rows: list, out: pathlib.Path) -> str:
    name = f"{stem}.pdf"
    if HAVE_REPORTLAB:
        from reportlab.lib.pagesizes import A4, landscape
        from reportlab.platypus import SimpleDocTemplate, Table

        data = [list(HEADER)] + [
            [r.record_cell, r.literal_cell, r.tag_details] for r in rows
        ]
        doc = SimpleDocTemplate(str(out / name), pagesize=landscape(A4))
        doc.build([Table(data)])
        return name
    from debias_spark.pdfmin import write_table_pdf

    write_table_pdf(
        out / name,
        f"De-bias report: {stem}",
        HEADER,
        [
            (r.record_cell, r.literal_cell, r.tag_details.replace("\n", "; "))
            for r in rows
        ],
    )
    return name
