"""Regenerate SURVEY.md §8 (the implementation addendum) from the live
registry.  Run after adding query keys:  python tools/gen_survey_addendum.py
"""

from __future__ import annotations

import pathlib
import re

from debias_spark.registry import load_all_queries

MARK = "## §8 Implementation addendum (live registry)"

# Why each remaining rows-only key stays rows-only, and which VALUE-ORACLED
# twin proves the same semantics (VERDICT-r5 item 4: document supersession
# instead of force-upgrading keys whose internals are engine-defined).
ROWS_ONLY_NOTES = {
    "agg_percentiles_approx": (
        "the GK-sketch estimates are engine-internal by definition; "
        "superseded for value evidence by `agg_percentiles_approx_banded` "
        "(X4c), which hash-checks that every estimate's exact rank lands "
        "inside the sketch's guaranteed ±2% band, and by the exact "
        "`agg_percentiles` (X4)."
    ),
    "similarity_ann_ivf": (
        "IVF centroids come from a seeded Spark-internal SAMPLE fit, "
        "deterministic in-engine but not portable to SQL; the iteration "
        "mechanics are value-proven by the pinned-init k-means pair "
        "`embedding_kmeans_assign`/`embedding_kmeans_update` (Y32/Y33) and "
        "the bucketed-ANN shape by `similarity_ann_lsh` (H8b, literal-"
        "hyperplane replay); recall asserted in tests."
    ),
    "stream_session_window": (
        "append-mode emission timing across micro-batches is engine-"
        "defined; the session-window SEMANTICS are value-proven by "
        "`stream_session_window_oracled` (Z34), whose complete-mode drain "
        "hash-matches DuckDB's gaps-and-islands replay."
    ),
    "stream_stream_join": (
        "cross-batch join-state eviction timing is engine-defined; "
        "superseded by `stream_stream_join_attrib` (Z31), the same "
        "attribution join value-oracled under the single-batch drain "
        "contract."
    ),
}
# Replace from the first §8 heading (any title suffix) to end of file, so
# retitled or duplicated sections collapse back into one generated section.
MARK_RE = r"## §8 Implementation addendum.*\Z"


def build_section() -> str:
    qs = load_all_queries()
    lines = [
        MARK,
        "",
        "Every declared operator key, its implementing module under",
        "`debias_spark/queries/`, and its correctness gate.  Generated from the",
        "live registry (`python tools/gen_survey_addendum.py`);",
        "`__spark_entry__.queries()` / `oracle_sql()` expose exactly this set",
        "to the driver.",
        "",
        "| § | query key | module | gate |",
        "|---|---|---|---|",
    ]
    for name, spec in sorted(qs.items(), key=lambda kv: (kv[1].section, kv[0])):
        mod = spec.fn.__module__.split(".")[-1]
        oracle = "duckdb-oracle" if spec.oracle else "rows-only + property test"
        lines.append(f"| {spec.section} | `{name}` | {mod} | {oracle} |")
    n_total = len(qs)
    n_oracled = sum(1 for s in qs.values() if s.oracle)
    rows_only = sorted(n for n, s in qs.items() if not s.oracle)
    lines += [
        "",
        f"**Totals:** {n_total} keys, {n_oracled} with DuckDB value oracles, "
        f"{n_total - n_oracled} rows-only (sketch/MLlib/streaming internals),",
        "each of which carries a set-level property or batch-equivalence test",
        "instead (tests/test_llm_ops_properties.py, tests/test_streaming.py,",
        "tests/test_report_and_stateful.py).",
        "",
        "Rows-only footnotes — each remaining rows-only key is deliberately",
        "so, and its SEMANTICS are value-proven elsewhere by an oracled twin:",
        "",
    ]
    for name in rows_only:
        note = ROWS_ONLY_NOTES.get(
            name, "declared rows-only; see the key's docstring for the reason"
        )
        lines.append(f"- `{name}` — {note}")
    unexplained = [n for n in rows_only if n not in ROWS_ONLY_NOTES]
    assert not unexplained, f"rows-only keys missing a footnote: {unexplained}"
    lines += [
        "",
        "Beyond the §2 inventory, the build adds: end-to-end pipeline surface",
        "(pipeline.py, cli.py, sources/, report.py), skew utilities + bucketing",
        "evidence (operators/skew.py, tests/test_scale_techniques.py), plan",
        "invariants (plans.py, tests/test_plan_invariants.py), and the scale",
        "design notes in SCALE.md.",
        "",
    ]
    return "\n".join(lines)


def main() -> None:
    path = pathlib.Path(__file__).resolve().parent.parent / "SURVEY.md"
    text = path.read_text()
    section = build_section()
    if re.search(MARK_RE, text, flags=re.S):
        text = re.sub(MARK_RE, section, text, flags=re.S)
    else:
        text = text.rstrip() + "\n\n---\n\n" + section
    path.write_text(text)
    print(f"SURVEY.md §8 regenerated: {section.count(chr(10))} lines")


if __name__ == "__main__":
    main()
