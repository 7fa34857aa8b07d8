"""Headless dashboard export: the reference's two QChart dashboards
(analytics/dashboard_widget.py:94-152 issue distribution with a language
filter, :157-204 record histogram) rendered as one self-contained HTML file.

The aggregations are the registered query plans (pipeline.issue_distribution
/ record_distribution) — this module is ONLY a driver-side rendering sink
over their already-tiny results: per-language top-N issue counts and the
issue-count histogram.  Everything collected is bounded (top_issues per
language x #languages + histogram buckets), independent of corpus size.

Chart conventions: single-series bar marks in one categorical slot, thin
bars with rounded data-ends anchored to the baseline, 2px surface gaps,
recessive axes, text in text tokens (never series color), hover tooltip per
mark, a table view per chart, and light/dark from the same palette via CSS
custom properties.
"""

from __future__ import annotations

import html
import json
import pathlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.pipeline import analytics_view, issue_distribution, record_distribution


def dashboard_data(frame: DataFrame, top_issues: int = 30) -> dict:
    """Collect the two dashboards' data, bounded: top-N issues per language
    (plus the all-languages view) and the per-record issue-count histogram."""
    per_lang = (
        frame.filter(F.col("issue_literal").isNotNull())
        .groupBy("language", "issue_literal")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("language").orderBy(
                    F.desc("n"), F.asc("issue_literal")
                )
            ),
        )
        .filter(F.col("rk") <= top_issues)
        .orderBy("language", "rk")
        .collect()
    )
    overall = issue_distribution(frame).limit(top_issues).collect()
    issues: dict[str, list] = {"all": [[r.issue_literal, r.n] for r in overall]}
    for r in per_lang:
        issues.setdefault(r.language, []).append([r.issue_literal, r.n])

    histogram = [
        [int(r.n_issues), int(r.n_records)] for r in record_distribution(frame).collect()
    ]
    return {"issues": issues, "histogram": histogram}


def export_dashboard_html(frame: DataFrame, path: str, top_issues: int = 30) -> str:
    """Write the dashboard HTML file; returns the written path."""
    data = dashboard_data(frame, top_issues=top_issues)
    out = pathlib.Path(path)
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(_render(data))
    return str(out)


_CSS = """
.viz-root {
  color-scheme: light;
  --surface-1: #fcfcfb;
  --text-primary: #0b0b0b;
  --text-secondary: #52514e;
  --grid: #e4e3df;
  --series-1: #2a78d6;
  background: var(--surface-1);
  color: var(--text-primary);
  font: 14px/1.45 system-ui, sans-serif;
  margin: 0; padding: 24px;
}
@media (prefers-color-scheme: dark) {
  :root:where(:not([data-theme="light"])) .viz-root {
    color-scheme: dark;
    --surface-1: #1a1a19;
    --text-primary: #ffffff;
    --text-secondary: #c3c2b7;
    --grid: #3a3936;
    --series-1: #3987e5;
  }
}
:root[data-theme="dark"] .viz-root {
  color-scheme: dark;
  --surface-1: #1a1a19;
  --text-primary: #ffffff;
  --text-secondary: #c3c2b7;
  --grid: #3a3936;
  --series-1: #3987e5;
}
h1 { font-size: 18px; margin: 0 0 4px; }
h2 { font-size: 15px; margin: 28px 0 2px; }
.sub { color: var(--text-secondary); margin: 0 0 12px; }
.filters { margin: 16px 0 4px; }
.filters label { color: var(--text-secondary); margin-right: 6px; }
select { font: inherit; color: inherit; background: var(--surface-1);
         border: 1px solid var(--grid); border-radius: 6px; padding: 3px 8px; }
svg text { fill: var(--text-primary); font: 12px system-ui, sans-serif; }
svg .axis text { fill: var(--text-secondary); }
svg .grid line { stroke: var(--grid); stroke-width: 1; }
svg .bar { fill: var(--series-1); }
svg .bar:hover { opacity: 0.85; }
.tooltip { position: fixed; pointer-events: none; background: var(--text-primary);
           color: var(--surface-1); padding: 4px 8px; border-radius: 6px;
           font-size: 12px; display: none; z-index: 10; }
details { margin: 8px 0 0; }
summary { color: var(--text-secondary); cursor: pointer; }
table { border-collapse: collapse; margin-top: 6px; }
td, th { border: 1px solid var(--grid); padding: 3px 10px; text-align: left; }
th { color: var(--text-secondary); font-weight: 600; }
"""

_JS = """
const DATA = __DATA__;
const tip = document.getElementById('tooltip');
function showTip(evt, text) {
  tip.textContent = text; tip.style.display = 'block';
  tip.style.left = (evt.clientX + 12) + 'px'; tip.style.top = (evt.clientY - 8) + 'px';
}
function hideTip() { tip.style.display = 'none'; }

/* horizontal bars: issue distribution */
function renderIssues(lang) {
  const rows = DATA.issues[lang] || [];
  const W = 720, rowH = 26, pad = {l: 220, r: 70, t: 6, b: 6};
  const H = pad.t + pad.b + rows.length * rowH;
  const max = Math.max(1, ...rows.map(r => r[1]));
  const sx = v => (W - pad.l - pad.r) * v / max;
  let s = `<svg id="chart-issues" viewBox="0 0 ${W} ${H}" width="${W}" role="img"
              aria-label="Detections per issue literal">`;
  rows.forEach((r, i) => {
    const y = pad.t + i * rowH, w = Math.max(sx(r[1]), 2), bh = rowH - 8;
    const label = r[0].length > 30 ? r[0].slice(0, 29) + '\\u2026' : r[0];
    s += `<text x="${pad.l - 8}" y="${y + bh / 2 + 4}" text-anchor="end">${esc(label)}</text>`;
    s += `<path class="bar" d="M ${pad.l} ${y} h ${w - 4} a 4 4 0 0 1 4 4 v ${bh - 8}
          a 4 4 0 0 1 -4 4 h ${-(w - 4)} z"
          data-tip="${esc(r[0])}: ${r[1]} detections"></path>`;
    s += `<text x="${pad.l + w + 6}" y="${y + bh / 2 + 4}" class="axis">${r[1]}</text>`;
  });
  s += '</svg>';
  document.getElementById('issues-chart').innerHTML = s;
  document.getElementById('issues-table').innerHTML =
    '<tr><th>Issue</th><th>Detections</th></tr>' +
    rows.map(r => `<tr><td>${esc(r[0])}</td><td>${r[1]}</td></tr>`).join('');
  hookTips();
}

/* vertical bars: issues-per-record histogram */
function renderHistogram() {
  const rows = DATA.histogram;
  const W = 720, H = 240, pad = {l: 50, r: 10, t: 10, b: 30};
  const bw = Math.min(48, (W - pad.l - pad.r) / Math.max(rows.length, 1) - 2);
  const max = Math.max(1, ...rows.map(r => r[1]));
  const sy = v => (H - pad.t - pad.b) * v / max;
  let s = `<svg id="chart-hist" viewBox="0 0 ${W} ${H}" width="${W}" role="img"
              aria-label="Records by issue count">`;
  s += `<g class="grid"><line x1="${pad.l}" y1="${H - pad.b}" x2="${W - pad.r}" y2="${H - pad.b}"/></g>`;
  rows.forEach((r, i) => {
    const x = pad.l + i * (bw + 2), h = Math.max(sy(r[1]), 2), y = H - pad.b - h;
    s += `<path class="bar" d="M ${x} ${H - pad.b} v ${-(h - 4)} a 4 4 0 0 1 4 -4 h ${bw - 8}
          a 4 4 0 0 1 4 4 v ${h - 4} z" data-tip="${r[1]} records with ${r[0]} issues"></path>`;
    s += `<text x="${x + bw / 2}" y="${H - pad.b + 16}" text-anchor="middle" class="axis">${r[0]}</text>`;
    s += `<text x="${x + bw / 2}" y="${y - 5}" text-anchor="middle" class="axis">${r[1]}</text>`;
  });
  s += `<text x="${(pad.l + W - pad.r) / 2}" y="${H - 4}" text-anchor="middle" class="axis">issues per record</text>`;
  s += '</svg>';
  document.getElementById('hist-chart').innerHTML = s;
  document.getElementById('hist-table').innerHTML =
    '<tr><th>Issues per record</th><th>Records</th></tr>' +
    rows.map(r => `<tr><td>${r[0]}</td><td>${r[1]}</td></tr>`).join('');
  hookTips();
}

function esc(s) { return String(s).replace(/[&<>"]/g,
  c => ({'&': '&amp;', '<': '&lt;', '>': '&gt;', '"': '&quot;'}[c])); }
function hookTips() {
  document.querySelectorAll('.bar').forEach(el => {
    el.onmousemove = evt => showTip(evt, el.dataset.tip);
    el.onmouseleave = hideTip;
  });
}

const sel = document.getElementById('lang');
Object.keys(DATA.issues).sort().forEach(l => {
  const o = document.createElement('option');
  o.value = l; o.textContent = l === 'all' ? 'All languages' : l;
  sel.appendChild(o);
});
sel.value = 'all';
sel.onchange = () => renderIssues(sel.value);
renderIssues('all');
renderHistogram();
"""


def _render(data: dict) -> str:
    payload = json.dumps(data, ensure_ascii=True)
    n_langs = len([k for k in data["issues"] if k != "all"])
    return f"""<!doctype html>
<html><head><meta charset="utf-8"><title>De-bias dashboard</title>
<style>{_CSS}</style></head>
<body class="viz-root">
<h1>De-bias analytics</h1>
<p class="sub">{html.escape(str(n_langs))} languages &middot; issue detections and
per-record issue counts</p>

<div class="filters"><label for="lang">Language</label>
<select id="lang" aria-label="Language filter"></select></div>

<h2>Detections per issue</h2>
<p class="sub">count of tags per issue literal, ranked</p>
<div id="issues-chart"></div>
<details><summary>Table view</summary><table id="issues-table"></table></details>

<h2>Records by issue count</h2>
<p class="sub">how many records carry 0, 1, 2&hellip; issues</p>
<div id="hist-chart"></div>
<details><summary>Table view</summary><table id="hist-table"></table></details>

<div id="tooltip" class="tooltip"></div>
<script>{_JS.replace("__DATA__", payload)}</script>
</body></html>
"""


def main(argv: list[str] | None = None) -> int:
    """CLI: render the dashboard HTML from a pipeline output directory —
    the reference's dashboard tab as a headless artifact.

        python -m debias_spark.dashboard --output out/ --html dash.html
    """
    import argparse

    p = argparse.ArgumentParser(prog="debias-spark-dashboard")
    p.add_argument("--output", required=True, help="pipeline OUTPUT_FOLDER with *-output.json")
    p.add_argument("--html", required=True, help="path for the rendered HTML file")
    p.add_argument("--top-issues", type=int, default=30)
    args = p.parse_args(argv)

    from debias_spark.session import get_spark

    spark = get_spark("debias-spark-dashboard")
    frame = analytics_view(spark, args.output)
    path = export_dashboard_html(frame, args.html, top_issues=args.top_issues)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    import sys

    sys.exit(main())
