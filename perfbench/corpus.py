"""Seeded input corpus for ``reference_pipeline`` and a pure-Python
replica of what the pipeline must produce from it.

Layout: ``<root>/<lang>/<lang>_<i>.csv`` for the five supported
languages plus one unknown-language folder (``xx``), which the pipeline
must skip.  File sizes are skewed (Zipf: file ``i`` has a share
proportional to ``1/(i+1)``).  The sizes and the language of each file
do not depend on the seed, so that the amount of work does not either;
the seed draws the lines, which include blank lines, lines with no comma, lines repeated
within and across files, mixed-case lexicon hits and near misses such
as ``slow,`` (the lexicon matches whole whitespace tokens only).

``expected(files)`` restates, without Spark, every output the benchmark
checks: the ``<stem>-output.json`` documents, the per-file summary, the
text reports, the analytics row count and both dashboard distributions.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np

from debias_spark.annotate.lexicon import DEFAULT_LEXICON
from debias_spark.sources.text_corpus import SUPPORTED_LANGUAGES

UNKNOWN_LANGUAGE = "xx"
_WORDS = (
    "the system runs a query over data every night and reports results to "
    "users who read each table row by row with care"
).split()
_HITS = ["slow", "small", "big", "error", "old", "young", "legacy", "Slow", "BIG"]
_NEAR_MISSES = ["slow,", "bigger", "olden", "errors", "legacy."]


def _line(rng, n_record: int) -> str:
    words = [str(w) for w in rng.choice(_WORDS, int(rng.integers(3, 12)))]
    for _ in range(int(rng.integers(0, 4))):
        words.insert(int(rng.integers(0, len(words) + 1)), str(rng.choice(_HITS)))
    if rng.random() < 0.2:
        words.append(str(rng.choice(_NEAR_MISSES)))
    text = " ".join(words)
    if rng.random() < 0.08:
        return text  # no comma: the report shows an empty literal cell
    return f"{n_record}, {text}"


def generate(seed: int, n_files: int, n_lines: int) -> dict[str, str]:
    """Return ``{relative path: file content}`` for a corpus of about
    ``n_lines`` lines in ``n_files`` files.  Deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_files + 1)
    sizes = np.maximum((weights / weights.sum() * n_lines).astype(int), 1)
    langs = list(SUPPORTED_LANGUAGES) + [UNKNOWN_LANGUAGE]
    files: dict[str, str] = {}
    pool: list[str] = []
    for i, size in enumerate(sizes):
        lang = langs[i % len(langs)]
        lines = []
        for j in range(int(size)):
            r = rng.random()
            if r < 0.05:
                lines.append(" " * int(rng.integers(0, 3)))  # blank line
            elif r < 0.12 and pool:
                lines.append(pool[int(rng.integers(0, len(pool)))])  # repeat
            else:
                line = _line(rng, j + 1)
                lines.append(line)
                pool.append(line)
        files[f"{lang}/{lang}_{i:04d}.csv"] = "\n".join(lines) + "\n"
    return files


def write(root: str, files: dict[str, str]) -> None:
    for rel, content in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(content)


def tags_for(text: str, language: str) -> list[dict]:
    """The deterministic lexicon's tags for one line (restated rule:
    lower-cased whitespace tokens, first occurrence of each term)."""
    terms = DEFAULT_LEXICON.get(language) or DEFAULT_LEXICON["default"]
    tags, seen = [], set()
    for token in text.lower().split():
        if token in terms and token not in seen:
            seen.add(token)
            issue, source = terms[token]
            tags.append({"literal": token, "issue": issue, "source": source})
    return tags


def _report_text(stem: str, records: list[dict]) -> str | None:
    lines = []
    for rec in records:
        num, _, rest = rec["literal"].partition(",")
        has_comma = "," in rec["literal"]
        for pos, tag in enumerate(rec["tags"]):
            cells = (num.strip(), rest.strip() if has_comma else "") if pos == 0 else ("", "")
            details = f"Literal: {tag['literal']}; Issue: {tag['issue']}; Source: {tag['source']}"
            lines.append(f"{cells[0]} | {cells[1]} | {details}")
    if not lines:
        return None
    head = [f"De-bias report: {stem}", "", "Record # | Literal | Tag details", "-" * 60]
    return "\n".join(head + lines) + "\n"


def expected(files: dict[str, str]) -> dict:
    """Everything the pipeline must produce from ``files``."""
    docs: dict[str, list[dict]] = {}
    summary, reports = [], {}
    lit_max: dict[str, int] = {}
    issue_all: Counter = Counter()
    issue_by_lang: dict[str, Counter] = {}
    records = analytics_rows = 0
    for rel in sorted(files):
        lang, name = rel.split("/", 1)
        if lang not in SUPPORTED_LANGUAGES:
            continue
        stem = name.rsplit(".", 1)[0]
        results = []
        for line in files[rel].split("\n")[:-1]:
            if not line.strip(" "):
                continue
            tags = tags_for(line, lang)
            results.append({"literal": line, "language": lang, "tags": tags})
            lit_max[line] = max(lit_max.get(line, 0), len(tags))
            for t in tags:
                issue_all[t["literal"]] += 1
                issue_by_lang.setdefault(lang, Counter())[t["literal"]] += 1
            analytics_rows += 1 + len(tags)
        if not results:
            continue
        records += len(results)
        docs[f"{stem}-output.json"] = results
        flagged = sum(1 for r in results if r["tags"])
        summary.append((name, lang, len(results), flagged, 0))
        text = _report_text(stem, results)
        if text is not None:
            reports[f"{stem}.txt"] = text

    def ranked(c: Counter) -> list[tuple[str, int]]:
        return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))

    return {
        "records": records,
        "docs": docs,
        "summary": sorted(summary),
        "reports": reports,
        "analytics_rows": analytics_rows,
        "issue_all": ranked(issue_all),
        "issue_by_lang": {lg: ranked(c) for lg, c in issue_by_lang.items()},
        "record_dist": sorted(Counter(lit_max.values()).items()),
    }


def check_output_dir(out_dir: str, want: dict) -> list[str]:
    """Compare the files the pipeline wrote with ``want``; returns a list of
    problems (empty when everything matches)."""
    problems = []
    names = set(os.listdir(out_dir))
    got_docs = {n for n in names if n.endswith("-output.json")}
    if got_docs != set(want["docs"]):
        problems.append(
            f"output files: missing {sorted(set(want['docs']) - got_docs)[:3]}, "
            f"extra {sorted(got_docs - set(want['docs']))[:3]}"
        )
    for name in sorted(got_docs & set(want["docs"])):
        with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
            doc = json.load(fh)
        if doc.get("results") != want["docs"][name]:
            problems.append(f"{name}: results differ from the replica")
    got_reports = {n for n in names if n.endswith(".txt")}
    if got_reports != set(want["reports"]):
        problems.append(
            f"report files: missing {sorted(set(want['reports']) - got_reports)[:3]}, "
            f"extra {sorted(got_reports - set(want['reports']))[:3]}"
        )
    for name in sorted(got_reports & set(want["reports"])):
        with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
            if fh.read() != want["reports"][name]:
                problems.append(f"{name}: report text differs from the replica")
    return problems
