"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import re

import pytest

from perfbench import corpus, pools, tables
from perfbench.run import E2E_UNITS, layer_unit
from perfbench.stats import MIN_BEYOND, TAIL_PERCENTILES, nearest_rank, tail_percentile
from perfbench.worker import PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _small_corpus(seed: int) -> dict[str, str]:
    return corpus.generate(seed, 12, 600)


def test_corpus_is_deterministic_in_seed():
    assert _small_corpus(3) == _small_corpus(3)
    assert _small_corpus(3) != _small_corpus(4)


def test_tables_are_deterministic_in_seed():
    a, b, c = (tables.build_tables(s, 0.001) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in a)
    assert not all(a[t].equals(c[t]) for t in a)


def test_corpus_has_the_edge_cases():
    files = _small_corpus(3)
    lines = [ln for text in files.values() for ln in text.split("\n")[:-1]]
    assert any(not ln.strip() for ln in lines), "blank lines"
    assert any(ln.strip() and "," not in ln for ln in lines), "lines with no comma"
    assert len(set(lines)) < len(lines), "repeated lines"
    assert any(rel.startswith(corpus.UNKNOWN_LANGUAGE + "/") for rel in files)
    want = corpus.expected(files)
    assert any(r["tags"] for doc in want["docs"].values() for r in doc), "lexicon hits"


def test_replica_drops_blanks_and_skips_unknown_folder():
    files = {
        "en/a.csv": "1, a slow query\n \n2, fine\n",
        f"{corpus.UNKNOWN_LANGUAGE}/b.csv": "1, slow\n",
    }
    want = corpus.expected(files)
    assert list(want["docs"]) == ["a-output.json"]
    assert [r["literal"] for r in want["docs"]["a-output.json"]] == ["1, a slow query", "2, fine"]
    assert want["records"] == 2
    assert want["analytics_rows"] == 2 + 1  # N records plus one row per tag
    assert want["summary"] == [("a.csv", "en", 2, 1, 0)]
    assert list(want["reports"]) == ["a.txt"]


def _write_outputs(out_dir: str, want: dict) -> None:
    """Write the files a correct pipeline run produces."""
    os.makedirs(out_dir, exist_ok=True)
    for name, results in want["docs"].items():
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
            json.dump({"results": results}, fh)
    for name, text in want["reports"].items():
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
            fh.write(text)


@pytest.fixture
def outputs(tmp_path):
    want = corpus.expected(_small_corpus(7))
    out = str(tmp_path / "out")
    _write_outputs(out, want)
    assert corpus.check_output_dir(out, want) == []
    return out, want


def _rewrite_doc(out: str, name: str, edit) -> None:
    path = os.path.join(out, name)
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    edit(doc["results"])
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)


def test_checker_rejects_reordered_lines(outputs):
    out, want = outputs
    name = next(n for n, rs in want["docs"].items() if len(rs) > 1)
    _rewrite_doc(out, name, lambda rs: rs.reverse())
    assert corpus.check_output_dir(out, want)


def test_checker_rejects_missing_file(outputs):
    out, want = outputs
    os.remove(os.path.join(out, next(iter(want["docs"]))))
    assert corpus.check_output_dir(out, want)


def test_checker_rejects_missing_report(outputs):
    out, want = outputs
    os.remove(os.path.join(out, next(iter(want["reports"]))))
    assert corpus.check_output_dir(out, want)


def test_checker_rejects_dropped_tag(outputs):
    out, want = outputs
    name = next(n for n, rs in want["docs"].items() if any(r["tags"] for r in rs))

    def drop(results):
        next(r for r in results if r["tags"])["tags"].pop()

    _rewrite_doc(out, name, drop)
    assert corpus.check_output_dir(out, want)


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == E2E_UNITS
    assert layers == {name: layer_unit(name) for name in PER_LAYER}
    assert {w["name"] for w in bench["workloads"]} <= set(pools.WORKLOADS)
    for name in [*e2e, *layers, *pools.WORKLOADS]:
        assert NAME.fullmatch(name) and len(name) <= 64, name


@pytest.mark.parametrize("n", range(1, 400))
def test_percentile_rule(n):
    values = random.Random(n).sample(range(10 * n), n)
    p = tail_percentile(n)
    if p is None:
        assert n - max(-(-TAIL_PERCENTILES[0] * n // 100), 1) < MIN_BEYOND
        return
    assert sum(v > nearest_rank(values, p) for v in values) >= MIN_BEYOND
    for higher in TAIL_PERCENTILES[TAIL_PERCENTILES.index(p) + 1:]:
        assert sum(v > nearest_rank(values, higher) for v in values) < MIN_BEYOND
