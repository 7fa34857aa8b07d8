"""End-to-end pipeline golden test (SURVEY §5.3): fixture corpus ->
annotate -> JSON sink (naming contract) -> analytics re-read -> dashboard
queries.  Mirrors the reference's full lifecycle including its edge
semantics (blank lines, unknown-language dirs, no-comma lines, 0-tag
records in the histogram)."""

from __future__ import annotations

import json

import pytest

from debias_spark.pipeline import (
    PipelineConfig,
    analytics_view,
    issue_distribution,
    record_distribution,
    report_rows,
    run_pipeline,
)

CORPUS = {
    "en/alpha.csv": "1, the slow old system\n2, all good here\n\n3, big and slow\n",
    "en/beta.csv": "1, nothing flagged\n",
    "de/gamma.csv": "1, ein big system\nno comma line\n",
    "xx/ignored.csv": "1, slow\n",  # unknown language dir -> skipped entirely
}


def _write_corpus(inp, corpus=CORPUS):
    """Write ``corpus`` ({'<lang>/<file>': text}) under ``inp``, replacing
    whatever was there."""
    import shutil

    shutil.rmtree(inp, ignore_errors=True)
    for rel, content in corpus.items():
        f = inp / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(content)
    return inp


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("pipeline")
    inp, out = _write_corpus(root / "input"), root / "output"
    cfg = PipelineConfig(str(inp), str(out), max_retries=2)
    annotated = run_pipeline(spark, cfg)
    return annotated, out


def test_naming_contract_and_doc_shape(pipeline_out):
    """'<stem>-output.json' naming (call-debias.py:141) and the nested
    response document shape (SURVEY §1.2)."""
    _, out = pipeline_out
    names = sorted(p.name for p in out.glob("*.json"))
    assert names == ["alpha-output.json", "beta-output.json", "gamma-output.json"]
    doc = json.loads((out / "alpha-output.json").read_text())
    assert set(doc) == {"results"}
    # blank line dropped: 3 records, not 4
    assert len(doc["results"]) == 3
    r0 = {r["literal"]: r for r in doc["results"]}["1, the slow old system"]
    assert {t["literal"] for t in r0["tags"]} == {"slow", "old"}


def test_unknown_language_skipped(pipeline_out):
    annotated, _ = pipeline_out
    langs = {r.language for r in annotated.select("language").distinct().collect()}
    assert langs == {"en", "de"}


def test_analytics_roundtrip_n_plus_one(spark, pipeline_out):
    """Re-read outputs -> §1.3 frame: N-tag record -> N+1 rows."""
    annotated, out = pipeline_out
    frame = analytics_view(spark, str(out))
    n_records = annotated.count()
    n_tags = sum(len(r.tags) for r in annotated.select("tags").collect())
    assert frame.count() == n_records + n_tags
    assert frame.filter(frame.issue_literal.isNull()).count() == n_records


def test_issue_distribution(spark, pipeline_out):
    _, out = pipeline_out
    frame = analytics_view(spark, str(out))
    dist = {r.issue_literal: r.n for r in issue_distribution(frame).collect()}
    # slow x2 (alpha), old x1 (alpha), big x2 (alpha, gamma)
    assert dist == {"slow": 2, "big": 2, "old": 1}
    only_de = {r.issue_literal: r.n for r in issue_distribution(frame, "de").collect()}
    assert only_de == {"big": 1}


def test_record_distribution_includes_zero_bucket(spark, pipeline_out):
    """0-tag records must appear in the 0 bucket — guaranteed by the
    record-level row every record gets on top of its tag rows, the exact
    reason the frame is N+1 rows, not an explode_outer
    (dashboard_widget.py:166-169)."""
    _, out = pipeline_out
    hist = {r.n_issues: r.n_records for r in record_distribution(analytics_view(spark, str(out))).collect()}
    assert hist == {0: 3, 1: 1, 2: 2}


def test_report_rows_blanking(pipeline_out):
    """PDF table semantics: one row per tag, record cells blank after the
    first tag row (call-debias.py:106-107); no-comma -> empty literal_text
    is split AFTER flagging, so the full line is still annotated."""
    annotated, _ = pipeline_out
    rows = report_rows(annotated).collect()
    alpha = [r for r in rows if r.src_file == "alpha.csv"]
    assert len(alpha) == 4  # records 1 and 3 carry 2 tags each
    # each record: record cells shown on tag_pos 0, blanked on tag_pos 1
    assert sorted(r.record_cell for r in alpha if r.tag_pos == 0) == ["1", "3"]
    assert all(r.record_cell == "" and r.literal_cell == "" for r in alpha if r.tag_pos > 0)
    assert all("Literal:" in r.tag_details and "Issue:" in r.tag_details for r in rows)


def test_partitioned_sink_roundtrip(spark, tmp_path_factory, pipeline_out):
    """The scale-path sink: language-partitioned NDJSON, re-readable with
    partition pruning; same record count as the compat sink."""
    annotated, _ = pipeline_out
    out2 = tmp_path_factory.mktemp("part_out")
    from debias_spark.sources import write_outputs_partitioned

    write_outputs_partitioned(annotated, str(out2))
    back = spark.read.json(str(out2))
    assert back.count() == annotated.count()
    assert set(back.select("language").distinct().toPandas()["language"]) == {"en", "de"}


def test_corrupt_output_file_does_not_poison_analytics(spark, pipeline_out, tmp_path):
    """A malformed response document must not crash the analytics re-read
    (the reference's json.load would abort the whole dashboard refresh);
    the schema'd PERMISSIVE read nulls it out and every valid file still
    contributes."""
    import shutil

    annotated, out = pipeline_out
    bad_dir = tmp_path / "with_corrupt"
    shutil.copytree(out, bad_dir)
    (bad_dir / "broken-output.json").write_text('{"results": [ NOT VALID JSON')
    frame = analytics_view(spark, str(bad_dir))
    n_records = annotated.count()
    n_tags = sum(len(r.tags) for r in annotated.select("tags").collect())
    assert frame.count() == n_records + n_tags  # corrupt file contributes 0
    assert frame.filter(frame.file == "broken-output.json").count() == 0


def test_config_ini_roundtrip(tmp_path):
    cfg = PipelineConfig("/in", "/out", use_ner=False, use_llm=True, max_retries=3)
    path = tmp_path / "config.ini"
    cfg.to_ini(str(path))
    assert PipelineConfig.from_ini(str(path)) == cfg


def test_bad_boolean_raises_on_ini_and_gui_paths(tmp_path):
    """config.ini and the GUI editor parse through the same mapping, so an
    unparseable flag raises on both instead of reading as False."""
    fields = PipelineConfig("/in", "/out").fields()
    fields["USE_NER"] = "maybe"
    path = tmp_path / "config.ini"
    path.write_text(
        "[settings]\n" + "".join(f"{k} = {v}\n" for k, v in fields.items())
    )
    with pytest.raises(ValueError, match="USE_NER"):
        PipelineConfig.from_ini(str(path))
    with pytest.raises(ValueError, match="USE_NER"):
        PipelineConfig.from_fields(fields)


def test_results_order_is_input_line_order(pipeline_out):
    """Determinism contract: the results array inside each output document
    follows input-file line order (the reference appends results in request
    order, call-debias.py:141) — not collect_list's partition-arrival order."""
    _, out = pipeline_out
    doc = json.loads((out / "alpha-output.json").read_text())
    lits = [r["literal"] for r in doc["results"]]
    assert lits == ["1, the slow old system", "2, all good here", "3, big and slow"]


def test_no_staging_dir_left_behind(pipeline_out):
    _, out = pipeline_out
    assert not (out / "_staging_per_file").exists()


def test_dashboard_html_export(spark, pipeline_out, tmp_path):
    """Headless parity with the reference's two QChart dashboards
    (dashboard_widget.py:94-152, :157-204): per-language issue ranking and
    the issues-per-record histogram, exported as one self-contained HTML."""
    from debias_spark.dashboard import dashboard_data, export_dashboard_html

    _, out = pipeline_out
    frame = analytics_view(spark, str(out))
    data = dashboard_data(frame)
    # ranked desc by count, ties broken by issue literal asc
    assert data["issues"]["all"] == [["big", 2], ["slow", 2], ["old", 1]]
    assert data["issues"]["de"] == [["big", 1]]
    assert dict(data["histogram"]) == {0: 3, 1: 1, 2: 2}

    path = export_dashboard_html(frame, str(tmp_path / "dash.html"))
    text = (tmp_path / "dash.html").read_text()
    assert "issues-chart" in text and "hist-chart" in text
    assert '"big"' in text  # data payload embedded
    assert "prefers-color-scheme: dark" in text  # dark mode is selected, not flipped


def test_cli_end_to_end_with_log(tmp_path, capsys):
    """CLI parity run: per-file summary lines on stdout and the reference's
    debias.log (call-debias.py:16-22) appended in the output folder."""
    from debias_spark.cli import main

    inp = _write_corpus(tmp_path / "input")
    out = tmp_path / "out"
    rc = main(
        ["--input", str(inp), "--output", str(out), "--max-retries", "2",
         "--reports", "pdf"]
    )
    assert rc == 0
    stdout = capsys.readouterr().out
    assert "alpha.csv [en]: 3 records, 2 flagged, 0 errors" in stdout
    log_text = (out / "debias.log").read_text()
    assert "run start" in log_text and "run done" in log_text
    assert "alpha.csv [en]" in log_text
    # --reports pdf: one valid report per flagged input file
    pdfs = sorted(p.name for p in out.glob("*.pdf"))
    assert pdfs and all(
        (out / n).read_bytes().startswith(b"%PDF-") for n in pdfs
    )


def test_cli_partitioned_keeps_run_log(tmp_path):
    """The partitioned sink replaces only its own language=* dirs: the
    debias.log the CLI opened in the same folder survives the run."""
    from debias_spark.cli import main

    inp = _write_corpus(tmp_path / "input")
    out = tmp_path / "out"
    assert main(["--input", str(inp), "--output", str(out), "--partitioned"]) == 0
    assert "run done" in (out / "debias.log").read_text()
    assert {"language=en", "language=de", "_annotated"} <= {p.name for p in out.iterdir()}


def test_partitioned_rerun_drops_stale_languages(spark, tmp_path):
    """A rerun into the same folder whose corpus drops a language reads
    back exactly the second run's records: no language dir of the first
    run survives."""
    inp, out = tmp_path / "input", tmp_path / "out"
    cfg = PipelineConfig(str(inp), str(out), max_retries=2)
    _write_corpus(inp)
    run_pipeline(spark, cfg, per_file_compat=False)
    second = {"en/alpha.csv": "1, big and slow\n7, all good\n"}
    _write_corpus(inp, second)
    run_pipeline(spark, cfg, per_file_compat=False)
    back = spark.read.option("basePath", str(out)).json(f"{out}/language=*")
    got = sorted(
        (r.src_file, r.language, r.result.literal) for r in back.collect()
    )
    assert got == [
        ("alpha.csv", "en", "1, big and slow"),
        ("alpha.csv", "en", "7, all good"),
    ]


def test_annotator_runs_once_per_record(spark, tmp_path):
    """run_pipeline stages the annotated corpus, so the sink, the CLI
    summary, the report and any later action read one committed copy: the
    client sees each input record exactly once."""
    import functools

    from debias_spark.annotate import LexiconClient
    from debias_spark.cli import summary_frame
    from debias_spark.report import render_reports
    from debias_spark.sources import read_corpus

    class Counting(LexiconClient):
        def __init__(self, acc):
            super().__init__()
            self.acc = acc

        def __call__(self, values, language):
            self.acc.add(len(values))
            return super().__call__(values, language)

    acc = spark.sparkContext.accumulator(0)
    inp, out = _write_corpus(tmp_path / "input"), tmp_path / "out"
    cfg = PipelineConfig(str(inp), str(out), max_retries=2)
    annotated = run_pipeline(
        spark, cfg, client_factory=functools.partial(Counting, acc)
    )
    list(summary_frame(annotated).toLocalIterator())
    render_reports(report_rows(annotated), str(out))
    n = annotated.count()
    assert n == read_corpus(spark, str(inp)).count() == 6
    assert acc.value == n


def test_outputs_agree_under_non_deterministic_client(spark, tmp_path):
    """An API that answers the same line differently on each call: the
    per-file flagged counts, the report rows and the written
    <stem>-output.json tags still agree, because they all read the one
    annotation run_pipeline staged."""
    import functools
    import os

    from debias_spark.cli import summary_frame

    class Drifting:
        """Tags name the Python worker and its call count, and every other
        record (shifted by the call count) is flagged: no two calls agree.
        The count lives in a file per worker process, so it survives the
        client being rebuilt for each task."""

        def __init__(self, counter_dir):
            self.counter_dir = counter_dir

        def __call__(self, values, language):
            path = os.path.join(self.counter_dir, f"calls-{os.getpid()}")
            with open(path, "a") as fh:
                fh.write(".")
            n = os.path.getsize(path)
            tag = {"literal": f"{os.getpid()}-{n}", "issue": "drift", "source": "test"}
            return {
                "results": [
                    {"literal": v, "language": language,
                     "tags": [tag] if (i + n) % 2 else []}
                    for i, v in enumerate(values)
                ]
            }

    inp, out = _write_corpus(tmp_path / "input"), tmp_path / "out"
    cfg = PipelineConfig(str(inp), str(out), max_retries=2)
    factory = functools.partial(Drifting, str(tmp_path))
    annotated = run_pipeline(spark, cfg, client_factory=factory)
    flagged = {r.src_file: r.flagged for r in summary_frame(annotated).collect()}
    report = sorted(
        (r.src_file, r.tag_details.split("\n")[0])
        for r in report_rows(annotated).collect()
    )
    doc_flagged, doc_tags = {}, []
    for name in ("alpha", "beta", "gamma"):
        results = json.loads((out / f"{name}-output.json").read_text())["results"]
        doc_flagged[f"{name}.csv"] = sum(1 for r in results if r["tags"])
        doc_tags += [
            (f"{name}.csv", f"Literal: {t['literal']}")
            for r in results
            for t in r["tags"]
        ]
    assert flagged == doc_flagged
    assert report == sorted(doc_tags)


def test_staged_read_back_carries_the_written_schema(spark, tmp_path, monkeypatch):
    """run_pipeline reads ``_annotated/`` back with the schema it wrote:
    the frame equals Parquet's inferred read (file-source fields come back
    nullable either way), and no job runs between the staging write and
    the sink, where an inferring read runs one."""
    from pyspark.sql import DataFrameWriter

    import debias_spark.pipeline as pipeline

    sc, group = spark.sparkContext, "staged-read-back"

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(group))

    marks = {}
    write, sink = DataFrameWriter.parquet, pipeline.write_outputs_per_file

    def spy_write(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        marks.setdefault(path, jobs())

    def spy_sink(frame, out):
        marks["sink"] = jobs()
        return sink(frame, out)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy_write)
    monkeypatch.setattr(pipeline, "write_outputs_per_file", spy_sink)
    inp, out = _write_corpus(tmp_path / "input"), tmp_path / "out"
    staged = f"{out}/_annotated"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        annotated = run_pipeline(spark, PipelineConfig(str(inp), str(out), max_retries=2))
        assert marks["sink"] == marks[staged] > 0
        before = jobs()
        inferred = spark.read.parquet(staged)
        assert jobs() == before + 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert annotated.schema == inferred.schema
    order = ("src_file", "_seq")
    assert annotated.orderBy(*order).collect() == inferred.orderBy(*order).collect()


def _exchanges(df) -> int:
    """Exchange nodes in the physical plan of ``df`` (AQE's initial plan,
    read before the action runs)."""
    import re

    return len(re.findall(r"\bExchange\b", df._jdf.queryExecution().executedPlan().toString()))


def _whole_run(spark, inp, out):
    """One reference_pipeline operation over ``inp``: the per-file docs'
    and reports' bytes, the CLI summary rows, the analytics actions' rows
    (N+1 row count and both distributions) and each action's exchange
    count."""
    from debias_spark.cli import summary_frame
    from debias_spark.report import render_reports

    annotated = run_pipeline(spark, PipelineConfig(str(inp), str(out), max_retries=2))
    summary = [tuple(r) for r in summary_frame(annotated).collect()]
    render_reports(report_rows(annotated), str(out))
    frame = analytics_view(spark, str(out))
    actions = {
        "rows": frame.groupBy().count(),
        "issue_all": issue_distribution(frame),
        "issue_en": issue_distribution(frame, "en"),
        "records": record_distribution(frame),
    }
    exchanges = {name: _exchanges(df) for name, df in actions.items()}
    results = {name: [tuple(r) for r in df.collect()] for name, df in actions.items()}
    files = {p.name: p.read_bytes() for p in sorted(out.glob("*-output.json"))}
    files.update((p.name, p.read_bytes()) for p in sorted(out.glob("*.txt")))
    return files, summary, results, exchanges


def test_small_input_gate_keeps_results(spark, tmp_path):
    """Reading the small inputs as one partition changes plans, not
    results: with ``minPartitionSize`` pinned to 1 byte (the gate off, the
    plans of a large corpus) the docs, reports, summary, N+1 row count and
    distributions are byte-identical to the default run's.  The small
    run's four analytics actions plan no exchange; pinned off they keep
    one for the global count, a hash and a range exchange per issue
    distribution, and two hash plus one range for the record histogram."""
    from debias_spark.session import pinned_confs
    from debias_spark.sources.small_input import MIN_PARTITION_SIZE

    inp = _write_corpus(tmp_path / "input")
    files, summary, results, exchanges = _whole_run(spark, inp, tmp_path / "small")
    with pinned_confs(spark, {MIN_PARTITION_SIZE: "1b"}):
        off = _whole_run(spark, inp, tmp_path / "large")
    assert sorted(files) == [
        "alpha-output.json", "alpha.txt", "beta-output.json", "gamma-output.json", "gamma.txt"
    ]
    assert (files, summary, results) == off[:3]
    assert results["rows"] == [(11,)]
    assert exchanges == dict.fromkeys(exchanges, 0)
    assert off[3] == {"rows": 1, "issue_all": 2, "issue_en": 2, "records": 3}


def test_line_order_survives_several_read_splits(spark, tmp_path):
    """With 2 KB read splits and no open cost, one input file spans several
    scan partitions; read as one partition, its results array and its
    report rows still follow input line order."""
    from debias_spark.report import render_reports
    from debias_spark.session import pinned_confs
    from debias_spark.sources import read_corpus

    lines = [f"{i}, slow item number {i:04d}" for i in range(1, 401)]
    inp = _write_corpus(
        tmp_path / "input",
        {"en/long.csv": "\n".join(lines) + "\n", "de/short.csv": "1, ein big\n2, gut\n"},
    )
    out = tmp_path / "out"
    splits = {
        "spark.sql.files.maxPartitionBytes": "2k",
        "spark.sql.files.openCostInBytes": "0",
    }
    with pinned_confs(spark, splits):
        assert spark.read.text(f"{inp}/en/long.csv").rdd.getNumPartitions() > 3
        assert read_corpus(spark, str(inp)).rdd.getNumPartitions() == 1
        annotated = run_pipeline(spark, PipelineConfig(str(inp), str(out), max_retries=2))
        render_reports(report_rows(annotated), str(out))
    doc = json.loads((out / "long-output.json").read_text())
    assert [r["literal"] for r in doc["results"]] == lines
    rows = (out / "long.txt").read_text().splitlines()[4:]
    cells = [row.split(" | ", 1)[0] for row in rows]
    assert [c for c in cells if c] == [str(i) for i in range(1, 401)]


def test_rerun_returns_fresh_annotations(spark, tmp_path):
    """A second run into the same folder over a changed input returns the
    new annotations, not rows from the first run."""
    inp, out = tmp_path / "input", tmp_path / "out"
    cfg = PipelineConfig(str(inp), str(out), max_retries=2)
    for text, want in (("1, slow thing\n", ["slow"]), ("1, big thing\n", ["big"])):
        _write_corpus(inp, {"en/alpha.csv": text})
        annotated = run_pipeline(spark, cfg)
        got = [(r.value, [t.literal for t in r.tags]) for r in annotated.collect()]
        assert got == [(text.strip(), want)]


def test_gui_headless_gating_and_logic():
    """gui.py: non-Qt logic round-trips and the headless raise is clear."""
    import pytest

    from debias_spark.gui import GuiUnavailableError, launch, run_command
    from debias_spark.pipeline import PipelineConfig

    cfg = PipelineConfig("in", "out", use_ner=True, use_llm=False, max_retries=3)
    assert PipelineConfig.from_fields(cfg.fields()) == cfg
    cmd = run_command("c.ini", reports="pdf")
    assert cmd[1:] == ["-m", "debias_spark.cli", "--config", "c.ini", "--reports", "pdf"]
    try:
        import PyQt6  # noqa: F401
    except ImportError:
        with pytest.raises(GuiUnavailableError, match="python -m debias_spark.cli"):
            launch("c.ini")


def test_cli_query_mode(capsys):
    """--list-queries enumerates the registry; --query executes a key and
    prints bounded rows; unknown keys fail with suggestions."""
    from debias_spark.cli import main

    assert main(["--list-queries"]) == 0
    out = capsys.readouterr().out
    assert "dedup_minhash_lsh" in out and "duckdb-oracle" in out

    rc = main(
        ["--query", "agg_count_by_key", "--sf-dir", "/root/testdata/sf0.001",
         "--limit", "3"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    lines = [l for l in out.strip().splitlines() if l]
    assert len(lines) <= 5  # header + <=3 rows + footer

    assert main(["--query", "agg_count_by_keyz"]) == 2
    assert "close:" in capsys.readouterr().err


def test_cli_sql_mode(capsys):
    from debias_spark.cli import main

    rc = main(
        ["--sql", "SELECT count(*) AS n FROM nation",
         "--sf-dir", "/root/testdata/sf0.001"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "n" in out and "25" in out
