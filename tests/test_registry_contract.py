"""Driver-contract invariants: the priority ordering the driver consumes is
DERIVED from the committed CORRECTNESS_r*.json artifacts (round-8 rebuild of
the twice-stale hand-maintained list), so these tests pin the derivation:
every unproven key must lead the 50-key window, failures and changed keys
must precede greens, and the order must stay a total permutation of the
registry."""

from __future__ import annotations

import ast
import pathlib

import pytest

from debias_spark.registry import (
    CHANGED_SINCE_CHECK,
    _correctness_evidence,
    _record_green,
    changed_pending,
    load_all_queries,
    priority_ordered,
)

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "debias_spark"


def package_files(*parts: str, root: pathlib.Path = PKG) -> list[pathlib.Path]:
    """Every ``.py`` file under ``root/<parts>`` (or the one file it names),
    sorted.  Raises when it finds none, so a repo scan built on it cannot
    pass vacuously after a move or a mistyped path."""
    where = root.joinpath(*parts)
    paths = [where] if where.suffix == ".py" and where.is_file() else sorted(where.rglob("*.py"))
    if not paths:
        raise FileNotFoundError(f"no .py files under {where}")
    return paths


def functions_with(pattern, paths, root: pathlib.Path = PKG) -> list[tuple[str, str]]:
    """``(file relative to root, owner)`` for every match of ``pattern``
    anywhere in the file.  The owner is the enclosing top-level function
    or class, ``Class.method`` for a method, and ``<module>`` for
    anything outside them, so no match escapes the listed pairs."""
    import re

    found = []
    for path in paths:
        src = path.read_text()
        owner = {}
        for node in ast.parse(src).body:
            scopes = [(node, node.name)] if hasattr(node, "decorator_list") else []
            if isinstance(node, ast.ClassDef):
                scopes += [(m, f"{node.name}.{m.name}") for m in node.body
                           if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))]
            for scope, name in scopes:
                first = min([scope.lineno] + [d.lineno for d in scope.decorator_list])
                owner.update(dict.fromkeys(range(first, scope.end_lineno + 1), name))
        for m in re.finditer(pattern, src):
            line = src.count("\n", 0, m.start()) + 1
            found.append((path.relative_to(root).as_posix(), owner.get(line, "<module>")))
    return found


def test_package_scan_refuses_an_empty_root(tmp_path):
    with pytest.raises(FileNotFoundError, match="no .py files"):
        package_files(root=tmp_path)
    with pytest.raises(FileNotFoundError):
        package_files("no_such_dir")
    assert package_files("registry.py") == [PKG / "registry.py"]


def test_function_scan_reports_every_match(tmp_path):
    """A match in a method, an async def, a decorator or a module-level
    statement is reported under its owner, never dropped."""
    copy = tmp_path / "warehouse.py"
    copy.write_text(
        (PKG / "warehouse.py").read_text()
        + "\n\nAPP = spark.sparkContext.applicationId\n\n\n"
        "class Reader:\n"
        "    def read(self):\n"
        "        return self.sc.applicationId\n\n\n"
        "async def fetch(sc):\n"
        "    return sc.applicationId\n\n\n"
        "@tag(sc.applicationId)\n"
        "def tagged():\n"
        "    pass\n"
    )
    assert sorted(functions_with(r"\.applicationId\b", [copy], root=tmp_path)) == [
        ("warehouse.py", "<module>"),
        ("warehouse.py", "Reader.read"),
        ("warehouse.py", "fetch"),
        ("warehouse.py", "scratch_dir"),
        ("warehouse.py", "tagged"),
    ]


def test_priority_ordering_is_total_permutation():
    specs = load_all_queries()
    order = list(priority_ordered())
    assert len(order) == len(set(order)), "duplicates"
    assert set(order) == set(specs), set(order) ^ set(specs)


def test_never_driver_checked_keys_lead_the_window():
    """The round-7/round-6 stale-priority defect, made structurally
    impossible: every registry key absent from the committed CORRECTNESS
    files must sit at the HEAD of priority_ordered() (before any key the
    driver already proved) — the driver checks exactly the first 50 keys,
    so an unproven key behind a proven one is a wasted round of evidence."""
    specs = load_all_queries()
    ev = _correctness_evidence()
    never = {k for k in specs if k not in ev}
    order = list(priority_ordered())
    head = set(order[: len(never)])
    assert head == never, (
        f"never-checked keys not leading: missing from head "
        f"{sorted(never - head)}; proven keys in head {sorted(head - never)}"
    )


def test_failed_changed_and_deferred_precede_all_greens():
    specs = load_all_queries()
    ev = _correctness_evidence()
    order = list(priority_ordered())
    pos = {k: i for i, k in enumerate(order)}
    needs_proof = set(changed_pending(specs, ev)) | {
        k
        for k in specs
        if k not in ev
        or not _record_green(ev[k][2], specs[k].oracle is not None)
    }
    first_green = min(
        (pos[k] for k in specs if k not in needs_proof), default=len(order)
    )
    late = [k for k in needs_proof if pos[k] > first_green]
    assert not late, f"keys needing proof behind a green: {late}"


def test_green_tail_is_stalest_first():
    specs = load_all_queries()
    ev = _correctness_evidence()
    order = list(priority_ordered())
    pending = set(changed_pending(specs, ev))
    tail = [
        k
        for k in order
        if k in ev
        and k not in pending
        and _record_green(ev[k][2], specs[k].oracle is not None)
    ]
    keys = [(ev[k][0], ev[k][1]) for k in tail]
    assert keys == sorted(keys), "green tail must be (round, index)-sorted"


def test_window_covers_every_key_needing_proof():
    """(new + failed + changed) must fit the driver's 50-key window; a
    51st unproven key would otherwise silently wait a full round — flag
    it here so CHANGED_SINCE_CHECK is trimmed or the key waits for the
    next round on purpose."""
    specs = load_all_queries()
    ev = _correctness_evidence()
    pending = set(changed_pending(specs, ev))
    needing = [
        k
        for k in specs
        if k not in ev
        or (
            k in ev
            and not _record_green(ev[k][2], specs[k].oracle is not None)
        )
        or (k in ev and k in pending)
    ]
    assert len(needing) <= 50, (
        f"{len(needing)} keys need driver proof but the window holds 50: "
        f"trim CHANGED_SINCE_CHECK"
    )


def test_every_key_has_callable_and_section():
    for name, spec in load_all_queries().items():
        assert callable(spec.fn), name
        assert spec.section, name
        if spec.oracle is not None:
            assert "SELECT" in spec.oracle.upper(), name


# Types the driver's value-hash serializes differently from Spark's output
# even when every value is numerically identical (round-3 adjudication:
# embedding_quantize_int8 / tpch_q11 false hash-fails — DuckDB sum(BIGINT)
# and list_sum return HUGEINT).  Oracles must CAST these to BIGINT/DOUBLE.
_BANNED_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL", "UBIGINT")


def test_no_oracle_returns_hugeint_or_decimal():
    """Execute every oracle's type signature at sf0.001 and assert no result
    column carries a DuckDB type whose cell serialization diverges from the
    Spark-side long/double (the round-3 false-hash-fail class)."""
    from debias_spark.testing import duck_connection

    con = duck_connection("/root/testdata/sf0.001")
    bad = []
    for name, spec in load_all_queries().items():
        if spec.oracle is None:
            continue
        rel = con.sql(spec.oracle)
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ).upper()
            if any(b in t for b in _BANNED_DUCK_TYPES):
                bad.append((name, col, t))
    assert not bad, f"oracles emitting driver-hash-unsafe types: {bad}"


def test_floor_eps_rule_lives_in_one_module():
    """The floor-eps constant is spelled once, in debias_spark/numeric.py.
    Any other module under debias_spark/ that spells `0.5 + 1e-9`,
    `0.500000001` or binds a local eps constant has re-copied the rule
    instead of calling `floor_eps` / `floor_eps_sql`.  (Tiebreak keys
    such as `l_quantity + l_orderkey * 1e-9` are not rounding and do not
    match.)"""
    import re

    copy = re.compile(r"0\.5\s*\+\s*1e-9|0\.500000001|\b_?eps\s*=(?!=)", re.I)
    hits = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for path in package_files()
        if path.name != "numeric.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if copy.search(line)
    ]
    assert not hits, "floor-eps rule re-copied outside numeric.py:\n" + "\n".join(hits)


def test_cents_rule_lives_in_one_module():
    """The integer-cents rule is spelled once, in debias_spark/numeric.py.
    Any other module under debias_spark/ that spells `round(<x> * 100)`
    (SQL or Column, on one line or several) or binds a `_CENTS` /
    `_CENTS_SQL` constant has re-copied the rule instead of calling
    `cents` / `cents_sql`.  The TPC-H revenue rule `floor(x * 100 + 0.5)`
    and other roundings such as `round(w * least(...), 0)` or
    `round(100.0 / value)` are not this rule and do not match."""
    import re

    spelled = re.compile(r"\bround\((?:[^()]|\([^()]*\))*\*\s*100\s*\)")
    bound = re.compile(r"\b_CENTS(?:_SQL)?\s*=(?!=)")
    hits = []
    for path in package_files():
        if path.name == "numeric.py":
            continue
        text = path.read_text()
        for m in [*spelled.finditer(text), *bound.finditer(text)]:
            line = text.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(PKG)}:{line}: {m.group(0).strip()}")
    assert not hits, "cents rule re-copied outside numeric.py:\n" + "\n".join(hits)


def test_cents_rule_is_pinned_and_agrees_across_engines(spark):
    """`cents_sql` is spelled into dozens of oracle strings, so its text
    is pinned: an edit to the helper would silently rewrite all of them.
    On exact and near ties (x.xx5 inputs of both signs), zero and NULL,
    the Column form on Spark, the SQL form through Spark SQL and the SQL
    form on DuckDB return the same values."""
    import duckdb
    from pyspark.sql import functions as F

    from debias_spark.numeric import cents, cents_sql

    assert cents_sql("v") == "CAST(round(v * 100) AS BIGINT)"
    assert str(cents(F.col("v"))) == str(F.round(F.col("v") * 100).cast("long"))

    probes = [0.125, -0.125, 1.005, 2.675, -2.675, 0.285, 0.005, -0.005,
              1234567.895, -999.995, 0.0, 10.0, None]
    rows = list(enumerate(probes))
    df = spark.createDataFrame(rows, "i int, v double")
    by_column = df.orderBy("i").select(cents(F.col("v")).alias("c")).collect()
    by_spark_sql = spark.sql(
        f"SELECT {cents_sql('v')} AS c FROM {{t}} ORDER BY i", t=df
    ).collect()
    with duckdb.connect() as con:
        con.execute("CREATE TABLE t (i INTEGER, v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        by_duckdb = con.sql(f"SELECT {cents_sql('v')} AS c FROM t ORDER BY i").fetchall()

    spark_column = [r.c for r in by_column]
    assert spark_column == [r.c for r in by_spark_sql] == [r[0] for r in by_duckdb]
    # every x.xx5 probe times 100 is an exact half except 1.005 and 0.285
    # (just below one); exact halves round away from zero on every engine
    assert spark_column == [
        13, -13, 100, 268, -268, 28, 1, -1, 123456790, -100000, 0, 1000, None
    ]


def test_scratch_dir_and_drain_rules_live_in_one_module_each():
    """The per-session scratch-dir rule is spelled once, in
    debias_spark/warehouse.py, and the availableNow drain once, in
    debias_spark/streaming/incremental.py (``drain_available_now``).  A
    ``trigger(availableNow=True)`` anywhere else is a drain without the
    timeout and always-stop; a ``_WAREHOUSE`` / ``_sink_dir`` /
    ``_write_single_file`` or an ``.applicationId`` read re-derives a
    scratch dir by hand.  The four managed-table sites name catalog
    tables, not dirs, and keep one appId read each."""
    import re

    drain = re.compile(r"availableNow\s*=\s*True")
    private = re.compile(r"\b(_WAREHOUSE|_sink_dir|_write_single_file)\b")
    hits, drains = [], []
    for path in package_files():
        rel = path.relative_to(PKG).as_posix()
        for i, line in enumerate(path.read_text().splitlines(), 1):
            where = f"{rel}:{i}: {line.strip()}"
            if drain.search(line):
                drains.append(where)
                if rel != "streaming/incremental.py":
                    hits.append(where)
            if private.search(line):
                hits.append(where)
    assert not hits, "scratch-dir or drain rule re-copied:\n" + "\n".join(hits)
    assert len(drains) == 1, drains  # drain_available_now itself
    app_reads = functions_with(r"\.applicationId\b", package_files())
    assert sorted(app_reads) == [
        ("queries/joins.py", "build_cbo_star_tables"),
        ("queries/sink_io.py", "sink_bucketed_join_noshuffle"),
        ("queries/sink_io.py", "sink_managed_table_insert"),
        ("queries/sql_surface.py", "sql_analyze_table_stats"),
        ("warehouse.py", "scratch_dir"),
    ], app_reads


def test_drop_replay_lives_in_one_module():
    """The drop-replay skeleton (id-range slicing, one-file drop staging,
    the narrow drain and its batch-count proof) is spelled once, in
    debias_spark/streaming/incremental.py.  A query module that calls
    ``drain_file_drops``, ``stage_single_file_drop`` or
    ``id_range_bounds`` itself has re-copied it instead of calling
    ``replay_drops`` / ``stage_and_drain`` / ``id_range_slices`` /
    ``stage_drops``."""
    banned = {"drain_file_drops", "stage_single_file_drop", "id_range_bounds"}
    hits = [
        f"{path.name}:{node.lineno}"
        for path in package_files("queries")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) in banned
    ]
    assert hits == [], "drop-replay skeleton re-copied in queries/:\n" + "\n".join(hits)


def test_session_conf_writes_live_in_one_module():
    """Session confs are written only by debias_spark/session.py
    (``pinned_confs`` and ``ensure_runtime_confs``); a ``conf.set(`` or
    ``conf.unset(`` anywhere else under debias_spark/ is a hand-rolled
    save/set/restore, and ``_RUNTIME_CONFS`` was the duplicate of
    ``session._BASE_CONF``."""
    import re

    write = re.compile(r"conf\.(set|unset)\(")
    hits = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for path in package_files()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "_RUNTIME_CONFS" in line
        or (write.search(line) and path.name != "session.py")
    ]
    assert not hits, "session conf written outside session.py:\n" + "\n".join(hits)


def test_pipeline_reuses_results_through_staged_writes_only():
    """The annotated corpus is reused through one committed Parquet write
    (``run_pipeline``'s ``_annotated/``), never through the cache manager
    or executor-local blocks: a ``.cache(``, ``.persist(`` or
    ``localCheckpoint(`` in pipeline.py, report.py, sources/ or annotate/
    could serve an earlier run's rows for an identical plan, or lose them
    with an executor."""
    import re

    reuse = re.compile(r"\.cache\(|\.persist\(|localCheckpoint\(")
    paths = [p for part in ("pipeline.py", "report.py", "sources", "annotate")
             for p in package_files(part)]
    hits = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for path in paths
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if reuse.search(line)
    ]
    assert not hits, "pipeline result reused without a staged write:\n" + "\n".join(hits)


def test_pipeline_reads_small_inputs_as_one_partition_in_one_place():
    """The paper pipeline's small-input rule (read an input at or below
    AQE's minimum partition size as one partition) is spelled once, in
    ``sources.small_input.one_partition_if_small``.  A ``.coalesce(1)``
    anywhere else in pipeline.py, report.py, cli.py, dashboard.py,
    sources/ or annotate/ is an unconditional single partition, which a
    writer must never take (``warehouse.swap_state_write``) and a large
    input must never get."""
    paths = [p for part in ("pipeline.py", "report.py", "cli.py", "dashboard.py",
                            "sources", "annotate")
             for p in package_files(part)]
    sites = set(functions_with(r"\.coalesce\(\s*1\s*\)", paths))
    assert sites == {("sources/small_input.py", "one_partition_if_small")}, sites


def test_key_order_lives_in_one_table():
    """registry.KEY_MODULES is the one statement of the key order:
    queries/__init__.py imports no module (an eager import list there
    would be a second order), every ``@register(`` key under queries/
    sits in the table exactly once under its own file's module, and in a
    fresh interpreter, after a full load, everything that reaches the
    driver follows the table: ``load_all_queries()`` iterates in table
    order, ``__spark_entry__.queries()`` / ``oracle_sql()`` iterate in
    ``priority_ordered()`` order, and QUERIES / ORACLES hold exactly the
    table's keys and oracled keys.  QUERIES and ORACLES are caches filled
    in import order, which is module order, not key order."""
    import subprocess
    import sys

    from debias_spark.registry import KEY_MODULES

    init = ast.parse((PKG / "queries" / "__init__.py").read_text())
    assert not [n for n in ast.walk(init) if isinstance(n, (ast.Import, ast.ImportFrom))]
    found = []
    for path in package_files("queries"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.FunctionDef):
                found += [
                    (dec.args[0].value, path.stem)
                    for dec in node.decorator_list
                    if isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "register"
                ]
    assert len(found) == len({k for k, _ in found}), "a key is registered twice"
    assert sorted(found) == sorted(KEY_MODULES.items())
    load = (
        "import __spark_entry__ as entry\n"
        "from debias_spark import registry\n"
        "specs = registry.load_all_queries()\n"
        "list(specs.values())\n"
        "assert list(specs) == list(registry.KEY_MODULES)\n"
        "assert set(registry.QUERIES) == set(registry.KEY_MODULES)\n"
        "assert set(registry.ORACLES) == {k for k, s in specs.items() if s.oracle}\n"
        "order = list(registry.priority_ordered())\n"
        "assert list(entry.queries()) == order\n"
        "assert list(entry.oracle_sql()) == [k for k in order if specs[k].oracle]\n"
    )
    subprocess.run([sys.executable, "-c", load], cwd=ROOT, check=True)


def test_query_caches_are_read_only_by_the_registry():
    """QUERIES and ORACLES fill in import order, so code that iterates
    them sees module order, not key order.  Outside registry.py and
    tests/, the only use allowed is ``.clear()`` (perfbench's restart);
    everything else reads keys through ``load_all_queries()``."""
    paths = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    paths += [p for part in ("perfbench", "tools") for p in package_files(part, root=ROOT)]
    paths += [p for p in package_files() if p.name != "registry.py"]
    bad = []
    for path in paths:
        tree = ast.parse(path.read_text())
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            name = getattr(node, "id", getattr(node, "attr", None))
            if name not in ("QUERIES", "ORACLES"):
                continue
            up = parent.get(node)
            if not (isinstance(up, ast.Attribute) and up.attr == "clear"):
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert bad == [], bad


def test_query_modules_are_named_by_family():
    """Query modules are named for what they hold, not for when they were
    added: no module name ends in a digit, none runs past 2,500 lines,
    and every KEY_MODULES value names a module that exists."""
    from debias_spark.registry import KEY_MODULES

    paths = package_files("queries")
    stems = {p.stem for p in paths}
    assert [s for s in stems if s[-1].isdigit()] == []
    long = {p.name: n for p in paths if (n := len(p.read_text().splitlines())) > 2500}
    assert long == {}
    assert set(KEY_MODULES.values()) <= stems, set(KEY_MODULES.values()) - stems


def test_query_modules_are_leaves():
    """No file under queries/ imports from the queries package — not at
    module top, not inside a function, not by a relative import — so
    reading a key imports exactly one query module and KEY_MODULES' order
    needs no import-order rule.  Code two keys share lives in operators/
    or warehouse.py."""
    bad = []
    for path in package_files("queries"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [
                    f"{node.module}.{a.name}" for a in node.names
                ]
                if node.level or any(
                    n == "debias_spark.queries" or n.startswith("debias_spark.queries.")
                    for n in names
                ):
                    bad.append(f"{path.name}:{node.lineno}")
            elif isinstance(node, ast.Import):
                if any(a.name.startswith("debias_spark.queries") for a in node.names):
                    bad.append(f"{path.name}:{node.lineno}")
    assert bad == []


def test_temp_views_and_tokenizer_live_in_one_place_each():
    """Keys hand frames to Spark SQL as arguments (``spark.sql(text,
    **frames)``), so a temp view is registered only by
    ``catalog.register_views`` (the bare table names user SQL reads) and
    ``session.temp_views`` (a view that must outlive one statement).  The
    Spark word tokenizer is spelled once, as ``dedup.word_tokens``; the
    one other ``F.split(F.lower(`` is text_ngram_counts, which trims
    first and so plans differently."""
    views = {"createOrReplaceTempView", "createTempView", "createGlobalTempView",
             "createOrReplaceGlobalTempView", "registerTempTable"}
    view_sites = []
    for path in package_files():
        rel = str(path.relative_to(PKG))
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and node.attr in views:
                    view_sites.append((rel, fn.name))
    assert sorted(view_sites) == [
        ("catalog.py", "register_views"),
        ("session.py", "temp_views"),
    ], view_sites
    split_sites = functions_with(r"F\.split\(F\.lower\(", package_files())
    assert split_sites == [
        ("operators/dedup.py", "word_tokens"),
        ("queries/text.py", "text_ngram_counts"),
    ], split_sites


def test_no_oracle_rounds_a_double_mean():
    """Regression guard for the rounding-tie class (round-5 Y33): Spark's
    round() HALF_UPs the shortest-decimal repr while DuckDB rounds the
    binary double, so `round(avg(<double>))` oracle pairs diverge whenever
    the mean lands on an exact .xx5 decimal tie.  The sanctioned emission
    is the floor-eps integer rule of debias_spark/numeric.py
    (`floor_eps` / `floor_eps_sql`) — assert no declared oracle still
    carries the fragile form (stddev/var share the same many-term-double
    risk)."""
    import re

    fragile = re.compile(r"round\s*\(\s*(avg|mean|stddev|var_samp|var_pop)\s*\(", re.I)
    bad = [
        name
        for name, spec in load_all_queries().items()
        if spec.oracle is not None and fragile.search(spec.oracle)
    ]
    assert not bad, f"oracles still using round(avg/stddev(...)): {bad}"


def test_no_oracle_exceeds_runtime_ceiling():
    """Execute every oracle at sf0.01 (the driver's own t2 scale) and
    assert none takes more than 5 s.  This is the regression guard for
    the round-4 CTE-inlining class: DuckDB re-evaluates an inlined CTE
    per reference, so an unrolled iterative oracle whose round CTEs are
    multi-referenced blows up exponentially in rounds (k-core measured
    112 s, BPE 9.3 s — both now AS MATERIALIZED and ~0.1 s).  Normal
    oracles run well under 1 s at this scale; 5 s leaves margin for a
    loaded host while still catching any exponential chain."""
    import time

    from debias_spark.testing import duck_connection

    con = duck_connection("/root/testdata/sf0.01")
    slow = []
    for name, spec in load_all_queries().items():
        if spec.oracle is None:
            continue
        t0 = time.perf_counter()
        con.sql(spec.oracle).fetchall()
        dt = time.perf_counter() - t0
        if dt > 5.0:
            # the ceiling is load-sensitive: a legitimately ~1s oracle can
            # flake past 5s on a busy host.  The exponential-blowup class
            # this guards against (k-core 112s, BPE 9.3s pre-MATERIALIZED)
            # doesn't pass on retry — so retry once before declaring slow.
            t0 = time.perf_counter()
            con.sql(spec.oracle).fetchall()
            dt = time.perf_counter() - t0
            if dt > 5.0:
                slow.append((name, round(dt, 2)))
    assert not slow, f"oracles over the 5s ceiling at sf0.01 (after retry): {slow}"


def test_floor_eps_oracles_keep_boundary_margin(sf_dir):
    """The Y33 rounding-tie regression gate, generalized: no oracle that
    emits integers via `floor_eps_sql` (debias_spark/numeric.py) may have
    a TRANSCENDENTAL-math value within 2e-9 of a floor boundary on the
    current testdata (Java Math.log and C libm can disagree in the last
    ulp, so a near-boundary log-derived value could floor differently
    per engine).  Rational near-boundary hits are the benign exact-tie
    class — both engines evaluate them bit-identically and the eps
    breaks the tie consistently — and are reported, not failed, by
    tools/float_margin_audit.py.  The audit must cover every oracle that
    carries the helper's fragment, so it can never pass vacuously."""
    import os
    import sys

    from debias_spark.numeric import floor_eps_sql

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.float_margin_audit import audit

    tail = floor_eps_sql("x").split("(x)", 1)[1]  # " + <eps>) AS BIGINT)"
    n_floor_eps = sum(
        1 for s in load_all_queries().values() if s.oracle and tail in s.oracle
    )
    fragile, _ties, n_audited = audit(sf_dir)
    assert n_audited == n_floor_eps > 0, (n_audited, n_floor_eps)
    assert not fragile, (
        f"transcendental floor-eps oracles within 2e-9 of a boundary: "
        f"{fragile} — widen the emission scale or restate the formula "
        f"over integers (see tools/float_margin_audit.py)"
    )


def test_changed_entries_drain_once_reproven():
    """A CHANGED_SINCE_CHECK entry stops consuming a window slot as soon
    as a CORRECTNESS round >= its recorded round shows the key green —
    the manual-drain failure mode cannot waste round-N+1 slots."""
    specs = load_all_queries()
    ev = _correctness_evidence()
    any_key = next(iter(CHANGED_SINCE_CHECK))
    need = CHANGED_SINCE_CHECK[any_key]
    fake_ev = dict(ev)
    fake_ev[any_key] = (
        need,
        0,
        {"err": None, "rows_match": True, "schema_match": True, "hash_match": True,
         "spark_rows": 1, "oracle_rows": 1},
    )
    assert any_key in changed_pending(specs, ev) or (
        any_key in ev
        and ev[any_key][0] >= need
        and _record_green(ev[any_key][2], specs[any_key].oracle is not None)
    )
    assert any_key not in changed_pending(specs, fake_ev)
    # and a pre-change green does NOT satisfy it
    stale_ev = dict(fake_ev)
    stale_ev[any_key] = (need - 1, 0, fake_ev[any_key][2])
    assert any_key in changed_pending(specs, stale_ev)


def test_registry_surface_masks_per_run_names(sf_dir):
    """tools/registry_surface.py is the identity gate for refactors: its
    line for a key must not change from one run to the next.
    sink_bucketed_join_noshuffle's plan names catalog tables after the
    application id, which differs per run and which the mask must hide.
    Each run is its own interpreter and Spark application, so this
    test's session is left as it was."""
    import subprocess
    import sys

    from debias_spark.registry import KEY_MODULES

    keys = ["sink_bucketed_join_noshuffle", "tpch_q3_shipping_priority"]
    cmd = [sys.executable, "tools/registry_surface.py", sf_dir, "--only", ",".join(keys)]
    runs = [
        [line.split("\t") for line in subprocess.run(
            cmd, cwd=ROOT, check=True, capture_output=True, text=True
        ).stdout.splitlines()]
        for _ in range(2)
    ]
    first, second = runs
    assert [r[0] for r in first] == keys + ["priority_ordered", "oracle_sql"], first
    assert first[len(keys):] == second[len(keys):]
    specs = load_all_queries()
    for key, a, b in zip(keys, first, second):
        assert a[:6] == b[:6], (a, b)
        assert a[:4] == [key, KEY_MODULES[key], specs[key].section, str(specs[key].bench)]
        assert len(a[5]) == 16 and a[6].isdigit(), a
