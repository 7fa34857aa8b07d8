"""Driver-contract invariants: the priority ordering the driver consumes is
DERIVED from the committed CORRECTNESS_r*.json artifacts (round-8 rebuild of
the twice-stale hand-maintained list), so these tests pin the derivation:
every unproven key must lead the 50-key window, failures and changed keys
must precede greens, and the order must stay a total permutation of the
registry."""

from __future__ import annotations

from debias_spark.registry import (
    CHANGED_SINCE_CHECK,
    DEFERRED_NEW_KEYS,
    _correctness_evidence,
    _record_green,
    changed_pending,
    load_all_queries,
    priority_ordered,
)


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
    so an unproven key behind a proven one is a wasted round of evidence.
    Keys in DEFERRED_NEW_KEYS are the sanctioned exception: built after
    the window filled, they slot after the failed/changed re-proofs but
    still before every green."""
    specs = load_all_queries()
    ev = _correctness_evidence()
    never = {k for k in specs if k not in ev} - set(DEFERRED_NEW_KEYS)
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
    """(new + failed + changed), excluding the consciously DEFERRED new
    keys, must fit the driver's 50-key window; a 51st unproven key would
    otherwise silently wait a full round — flag it here so the builder
    either trims CHANGED_SINCE_CHECK or defers the key explicitly."""
    specs = load_all_queries()
    ev = _correctness_evidence()
    pending = set(changed_pending(specs, ev))
    needing = [
        k
        for k in specs
        if (k not in ev and k not in DEFERRED_NEW_KEYS)
        or (
            k in ev
            and not _record_green(ev[k][2], specs[k].oracle is not None)
        )
        or (k in ev and k in pending)
    ]
    assert len(needing) <= 50, (
        f"{len(needing)} keys need driver proof but the window holds 50: "
        f"defer new keys (DEFERRED_NEW_KEYS) or trim CHANGED_SINCE_CHECK"
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
    import pathlib
    import re

    copy = re.compile(r"0\.5\s*\+\s*1e-9|0\.500000001|\b_?eps\s*=(?!=)", re.I)
    pkg = pathlib.Path(__file__).resolve().parent.parent / "debias_spark"
    hits = [
        f"{path.relative_to(pkg)}:{i}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "numeric.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if copy.search(line)
    ]
    assert not hits, "floor-eps rule re-copied outside numeric.py:\n" + "\n".join(hits)


def test_scratch_dir_and_drain_rules_live_in_one_module_each():
    """The per-session scratch-dir rule is spelled once, in
    debias_spark/warehouse.py, and the availableNow drain once, in
    debias_spark/streaming/incremental.py (``drain_available_now``).  A
    ``trigger(availableNow=True)`` anywhere else is a drain without the
    timeout and always-stop; a ``_WAREHOUSE`` / ``_sink_dir`` /
    ``_write_single_file`` or an ``.applicationId`` read re-derives a
    scratch dir by hand.  The four managed-table sites name catalog
    tables, not dirs, and keep their own appId read."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "debias_spark"
    drain = re.compile(r"availableNow\s*=\s*True")
    private = re.compile(r"\b(_WAREHOUSE|_sink_dir|_write_single_file)\b")
    app_id = re.compile(r"\.applicationId\b")
    table_name_sites = {
        "queries/io_roundtrip.py",
        "queries/io_roundtrip3.py",
        "queries/relational_ext34.py",
        "queries/relational_ext41.py",
    }
    hits, drains, app_reads = [], [], {}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for i, line in enumerate(path.read_text().splitlines(), 1):
            where = f"{rel}:{i}: {line.strip()}"
            if drain.search(line):
                drains.append(where)
                if rel != "streaming/incremental.py":
                    hits.append(where)
            if private.search(line):
                hits.append(where)
            if app_id.search(line):
                app_reads[rel] = app_reads.get(rel, 0) + 1
                if rel not in table_name_sites | {"warehouse.py"}:
                    hits.append(where)
    assert not hits, "scratch-dir or drain rule re-copied:\n" + "\n".join(hits)
    assert len(drains) == 1, drains  # drain_available_now itself
    assert all(app_reads.get(rel) == 1 for rel in table_name_sites), app_reads


def test_session_conf_writes_live_in_one_module():
    """Session confs are written only by debias_spark/session.py
    (``pinned_confs`` and ``ensure_runtime_confs``); a ``conf.set(`` or
    ``conf.unset(`` anywhere else under debias_spark/ is a hand-rolled
    save/set/restore, and ``_RUNTIME_CONFS`` was the duplicate of
    ``session._BASE_CONF``."""
    import pathlib
    import re

    write = re.compile(r"conf\.(set|unset)\(")
    pkg = pathlib.Path(__file__).resolve().parent.parent / "debias_spark"
    hits = [
        f"{path.relative_to(pkg)}:{i}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
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
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "debias_spark"
    reuse = re.compile(r"\.cache\(|\.persist\(|localCheckpoint\(")
    paths = [pkg / "pipeline.py", pkg / "report.py"]
    paths += sorted((pkg / "sources").rglob("*.py")) + sorted((pkg / "annotate").rglob("*.py"))
    hits = [
        f"{path.relative_to(pkg)}:{i}: {line.strip()}"
        for path in paths
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if reuse.search(line)
    ]
    assert not hits, "pipeline result reused without a staged write:\n" + "\n".join(hits)


def test_key_order_lives_in_one_table():
    """registry.KEY_MODULES is the one statement of the key order:
    queries/__init__.py imports no module (an eager import list there
    would be a second order), every ``@register(`` key under queries/
    sits in the table exactly once under its own file's module, and a
    full load in a fresh interpreter registers keys in table order."""
    import ast
    import pathlib
    import subprocess
    import sys

    from debias_spark.registry import KEY_MODULES

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "debias_spark" / "queries"
    init = ast.parse((pkg / "__init__.py").read_text())
    assert not [n for n in ast.walk(init) if isinstance(n, (ast.Import, ast.ImportFrom))]
    found = []
    for path in sorted(pkg.glob("*.py")):
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
        "from debias_spark import registry\n"
        "specs = registry.load_all_queries()\n"
        "list(specs.values())\n"
        "assert list(registry.QUERIES) == list(registry.KEY_MODULES)\n"
        "assert list(registry.ORACLES) == [k for k, s in specs.items() if s.oracle]\n"
    )
    subprocess.run([sys.executable, "-c", load], cwd=root, check=True)


def test_query_modules_are_leaves():
    """No file under queries/ imports from the queries package — not at
    module top, not inside a function, not by a relative import — so
    reading a key imports exactly one query module and KEY_MODULES' order
    needs no import-order rule.  Code two keys share lives in operators/
    or warehouse.py."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "debias_spark" / "queries"
    bad = []
    for path in sorted(pkg.glob("*.py")):
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
    import ast
    import pathlib

    views = {"createOrReplaceTempView", "createTempView", "createGlobalTempView",
             "createOrReplaceGlobalTempView", "registerTempTable"}
    pkg = pathlib.Path(__file__).resolve().parent.parent / "debias_spark"
    view_sites, split_sites = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        src = path.read_text()
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and node.attr in views:
                    view_sites.append((rel, fn.name))
        split_sites += [
            (rel, line.strip())
            for line in src.splitlines()
            if "F.split(F.lower(" in line
        ]
    assert sorted(view_sites) == [
        ("catalog.py", "register_views"),
        ("session.py", "temp_views"),
    ], view_sites
    assert split_sites == [
        ("operators/dedup.py",
         'return F.filter(F.split(F.lower(text), r"\\s+"), lambda t: t != "")'),
        ("queries/llm_ops3.py",
         'F.split(F.lower(F.trim(F.col("text"))), r"\\s+"), lambda t: t != ""'),
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
