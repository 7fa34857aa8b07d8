"""The registry imports a query module the first time one of its keys is
read.  These tests pin what that relies on: importing a module touches no
session state, a restart that drops the modules and empties the registry
(perfbench's set-up loop) loads them again, a half restart fails by name,
a key registered twice still fails, and the CLI and driver entry points
import only the module of the key they run."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import subprocess
import sys
import textwrap
import types

import pytest

import debias_spark
from debias_spark import registry
from debias_spark.registry import KEY_MODULES, QUERY_PACKAGE, load_all_queries
from debias_spark.testing import compare_to_oracle

ROOT = pathlib.Path(__file__).resolve().parent.parent
KEY = "filter_equality"


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _query_modules() -> set[str]:
    return {m for m in sys.modules if m.startswith(QUERY_PACKAGE + ".")}


@pytest.fixture
def isolated_registry():
    """Put the query modules, the package attribute and the registry dicts
    back as they were, so later tests see the objects they imported."""
    list(load_all_queries().values())
    modules = {m: sys.modules[m] for m in sys.modules if m.startswith(QUERY_PACKAGE)}
    package = debias_spark.queries
    queries, oracles = dict(registry.QUERIES), dict(registry.ORACLES)
    yield
    for m in [m for m in sys.modules if m.startswith(QUERY_PACKAGE)]:
        del sys.modules[m]
    sys.modules.update(modules)
    debias_spark.queries = package
    registry.QUERIES.clear()
    registry.QUERIES.update(queries)
    registry.ORACLES.clear()
    registry.ORACLES.update(oracles)


def test_import_has_no_session_side_effects(spark, monkeypatch):
    """Each module, executed alone into an empty registry, registers
    exactly its table keys in table order and leaves the session conf and
    the temporary views as it found them.  (The registry now imports a
    module inside whatever window first reads its key, e.g.
    test_oracle_parity's per-key conf and view check.)"""
    list(load_all_queries().values())  # a module's own imports are loaded
    conf, views = spark.conf.getAll, _temp_views(spark)
    for short in dict.fromkeys(KEY_MODULES.values()):
        monkeypatch.setattr(registry, "QUERIES", {})
        monkeypatch.setattr(registry, "ORACLES", {})
        spec = importlib.util.find_spec(f"{QUERY_PACKAGE}.{short}")
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
        assert list(registry.QUERIES) == [k for k, m in KEY_MODULES.items() if m == short]
        assert spark.conf.getAll == conf, short
        assert _temp_views(spark) == views, short


def test_restart_reloads_modules(spark, sf_dir, isolated_registry):
    """perfbench's restart: drop every query module, empty QUERIES and
    ORACLES, then read a key through a new load_all_queries()."""
    before = load_all_queries()[KEY]
    for m in [m for m in sys.modules if m.startswith(QUERY_PACKAGE)]:
        del sys.modules[m]
    registry.QUERIES.clear()
    registry.ORACLES.clear()
    specs = load_all_queries()
    assert not _query_modules()
    spec = specs[KEY]
    assert spec is not before and spec.oracle == before.oracle
    assert _query_modules() == {f"{QUERY_PACKAGE}.{KEY_MODULES[KEY]}"}
    assert registry.ORACLES[KEY] == spec.oracle
    compare_to_oracle(spec.fn(spark, sf_dir), spec.oracle, sf_dir)


def test_emptied_registry_with_loaded_module_names_the_key(isolated_registry):
    """Emptying QUERIES but leaving the modules imported (half of the
    restart) fails on first read with an error that names the key."""
    registry.QUERIES.clear()
    registry.ORACLES.clear()
    with pytest.raises(LookupError, match=f"query key '{KEY}'"):
        load_all_queries()[KEY]


def test_unknown_key_is_a_key_error():
    specs = load_all_queries()
    assert "no_such_key" not in specs
    assert specs.get("no_such_key") is None
    with pytest.raises(KeyError):
        specs["no_such_key"]


def test_duplicate_key_across_modules_raises(isolated_registry):
    body = textwrap.dedent(
        """
        from debias_spark.registry import register

        @register({key!r}, "T0", None)
        def probe(spark, sf_dir):
            raise AssertionError("never run")
        """
    )
    first = types.ModuleType("dup_probe_a")
    exec(body.format(key="dup_probe_key"), first.__dict__)
    with pytest.raises(ValueError, match="duplicate query key 'dup_probe_key'"):
        exec(body.format(key="dup_probe_key"), types.ModuleType("dup_probe_b").__dict__)
    with pytest.raises(ValueError, match=f"duplicate query key '{KEY}'"):
        exec(body.format(key=KEY), types.ModuleType("dup_probe_c").__dict__)


def _fresh_modules(script: str) -> list[str]:
    """Run ``script`` in a fresh interpreter; it prints one JSON line last."""
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=ROOT,
        check=True,
        capture_output=True,
        text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


_MODULES = "sorted(m for m in sys.modules if m.startswith('debias_spark.queries.'))"


def test_load_all_queries_imports_no_module():
    assert _fresh_modules(
        f"""
        import json, sys
        from debias_spark.registry import load_all_queries
        specs = load_all_queries()
        assert len(specs) == {len(KEY_MODULES)} and {KEY!r} in specs
        print(json.dumps({_MODULES}))
        """
    ) == []


def test_cli_query_imports_only_its_module(sf_dir):
    """The CLI runs one key with one query module imported; and reading
    the keys whose modules used to import siblings (IVF-PQ helpers, the
    corpus-build oracle) imports exactly their own module too."""
    assert _fresh_modules(
        f"""
        import json, sys
        from debias_spark import cli
        assert cli.main(["--query", {KEY!r}, "--sf-dir", {sf_dir!r}, "--limit", "1"]) == 0
        print(json.dumps({_MODULES}))
        """
    ) == [f"{QUERY_PACKAGE}.{KEY_MODULES[KEY]}"]
    for key in (
        "similarity_ann_ivfpq_compacted",
        "similarity_ann_ivfpq_tombstone",
        "pipeline_corpus_build_incremental",
    ):
        assert _fresh_modules(
            f"""
            import json, sys
            from debias_spark.registry import load_all_queries
            assert load_all_queries()[{key!r}].oracle
            print(json.dumps({_MODULES}))
            """
        ) == [f"{QUERY_PACKAGE}.{KEY_MODULES[key]}"], key


def test_driver_entry_imports_only_its_module():
    assert _fresh_modules(
        f"""
        import json, sys
        import __spark_entry__
        from debias_spark.session import get_spark
        df = __spark_entry__.entry(get_spark("entry-imports"))
        assert df.columns
        print(json.dumps({_MODULES}))
        """
    ) == [f"{QUERY_PACKAGE}.annotate_queries"]
