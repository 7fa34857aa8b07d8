"""The engine's Python daemon (debias_spark/pyworker.py), seen from inside
Python tasks of a ``get_spark`` session: a task's
``importlib.invalidate_caches()`` re-reads no zip archive, imports
through the replaced zip path hook still work, and the daemon's objects
are frozen out of the per-task collection.  Object identity and the
collector's own counts, not time, are the evidence."""

from __future__ import annotations

import pandas as pd


def _in_one_task(spark, fn) -> list:
    """Run ``fn()`` in one Python task and return what it returned."""

    def task(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"out": [repr(fn())]})

    import ast

    rows = spark.range(1).coalesce(1).mapInPandas(task, "out string").collect()
    return ast.literal_eval(rows[0].out)


def test_task_invalidate_caches_rereads_no_archive(spark):
    """Every ``zipimport._zip_directory_cache`` entry is the same object
    after ``importlib.invalidate_caches()`` (a re-read would store a new
    dict), and every zip finder in ``sys.path_importer_cache`` is the
    daemon's ``ArchiveImporter``."""

    def probe():
        import importlib
        import sys
        import zipimport

        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        kinds = {
            type(finder).__qualname__
            for finder in sys.path_importer_cache.values()
            if isinstance(finder, zipimport.zipimporter)
        }
        return len(before), [k for k, v in before.items() if after.get(k) is not v], sorted(kinds)

    archives, reread, kinds = _in_one_task(spark, probe)
    assert archives > 0  # pyspark.zip at least: the check is not vacuous
    assert reread == []
    assert kinds == ["ArchiveImporter"]


def test_unimported_pyspark_package_imports_through_the_replaced_hook(spark):
    """A pyspark package the daemon never imported still imports inside a
    task from the zip on the worker's path, and the finder the path hook
    made for it is an ``ArchiveImporter``."""

    def probe():
        import importlib
        import sys

        name = next(
            (n for n in ("pyspark.streaming", "pyspark.mllib", "pyspark.testing")
             if n not in sys.modules),
            None,
        )
        if name is None:
            return None, None
        pkg = importlib.import_module(name)
        return name, type(sys.path_importer_cache[pkg.__path__[0]]).__qualname__

    name, kind = _in_one_task(spark, probe)
    assert name is not None, "every candidate package was already imported in the worker"
    assert kind == "ArchiveImporter", (name, kind)


def test_daemon_objects_are_frozen_before_the_fork(spark):
    """The worker inherits the daemon's frozen objects (its imported
    modules), so the ``gc.collect()`` that a reused worker runs after each
    task does not walk them: ``pyspark.daemon``'s ``worker`` function, which
    the daemon imported before it forked, is in the permanent generation."""

    def probe():
        import gc

        from pyspark import daemon

        frozen = gc.get_freeze_count()
        gc.collect()
        return frozen, gc.get_freeze_count(), any(o is daemon.worker for o in gc.get_objects())

    frozen, after_collect, daemon_tracked = _in_one_task(spark, probe)
    assert frozen > 10_000  # the daemon's imports, not a handful of objects
    assert after_collect == frozen
    assert not daemon_tracked  # frozen objects are out of gc.get_objects()
