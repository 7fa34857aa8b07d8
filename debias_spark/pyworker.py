"""Python daemon for the engine's sessions: ``pyspark.daemon`` with the
per-process state set up once in the daemon instead of once per task.

Two fixed costs of every Python task are per-process work done again per
task:

- Every task starts in ``pyspark.worker_util.setup_spark_files``, which
  ends in ``importlib.invalidate_caches()``.  Under CPython 3.11 that makes
  every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
  its archive's central directory, and a worker holds about 16 of them
  over ``pyspark.zip``, the py4j zip and the spark-core jar (5,359
  entries), the archives ``PythonUtils.sparkPythonPath`` puts on the path.
  Those archives do not change while a worker lives, and a zip added with
  ``addPyFile`` is a new path entry with a new finder, so the re-read only
  costs.
- A reused worker runs ``gc.collect()`` after every task, which walks
  every tracked object, the modules the daemon imported before it forked
  included.

``session.get_spark`` makes this module its sessions' Python daemon.
Before the daemon starts forking workers it puts ``ArchiveImporter`` in
place of ``zipimporter``, both as the path hook and as every zip finder
already cached, and freezes its own objects out of the collector's
reach (``gc.freeze``); the forked workers inherit both (SCALE.md, "The
Python-task floor").
"""

from __future__ import annotations

import gc
import sys
import zipimport


class ArchiveImporter(zipimport.zipimporter):
    """A zip finder that keeps the directory it read at construction."""

    def invalidate_caches(self) -> None:
        pass


def install() -> None:
    """Make ``ArchiveImporter`` the zip path hook and the class of every
    cached zip finder.  A new finder takes its directory from
    ``zipimport._zip_directory_cache``, so the swap reads no archive."""
    sys.path_hooks[:] = [
        ArchiveImporter if hook is zipimport.zipimporter else hook for hook in sys.path_hooks
    ]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[entry] = ArchiveImporter(entry)


def freeze() -> None:
    """Move everything the daemon holds now into the collector's permanent
    generation, so a worker's per-task ``gc.collect()`` walks only what the
    worker made itself (and does not write to the pages it shares with the
    daemon).  What is frozen is the daemon's imported modules, which live
    as long as the process anyway."""
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    from pyspark import daemon

    install()
    freeze()
    daemon.manager()
