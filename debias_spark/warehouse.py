"""Warehouse hygiene for per-session sink/state directories.

The scratch-dir rule, stated once here: a key's transient sink, state
and checkpoint dirs are ``{stem}_{sf}_{appId}`` under
``warehouse_root()/io_roundtrip`` (``scratch_dir``).  The Spark
applicationId suffix means concurrent runs of one key at one sf (bench
alongside a correctness sweep) never share a write/read-back path.  The
cost of that isolation is that nothing overwrites in place anymore, so
every ``scratch_dir`` call prunes the stem's stale siblings at the same
sf (``prune_stale_siblings``); without the prune, spark-warehouse/ grows
without bound across runs.  Dirs that must start empty (state and
checkpoint dirs: a stale checkpoint marks the input already processed)
come from ``fresh_scratch_dirs``.

``prune_stale_siblings`` is best effort: before a session writes
``{prefix}{appId}``, it removes sibling dirs with the same prefix but a
DIFFERENT appId that have been idle for ``max_age_s``.  The age gate
keeps the prune from racing a live concurrent session, whose dir is a
seconds-old transient intermediate (written then read back within a
single key invocation).  The prefix is the known ``{stem}_{sf}_``, never
re-derived by splitting a dir name: YARN appIds
(``application_<ts>_<n>``) contain underscores.
"""

from __future__ import annotations

import os
import shutil
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def warehouse_root() -> str:
    """Root for transient sink/state dirs.  Defaults to the in-repo
    ``spark-warehouse/``; ``DEBIAS_WAREHOUSE_DIR`` points it elsewhere —
    the bench band protocol sets it to a tmpfs path (e.g. under
    /dev/shm) so file-staging keys stop timing the host's disk
    contention instead of the engine (r12 verdict item 4: 24/368 keys
    had band width > 2x floor, concentrated in staging keys).
    Correctness is path-independent; the driver's own runs keep the
    default."""
    env = os.environ.get("DEBIAS_WAREHOUSE_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    return os.path.join(_REPO_ROOT, "spark-warehouse")


def scratch_root() -> str:
    """Parent of every per-session scratch dir (``scratch_dir``)."""
    return os.path.join(warehouse_root(), "io_roundtrip")


def scratch_dir(spark, sf_dir: str, stem: str) -> str:
    """``{stem}_{sf}_{appId}`` under ``scratch_root()``, after pruning
    the stem's stale siblings at the same sf.  Does not clear the dir."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    app = spark.sparkContext.applicationId
    root = scratch_root()
    prune_stale_siblings(root, f"{stem}_{tag}_", f"{stem}_{tag}_{app}")
    return os.path.join(root, f"{stem}_{tag}_{app}")


def fresh_scratch_dirs(spark, sf_dir: str, *stems: str) -> tuple[str, ...]:
    """``scratch_dir`` for each stem, each removed so it starts empty."""
    dirs = tuple(scratch_dir(spark, sf_dir, stem) for stem in stems)
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    return dirs


def prune_stale_siblings(
    base: str, prefix: str, keep: str, max_age_s: float = 6 * 3600.0
) -> None:
    """Best-effort removal of ``base/{prefix}*`` dirs other than ``keep``
    that have been idle longer than ``max_age_s`` seconds.  Never raises.

    The default age is deliberately LONG (hours, not minutes): a live
    concurrent session may return a lazily-evaluated plan over its sink
    (e.g. a catalog table whose DataFrame the caller reads much later),
    and a short idle window would let this prune delete it mid-read —
    a confusing FileNotFound instead of a stale-dir cleanup.  Six hours
    outlives any single session here while still bounding growth across
    rounds."""
    try:
        now = time.time()
        for d in os.listdir(base):
            if not d.startswith(prefix) or d == keep:
                continue
            p = os.path.join(base, d)
            try:
                if now - os.path.getmtime(p) > max_age_s:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                continue
    except OSError:
        pass


def count_parquet_files(root: str) -> int:
    """Number of ``*.parquet`` files anywhere under ``root``."""
    return sum(
        1 for _, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )


def _swap_in(staging: str, state_dir: str) -> None:
    """Rename the written ``staging`` dir over ``state_dir``: the old
    state (if any) moves aside to ``<state_dir>.old``, staging takes its
    name, then the old copy is removed.  Two renames, not one atomic
    replace: between them the target briefly does not exist, so this
    assumes a SINGLE writer and no concurrent reader (true for the
    foreachBatch loops that call it — Spark serializes batches).  A
    multi-reader deployment needs a transactional table format instead
    of directory swaps."""
    old = state_dir + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(state_dir):
        os.rename(state_dir, old)
    os.rename(staging, state_dir)
    shutil.rmtree(old, ignore_errors=True)


def swap_state_write(frame, state_dir: str) -> None:
    """Atomically replace a state directory: parallel multi-file write to
    ``<state_dir>.staging`` (the frame keeps whatever partitioning its
    producing plan left — never coalesce(1), the r8 verdict's
    single-writer bottleneck), then rename-swap so readers never see a
    half-written state.  The survivor state of the incremental-pipeline
    keys (Z65/Z71, ``operators.dedup.merge_survivor_state``) is written
    this way; at 100 TB this becomes MERGE INTO a transactional table
    (X73's contract) and the swap disappears."""
    staging = state_dir + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    frame.write.parquet(staging)
    _swap_in(staging, state_dir)


def compact_partitioned_state(
    spark, state_dir: str, schema, partition_col: str, n_partitions: int
) -> tuple[int, int]:
    """Rewrite an append-only hive-partitioned state dir into few files
    per partition (one shuffle on the partition key) via a staging +
    rename swap (``_swap_in``), so readers never see a HALF-compacted
    state.  Returns (files_before, files_after) for the caller's proof
    guard.  ``schema`` is the schema the state was written with, so the
    read runs no schema-inference job.  This is Z73's maintenance
    operation packaged for the streaming loops whose state grows by
    per-batch appends (Z68); at 100 TB it runs as a background job per
    partition range against a transactional table."""
    before = count_parquet_files(state_dir)
    staging = state_dir + ".compact"
    shutil.rmtree(staging, ignore_errors=True)
    spark.read.schema(schema).parquet(state_dir).repartition(
        n_partitions, partition_col
    ).write.partitionBy(partition_col).parquet(staging)
    _swap_in(staging, state_dir)
    return before, count_parquet_files(state_dir)


def stage_single_file_drop(df, src_dir: str, name: str, mtime: float | None = None) -> None:
    """Write ``df`` as ONE parquet file ``<src_dir>/<name>`` (a staged
    landing-zone drop for the file-stream pipeline keys), optionally
    pinning its mtime so FileStreamSource's oldest-first ordering
    replays a chosen arrival order."""
    tmp = os.path.join(src_dir + f".tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
    )
    dst = os.path.join(src_dir, name)
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp, ignore_errors=True)
    if mtime is not None:
        os.utime(dst, (mtime, mtime))
