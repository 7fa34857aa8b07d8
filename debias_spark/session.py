"""SparkSession factory.

Local testing runs on local[$SPARK_GRAFT_CPUS] (default all cores); the same
config block is what we would ship to a 1000-executor cluster: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), Arrow for every
Python<->JVM exchange, nested-schema pruning for the annotation structs.
Only the master URL and memory sizing are local-mode artifacts.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

APP_NAME = "debias-spark"

# Scale posture (SURVEY §6): these settings are chosen for correctness at
# local scale AND sanity at cluster scale.  shuffle.partitions=32 matches
# local[32]; on a real cluster AQE coalesces the initial number downward, so
# a larger initial value (e.g. 2000) with AQE is the production setting —
# documented here rather than hard-coded because the driver pins local[32].
_BASE_CONF = {
    # The driver harness builds its own session (Spark default: 200 shuffle
    # partitions), so ensure_runtime_confs re-applies this at first catalog
    # access.  At correctness-gate scale (sf0.01) 200-task shuffles are pure
    # scheduling overhead across ~116 queries; 32 matches local[32].  On a
    # real cluster this would come from the session, not here.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Annotator batches (SURVEY F1): the reference batches one whole file per
    # API call; we batch by Arrow record batch instead.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Nested-schema pruning so tag-struct projections prune at the scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # InferFiltersFromConstraints substitutes computed columns into inferred
    # isnotnull filters, inlining expensive expressions (sketch fingerprints
    # are interpreted higher-order lambdas) several times per row below the
    # projection that computes them.  Our plans carry explicit filters, so
    # inferred constraints only cost here.
    "spark.sql.constraintPropagation.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # Some testdata generations carry events.ts as TIMESTAMP(NANOS), which
    # Spark has no native type for: read as epoch-nanos long, and
    # catalog.py rebuilds a timestamp_ntz column (exact integer arithmetic,
    # no double round-trip).  Harmless for µs-timestamp generations, where
    # catalog.py detects the timestamp dtype and skips the rebuild.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = APP_NAME, extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the session.  Honors $SPARK_GRAFT_CPUS for local[N]."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # shuffle/spill scratch: the bench band protocol points this at tmpfs
    # (DEBIAS_LOCAL_DIR=/dev/shm/...) so spill IO stops timing co-tenant
    # disk contention; default (unset) keeps Spark's own /tmp behavior
    local_dir = os.environ.get("DEBIAS_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply the ``spark.sql.*`` entries of ``_BASE_CONF`` (the ones
    settable at runtime) so the engine behaves the same under a session
    it did not build, e.g. the driver harness's own.  Every
    ``catalog.table`` read calls it; a key this deployment refuses is
    skipped."""
    for k, v in _BASE_CONF.items():
        if not k.startswith("spark.sql."):
            continue
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment: keep going


@contextmanager
def pinned_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the duration of the block, then
    restore each key to its previous value, unsetting a key that was
    unset before (never leaving it explicitly set to a default).  The
    restore runs on error too.  This is the one rule for session-conf
    writes in the engine: a key may change session confs only for the
    duration of its own work, so a caller that needs its result to
    reflect the pinned confs materializes it inside the block.

    SERIAL-SESSION ASSUMPTION: mutating session conf is only safe
    because the bench and the driver run keys SERIALLY in one session.
    Any future concurrent execution of keys in a shared session must
    replace this with per-query settings (per-write repartition(n),
    hints, reader options), not share a session-level pin."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def temp_views(spark: SparkSession, **frames: DataFrame) -> Iterator[None]:
    """Register each frame as a temp view under its keyword name for the
    duration of the block, then drop it; the drop runs on error too.
    This is the one rule for session-catalog writes in the engine: a key
    hands frames to SQL as arguments, ``spark.sql(text, **frames)``,
    whose formatter names each frame freshly and drops it once the
    statement is analyzed.  Only a view that must outlive one statement
    (a bound ``IDENTIFIER(:t)`` name, a SQL function body, ``CACHE
    TABLE ... AS``, query text held in a variable) comes through here,
    and it is gone when the block ends; the bare catalog names belong to
    ``catalog.register_views`` alone."""
    try:
        for name, df in frames.items():
            df.createOrReplaceTempView(name)
        yield
    finally:
        for name in frames:
            spark.catalog.dropTempView(name)
