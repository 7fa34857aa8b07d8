"""Structured Streaming surface (SURVEY §2.H H14-H16).

The reference's only incremental behavior is the dashboard Refresh button —
a full re-scan of the output directory per click (dashboard_widget.py:73-89).
The Spark-native answer is a file stream over the same directory: the SAME
window aggregation plan runs in batch and under readStream, and
``availableNow`` gives exactly the Refresh semantics (process everything
currently there, then stop) with checkpointed incremental state instead of
a full re-read.

Event-time columns here are TimestampType (not NTZ): watermarks and
session windows operate on event-time semantics, and the session timezone
is pinned to UTC in session.py so wall-clock values agree with the NTZ
batch tables.

The drain rule, stated once here: every availableNow query runs through
``drain_available_now``, which waits at most ``_DRAIN_TIMEOUT_S`` and
fails LOUDLY on timeout (stopping a half-drained stream would otherwise
surface as a confusing value mismatch), and always stops the query, so
a failed drain never leaks a live stream into the shared session.
``drain_file_drops`` is the landing-zone shape on top of it: one staged
file per micro-batch, availableNow's trailing empty commit batch
skipped, the non-empty batch ids returned for the caller's own batch
count contract.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from debias_spark.session import ensure_runtime_confs, pinned_confs

_DRAIN_TIMEOUT_S = 300


def narrow_shuffle(spark: SparkSession, n: int = 8):
    """Pin spark.sql.shuffle.partitions to ``n`` for a drain-and-stop
    block (``session.pinned_confs``) — the one shared spelling of the
    narrow-drain doctrine: state-store instances are one per shuffle
    partition, fixed at the first micro-batch, so a 2-batch local drain
    pays per-partition state setup that dwarfs its data work at the
    session's full width."""
    return pinned_confs(spark, {"spark.sql.shuffle.partitions": str(n)})


def drain_available_now(writer: DataStreamWriter, what: str) -> None:
    """Start ``writer`` with the availableNow trigger and wait for it to
    drain; raises RuntimeError naming ``what`` if it has not finished
    within ``_DRAIN_TIMEOUT_S``.  The query is stopped either way."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(_DRAIN_TIMEOUT_S):
            raise RuntimeError(
                f"{what}: availableNow drain did not finish within "
                f"{_DRAIN_TIMEOUT_S}s"
            )
    finally:
        q.stop()


def drain_file_drops(
    spark: SparkSession,
    schema: StructType,
    src_dir: str,
    ckpt_dir: str,
    on_batch: Callable[[DataFrame, int], None],
) -> list[int]:
    """Drain the parquet drops staged in ``src_dir`` one file per
    micro-batch, handing each non-empty batch to ``on_batch``; returns
    the ids of those batches, in order."""
    done: list[int] = []

    def each(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():  # availableNow's trailing empty commit batch
            return
        on_batch(batch, batch_id)
        done.append(batch_id)

    drain_available_now(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(each)
        .option("checkpointLocation", ckpt_dir),
        f"file-drop drain of {src_dir}",
    )
    return done


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file stream (the schema must be supplied for
    streaming reads; ts arrives either as epoch-nanos long — older
    TIMESTAMP(NANOS) testdata under nanosAsLong — or as a plain µs
    timestamp, and is normalized to TimestampType either way)."""
    from pyspark.sql.types import LongType

    from debias_spark.catalog import _cached_schema

    ensure_runtime_confs(spark)  # nanosAsLong before touching events.parquet
    # r14: schema from the session cache (catalog._cached_schema) — the
    # streaming read needs the schema object anyway; inferring it fresh
    # per call re-read the footer (~0.1 s) on every streaming key
    raw_schema = _cached_schema(spark, f"{sf_dir}/events.parquet")
    if raw_schema is None:
        raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file stream sources take a directory; glob-filter to the events table
    raw = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling event-time windows — identical plan for batch and
    stream inputs (the batch-vs-stream equivalence test relies on this)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), (F.round(F.sum("value"), 2) + 0.0).alias("sum_val"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_val",
        )
    )


def session_window_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows (gap-based), watermarked 10 minutes for late
    data.  applyInPandasWithState is the escape hatch for session logic this
    declarative form can't express; this one it can."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def incremental_parquet_sink(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Incremental parquet append via foreachBatch, drained with
    availableNow.  foreachBatch is the sink escape hatch: each micro-batch
    arrives as a normal DataFrame, so any batch writer (merge/upsert,
    multi-table fan-out) plugs in; the checkpoint makes re-runs process
    only NEW files — the Refresh-button economics the reference lacks
    (full re-scan per click, dashboard_widget.py:73-74)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )

    drain_available_now(
        stream_df.writeStream.foreachBatch(write_batch).option(
            "checkpointLocation", checkpoint_dir
        ),
        "incremental_parquet_sink",
    )


def run_available_now(
    stream_df: DataFrame, spark: SparkSession, output_mode: str = "append"
) -> DataFrame:
    """Run a streaming DataFrame to completion with the availableNow trigger
    (the dashboard-Refresh semantics: drain what exists, then stop) into a
    memory sink; returns the materialized result.

    output_mode: "append" for watermarked aggs (emits finalized windows);
    "complete" for unwatermarked aggs (emits every window — what the
    batch-equivalence test uses).

    State-store instances are one per shuffle partition, fixed at the first
    micro-batch; these drain-and-stop snapshots use a fresh temp checkpoint
    each call, so the partition count is dialed down for the run (4 state
    dirs instead of 32 — most of availableNow wall-clock at small data is
    state-store setup; measured 8 -> 4 -> 3 gives identical rows with
    monotonically less setup) and restored after.  A long-lived production
    stream keeps the session default and an explicit checkpointLocation."""
    name = f"snap_{uuid.uuid4().hex[:12]}"
    with narrow_shuffle(spark, 4):
        drain_available_now(
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode),
            "run_available_now",
        )
    return spark.table(name)


def rate_alerts(events: DataFrame, thresholds: DataFrame) -> DataFrame:
    """Windowed rate alerting: per (1-hour tumbling window, event_type)
    counts flagged against a per-type threshold frame (event_type, thr_n).

    The static threshold frame joins the stream BEFORE the aggregation —
    a stream-static broadcast join is unconditionally supported, whereas
    joining after a streaming aggregate constrains output modes.  The
    threshold rides through the groupBy as a grouping column (constant
    per type), so the alert comparison is a pure projection."""
    joined = events.join(F.broadcast(thresholds), "event_type")
    return (
        joined.groupBy(F.window("ts", "1 hour").alias("w"), "event_type", "thr_n")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            (F.round("thr_n", 4) + 0.0).alias("thr_rounded"),
            (F.col("n") > F.col("thr_n")).alias("alert"),
        )
    )
