"""Round-4 streaming wave 2 (Z27): foreachBatch incremental upsert — the
canonical production sink pattern (merge each micro-batch's partial
aggregate into a persistent keyed state table) run as a real Structured
Streaming query with a deterministic, fully-oracled final state.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
is batch-only; Structured Streaming extension per SURVEY §2.H14-H16
rationale.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.registry import register
from debias_spark.streaming import drain_available_now, narrow_shuffle, stream_events
from debias_spark.warehouse import fresh_scratch_dirs


@register(
    "stream_foreachbatch_upsert",
    "Z27",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users_lb,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental upsert: each micro-batch's per-type
    partial aggregate MERGES into a persistent parquet state table
    (full-outer on the key, mergeable-state addition), availableNow
    drain, final state returned — the incremental_agg_maintenance (X90)
    contract executed by the streaming engine instead of a manual
    base/delta split, and the pattern every production Spark pipeline
    uses to keep a serving table fresh without re-scanning history.

    Mergeability discipline: count and sum merge by addition;
    count(DISTINCT user_id) is NOT mergeable from partials, so the state
    carries approx-mergeable evidence instead — a per-batch distinct is
    a LOWER BOUND merged by max().  Here the whole input drains in ONE
    availableNow micro-batch (a single parquet file source), making the
    bound exact and the oracle a plain COUNT(DISTINCT); a multi-batch
    deployment would carry an HLL sketch column (hll_sketch_agg merges
    exactly) — dropped here only because the driver hash needs a
    batching-independent value.  The value sum converts to integer cents
    PER ROW before any aggregation, so neither shuffle order nor batch
    association order can drift the emitted value.

    Scale shape: state is keyed by event_type (bounded cardinality), the
    merge is a broadcast-sized full-outer join per batch, and each batch
    shuffles only its own partial aggregate — history is never re-read."""
    state_dir, ckpt_dir = fresh_scratch_dirs(spark, sf_dir, "fb_state", "fb_ckpt")
    stream = stream_events(spark, sf_dir)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        # n_users_lb merges per-batch countDistinct with max(), which equals
        # the oracle's exact COUNT(DISTINCT) ONLY while availableNow drains
        # the single-file events source in one micro-batch.  Fail loudly if
        # that assumption ever breaks (multi-file/multi-batch source) rather
        # than silently diverging from the oracle.
        if batch_id > 0 or os.path.isdir(state_dir):
            raise RuntimeError(
                "stream_foreachbatch_upsert drained in >1 micro-batch: "
                "n_users_lb's max-of-countDistinct merge is only exact for "
                "a single-batch drain; switch to a user-level state table "
                "before allowing multi-batch sources"
            )
        part = batch.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users_lb"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        if os.path.isdir(state_dir):
            prev = batch.sparkSession.read.parquet(state_dir)
            merged = (
                prev.select(
                    "event_type",
                    F.col("n_events").alias("pn"),
                    F.col("n_users_lb").alias("pu"),
                    F.col("value_cents").alias("pv"),
                )
                .join(part, "event_type", "full_outer")
                .select(
                    "event_type",
                    (F.coalesce("pn", F.lit(0)) + F.coalesce("n_events", F.lit(0))).alias("n_events"),
                    F.greatest(
                        F.coalesce("pu", F.lit(0)), F.coalesce("n_users_lb", F.lit(0))
                    ).alias("n_users_lb"),
                    (F.coalesce("pv", F.lit(0)) + F.coalesce("value_cents", F.lit(0))).alias("value_cents"),
                )
            )
        else:
            merged = part
        # state tables must never half-update: write the new state beside
        # the old, then atomically swap (same discipline a real pipeline
        # gets from Delta/Iceberg transactions)
        tmp = state_dir + "_next"
        merged.write.mode("overwrite").parquet(tmp)
        old = state_dir + "_old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(state_dir):
            os.rename(state_dir, old)
        os.rename(tmp, state_dir)
        shutil.rmtree(old, ignore_errors=True)

    # narrow drain (r14): the per-batch partial aggregate and state-merge
    # join move a handful of event_type keys; 32-task batch plans were
    # pure scheduling overhead
    with narrow_shuffle(spark, 8):
        drain_available_now(
            stream.writeStream.foreachBatch(merge_batch).option(
                "checkpointLocation", ckpt_dir
            ),
            "stream_foreachbatch_upsert",
        )
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return spark.read.parquet(state_dir).select(
        "event_type", "n_events", "n_users_lb", "value_cents"
    )
