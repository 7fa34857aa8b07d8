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

from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.streaming import drain_available_now, narrow_shuffle, stream_events
from debias_spark.warehouse import fresh_scratch_dirs, swap_state_write


@register(
    "stream_foreachbatch_upsert",
    "Z27",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users_lb,
           CAST(sum({cents_sql("value")}) AS BIGINT)
               AS value_cents
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch state-table write: the availableNow drain's
    micro-batch computes a per-type partial aggregate and writes it as
    the keyed parquet state table through warehouse.swap_state_write
    (parallel staging write, then rename swap, so a reader never sees a
    half-written state); the state is returned.  This is the
    incremental_agg_maintenance (X90) contract's write side executed by
    the streaming engine, the sink pattern production pipelines use to
    keep a serving table fresh.

    Single-batch contract: the whole input drains in ONE availableNow
    micro-batch (a single parquet file source), and the batch guard
    raises on a second batch or an existing state dir.  That is what
    makes n_users_lb (a per-batch countDistinct) equal the oracle's
    exact COUNT(DISTINCT); count(DISTINCT) does not merge from partials,
    so a multi-batch deployment would carry an HLL sketch column
    (hll_sketch_agg merges exactly) and a keyed merge against the prior
    state.

    Scale shape: state is keyed by event_type (bounded cardinality) and
    the batch shuffles only its own partial aggregate."""
    state_dir, ckpt_dir = fresh_scratch_dirs(spark, sf_dir, "fb_state", "fb_ckpt")
    stream = stream_events(spark, sf_dir)
    written = []  # the state frame's schema, read back without inference

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
            F.sum(cents(F.col("value"))).alias("value_cents"),
        )
        swap_state_write(part, state_dir)
        written.append(part.schema)

    # narrow drain (r14): the per-batch partial aggregate moves a
    # handful of event_type keys; 32-task batch plans were pure
    # scheduling overhead
    with narrow_shuffle(spark, 8):
        drain_available_now(
            stream.writeStream.foreachBatch(merge_batch).option(
                "checkpointLocation", ckpt_dir
            ),
            "stream_foreachbatch_upsert",
        )
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return spark.read.schema(written[0]).parquet(state_dir).select(
        "event_type", "n_events", "n_users_lb", "value_cents"
    )
