"""Round-7 block wave 4 (Z43): the State Store reader — Spark 4's
`statestore` / `state-metadata` batch formats over a streaming
checkpoint, proving the engine's internal aggregation state is itself a
queryable table.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
is batch-only; Structured Streaming extension per SURVEY §2.H14-H16
rationale.

NOTE: the newer transformWithStateInPandas processor API (the other
Spark 4 stateful surface) is NOT implementable in this container — its
driver-side runner requires google.protobuf, which is absent (measured:
STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE / ImportError
google.protobuf.descriptor).  applyInPandasWithState (H16b) covers the
custom-stateful contract; this key covers state INSPECTION.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.streaming import drain_available_now, narrow_shuffle, stream_events
from debias_spark.registry import register
from debias_spark.warehouse import fresh_scratch_dirs


@register(
    "stream_state_store_reader",
    "Z43",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State Store reader: run a streaming per-type count to a
    checkpoint (availableNow drain, noop sink — the DATA path is
    irrelevant, the STATE is the product), then read the checkpoint
    back with the `statestore` batch format and return the counts
    recovered FROM THE ENGINE'S STATE FILES.  The oracle is the plain
    batch aggregate: it matches only if the state store holds exactly
    one up-to-date row per key after the drain — the recovery
    invariant an operator relies on when debugging a production
    checkpoint (the `state-metadata` format, asserted in tests, names
    the operator/store this key reads).

    Scale shape: state is keyed by event_type (bounded domain); the
    statestore reader plans one task per state partition reading that
    partition's files — the same parallelism the stream itself used,
    no shuffle until the final tiny sort."""
    (ckpt,) = fresh_scratch_dirs(spark, sf_dir, "z43_ckpt")
    counts = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    # narrow state width for the drain (the Z68/Z73/Y75 doctrine): the
    # state-partition count is pinned at the FIRST batch from the
    # session's shuffle setting, and every state partition costs a
    # store file + commit per batch AND a reader task afterwards — a
    # handful of event_type keys needs 8, not the session's 32 (r13:
    # the only material r12 floor regression on this key was drain-side
    # fixed cost; values are partition-count independent)
    with narrow_shuffle(spark, 8):
        drain_available_now(
            counts.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt),
            "stream_state_store_reader",
        )

    state = spark.read.format("statestore").load(ckpt)
    return (
        state.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("bigint").alias("n_events"),
        )
        .orderBy("event_type")
    )


def state_metadata(spark: SparkSession, ckpt: str) -> DataFrame:
    """The `state-metadata` companion format: one row per stateful
    operator/store in the checkpoint (operator name, store name,
    partition count, batch id range).  Exposed for tests and operators;
    not a registry key of its own (partition count depends on the
    session's shuffle setting, so its values are deployment-specific)."""
    return spark.read.format("state-metadata").load(ckpt)
