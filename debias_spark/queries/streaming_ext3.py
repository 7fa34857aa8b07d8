"""Round-5 streaming wave (Z31): stream-stream interval join upgraded from
rows-only to a full value oracle.

Z19 (llm_ops4.py stream_stream_join) established the attribution join shape
but stayed rows-only because join-state eviction timing is engine-defined
ACROSS micro-batches.  Within ONE micro-batch there is no eviction ambiguity:
an availableNow drain of a single-file source emits exactly the closed-form
range-join result, so the pair set is value-checkable against DuckDB — the
same single-batch contract Z27 (streaming_ext2.py) uses, enforced loudly the
same way.

Reference parity: none — the reference (SirHooke/debias-batch-processor) is
batch-only; Structured Streaming extension per SURVEY §2.H14-H16 rationale.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.streaming import drain_available_now, narrow_shuffle
from debias_spark.registry import register
from debias_spark.warehouse import fresh_scratch_dirs


@register(
    "stream_stream_join_attrib",
    "Z31",
    oracle="""
    SELECT p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
           CAST(round(p.value * 100) AS BIGINT) AS value_cents
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def stream_stream_join_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition, VALUE
    ORACLED: each purchase joins the same user's clicks from the preceding
    hour, and the full emitted pair set hash-matches DuckDB's closed-form
    range join.  Both sides are watermarked (1 hour) so join state is
    bounded — clicks older than watermark + range are evicted.

    Determinism contract: within one micro-batch no state is evicted before
    matching, so a single-batch availableNow drain (single-file events
    source) emits exactly the batch range-join result.  A multi-batch drain
    could split the two sides across batches in file order (not event-time
    order) and legitimately drop late state — fail LOUDLY on that, exactly
    like stream_foreachbatch_upsert (streaming_ext2.py:85), rather than
    silently diverging from the oracle.  value converts to integer cents
    per row before emission so float formatting cannot drift the hash.

    Scale shape: the join state is keyed by user_id and bounded by the
    watermark horizon (1 hour of clicks per user), independent of stream
    length — the canonical attribution join a 100 TB clickstream runs
    continuously; the capture sink appends per batch and never re-reads."""
    from debias_spark.streaming import stream_events

    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "value")
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        "user_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )

    out_dir, ckpt_dir = fresh_scratch_dirs(spark, sf_dir, "ssj_pairs", "ssj_ckpt")

    def capture(batch: DataFrame, batch_id: int) -> None:
        # availableNow runs a trailing empty micro-batch to commit the final
        # watermark — benign; only ROWS arriving after batch 0 violate the
        # single-batch determinism contract.
        if batch_id > 0 and not batch.isEmpty():
            raise RuntimeError(
                "stream_stream_join_attrib drained in >1 micro-batch: "
                "cross-batch join-state eviction timing is engine-defined, "
                "so the pair set is only oracle-exact for a single-batch "
                "drain; keep the events source single-file or drop this "
                "key back to rows-only"
            )
        batch.write.mode("append").parquet(out_dir)

    # state-store instances are one per shuffle partition PER JOIN SIDE;
    # this drain-and-stop snapshot dials partitions down for the run (the
    # run_available_now discipline) — most of the wall-clock at small
    # data is state-store setup (measured 7.9s at 32 partitions vs 2.5s
    # at 4; 2 is no better — the residual is engine fixed cost: batch
    # scheduling, checkpoint fsyncs, capture IO); a long-lived
    # production stream keeps the session default
    with narrow_shuffle(spark, 4):
        drain_available_now(
            joined.writeStream.foreachBatch(capture).option(
                "checkpointLocation", ckpt_dir
            ),
            "stream_stream_join_attrib",
        )
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return spark.read.schema(joined.schema).parquet(out_dir).select(
        "user_id", "purchase_time", "click_time", "value_cents"
    )


@register(
    "stream_session_window_oracled",
    "Z34",
    oracle="""
    WITH o AS MATERIALIZED (
        SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events
    ), flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN lag(us) OVER w IS NULL
                      OR us - lag(us) OVER w >= 300000000 THEN 1 ELSE 0 END AS brk
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), g AS (
        SELECT user_id, us,
               sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS grp
        FROM flagged
    )
    SELECT strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(max(us) + 300000000), '%Y-%m-%d %H:%M:%S')
               AS session_end,
           user_id, count(*) AS n_events
    FROM g GROUP BY user_id, grp
    """,
    bench=False,
)
def stream_session_window_oracled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows, VALUE ORACLED: the engine's session_window
    state merge hash-matched against DuckDB's gaps-and-islands replay (a
    new session starts when the gap is >= 5 minutes — session_window's end
    bound is exclusive; the oracle compares at MICROSECOND truncation via
    epoch_ns // 1000 because Spark truncates parquet ns timestamps to us,
    and a ns-precision compare would flip boundary gaps — the drift-sweep
    class).

    H16 (stream_session_window) stays rows-only BY DESIGN: with a
    watermark in append mode, which trailing sessions are withheld depends
    on the engine's watermark/eviction boundary arithmetic.  This variant
    removes the watermark and drains in COMPLETE mode, so every session
    emits and the result is the exact batch sessionization — the
    equivalence a production migration from batch to streaming must prove
    before turning the watermark on.

    Scale shape: session state is per-user and merge-on-arrival; complete
    mode re-emits all state per batch, which is fine for a drain-and-stop
    snapshot but is exactly why a long-lived stream needs the watermark +
    append pair (H16)."""
    from debias_spark.streaming import run_available_now, stream_events

    stream = stream_events(spark, sf_dir)
    agg = (
        stream.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return run_available_now(agg, spark, output_mode="complete")


@register(
    "stream_chained_windows",
    "Z38",
    oracle="""
    WITH hourly AS MATERIALIZED (
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS h,
               event_type, count(*) AS n
        FROM events GROUP BY h, event_type
    ), wm AS (
        SELECT epoch(max(ts)) - 1.0 AS w FROM events
    )
    SELECT strftime(make_timestamp(CAST(floor(h / 21600) * 21600 AS BIGINT)
                                   * 1000000), '%Y-%m-%d %H:%M:%S') AS w6_start,
           event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(max(n) AS BIGINT) AS peak_hour_n
    FROM hourly, wm
    WHERE floor(h / 21600) * 21600 + 21600 <= wm.w
    GROUP BY floor(h / 21600), event_type
    """,
    bench=False,
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED streaming window aggregation (Spark 3.5+ surface): hourly
    event counts re-aggregated into 6-hour windows (total + peak hourly
    rate) in a single streaming query — two stateful operators back to
    back, stitched with window_time().  This is the streaming rollup
    pyramid every metrics pipeline wants (fine windows for alerting, 
    coarse for dashboards) without a second job re-reading the fine sink.

    Drains with availableNow in append mode under a 1-second watermark
    (chained streaming aggregates REQUIRE watermark + append; complete
    mode is a single-stateful-operator privilege).  Append emits only
    FINALIZED windows: after the trailing empty micro-batch commits the
    final watermark wm = max(ts) - 1s, every 6-hour window with end <= wm
    has flushed and the trailing in-progress window is withheld — so the
    DuckDB oracle computes the same two stacked GROUP BYs on aligned
    epoch buckets and applies the identical end <= wm cut.  (Spark
    windows align to the epoch origin, so floor(epoch/3600) and
    window('1 hour') bucket identically; window_time = end - 1us stays
    inside its hour, so the 6-hour re-bucketing agrees too.)  Emitted
    rows are exact, not partial: a level-2 window finalizes only after
    every level-1 hour inside it finalized and arrived.

    Scale shape: state is per (window, event_type) at both levels —
    bounded by time-range x type cardinality, not event volume; level-2
    receives only level-1's finalized rows (watermark-gated), so the
    second state store is 1/3600th the traffic of the first."""
    from debias_spark.streaming import run_available_now, stream_events

    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 second")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    six = (
        hourly.groupBy(
            F.window(F.window_time("w1"), "6 hours").alias("w6"), "event_type"
        )
        .agg(F.sum("n").alias("n_events"), F.max("n").alias("peak_hour_n"))
        .select(
            F.date_format("w6.start", "yyyy-MM-dd HH:mm:ss").alias("w6_start"),
            "event_type",
            "n_events",
            "peak_hour_n",
        )
    )
    return run_available_now(six, spark, output_mode="append")
