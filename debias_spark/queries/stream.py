"""Structured Streaming keys: event-time windows and watermarks,
stream-static and stream-stream joins, stateful counts, session windows,
foreachBatch upserts, watermark dedup, rate alerts, and the State Store
reader.  Single-batch availableNow drains make the stream results
value-checkable against DuckDB.

The reference is batch-only; north-star extensions per SURVEY §2.H14-H16.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.streaming import (
    drain_available_now,
    narrow_shuffle,
    run_available_now,
    session_window_counts,
    stream_events,
)
from debias_spark.streaming.incremental import stage_drops
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


# The newer transformWithStateInPandas processor API (the other Spark 4
# stateful surface) is NOT implementable in this container — its
# driver-side runner requires google.protobuf, which is absent (measured:
# STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE / ImportError
# google.protobuf.descriptor).  applyInPandasWithState (H16b) covers the
# custom-stateful contract; this key covers state INSPECTION.
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


_NSALT = 8


@register(
    "stream_static_join_salted",
    "Z50",
    oracle="""
    WITH dim AS (
        SELECT event_type,
               CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
                    WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                    ELSE 'ops' END AS category
        FROM events GROUP BY event_type
    )
    SELECT d.category,
           count(*) AS n,
           CAST(sum(e.event_id) AS BIGINT) AS id_checksum
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY d.category ORDER BY d.category
    """,
)
def stream_static_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join on a 5-value key (extreme skew: every stream
    row lands in one of five shuffle partitions), de-skewed by SALTING:
    the static dim explodes to (event_type, salt 0..7) — an 8x replica
    table, still tiny — and the stream derives salt = pmod(event_id, 8),
    so the join key (event_type, salt) spreads each hot key over 8
    tasks.  This is the streaming counterpart of Z53's AQE skew split:
    micro-batch joins cannot be re-planned adaptively, so the salt is
    the lever that survives at 100 TB (the dim replica factor trades a
    small static-side blowup for even task sizes; pick NSALT ~ the
    per-key row ratio / target task size).

    The shuffle_hash hint keeps the join on the SHUFFLED path — a
    broadcast of the 40-row dim would bypass the salted partitioning
    this key exists to exercise (at scale the dim side may be too big to
    broadcast, which is exactly when the salt matters).  Drained with
    availableNow into a complete-mode aggregate; the SQL oracle is the
    unsalted batch equivalent, proving the salt changes distribution and
    nothing else."""
    from debias_spark.streaming.incremental import run_available_now, stream_events

    ev = table(spark, sf_dir, "events")
    dim = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "category",
            F.when(F.col("event_type").isin("click", "view"), "engagement")
            .when(F.col("event_type").isin("purchase", "signup"), "conversion")
            .otherwise("ops"),
        )
        .select("event_type", "category")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_NSALT - 1))))
    )
    stream = stream_events(spark, sf_dir).withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(_NSALT)).cast("int")
    )
    joined = stream.join(dim.hint("shuffle_hash"), ["event_type", "salt"])
    agg = joined.groupBy("category").agg(
        F.count("*").alias("n"),
        F.sum("event_id").cast("long").alias("id_checksum"),
    )
    return run_available_now(agg, spark, output_mode="complete").orderBy("category")


_T0 = "2024-06-01 00:00:00"  # stream epoch; windows are 1h from here


@register(
    "stream_watermark_late_drop",
    "Z54",
    oracle=f"""
    -- the emitted append-mode windows: hours 0-2 with file-A (+A2 for
    -- hour 2) counts ONLY.  File B's hour-0 stragglers arrive one batch
    -- AFTER that window was finalized+evicted and are dropped; B's
    -- hour-3 window outlives the final watermark and is never emitted.
    WITH rows_kept AS (
        SELECT ((event_id * 7919) % 10800) // 3600 AS hr
        FROM events WHERE event_id % 2 = 1          -- file A: hours 0-2
        UNION ALL
        SELECT 2 AS hr
        FROM events WHERE event_id % 4 = 2          -- file A2: hour 2
    )
    SELECT strftime(TIMESTAMP '{_T0}' + hr * INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n
    FROM rows_kept GROUP BY hr
    ORDER BY window_start
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic watermark-semantics proof.  Synthesis (replayed
    verbatim by the oracle) maps every event id to a synthetic
    timestamp and a file:

    - id % 2 == 1            -> file A,  hours 0-2 (off = id*7919 % 10800;
      the multiplier is coprime to 10800 — a bijection on residues — so
      offsets spread over all three hours even for small dense ids)
    - id % 4 == 2            -> file A2, hour 2    (7200 + id*7919 % 3600)
    - id % 8 == 0            -> file B,  hour 0    (LATE by then)
    - id % 4 == 0, % 8 != 0  -> file B,  hour 3    (on time, stays open)

    maxFilesPerTrigger=1 + pinned mtimes sequence A, A2, B.  Measured
    semantics this key pins (calibrated against the engine, then frozen
    in the oracle): the watermark lags one batch, and a window is
    finalized+evicted at the END of the first batch where the watermark
    exceeds its end — so a late row arriving IN that same batch would
    still merge, and the drop is only observable one batch later.
    Batch A advances the 10-minute watermark to ~02:50; batch A2 then
    emits hours 0 and 1 (A-only counts) and evicts them; batch B's
    hour-0 stragglers now hit evicted state and are DROPPED, while its
    hour-3 rows open a window whose end (04:00) outlives the final
    watermark (~03:40) — never emitted.  The final empty availableNow
    batch commits the last watermark and flushes hour 2 (A + A2).
    An engine that leaked the late rows into hour 0, re-emitted a
    finalized window, or flushed the open hour-3 window breaks
    rows/hash immediately.

    Scale shape: standard watermarked tumbling aggregate — state is one
    row per window, eviction bounded by the watermark delay; the file
    sequencing is test scaffolding, not a scale construct."""
    ev = table(spark, sf_dir, "events").select("event_id")
    t0 = F.lit(_T0).cast("timestamp")
    sp = F.col("event_id") * 7919

    def with_ts(df: DataFrame, secs) -> DataFrame:
        return df.select(
            "event_id", (t0 + F.make_dt_interval(secs=secs.cast("double"))).alias("ts")
        )

    a = with_ts(ev.filter(F.col("event_id") % 2 == 1), sp % 10800)
    a2 = with_ts(ev.filter(F.col("event_id") % 4 == 2), F.lit(7200) + sp % 3600)
    b_late = with_ts(ev.filter(F.col("event_id") % 8 == 0), sp % 3600)
    b_ontime = with_ts(
        ev.filter((F.col("event_id") % 4 == 0) & (F.col("event_id") % 8 != 0)),
        F.lit(10800) + sp % 3000,
    )

    # the file source takes oldest files first: ascending mtimes
    # sequence the batches
    (root,) = fresh_scratch_dirs(spark, sf_dir, "z54_stream")
    stage_drops(
        root,
        {
            "f1_a.parquet": a,
            "f2_a2.parquet": a2,
            "f3_b.parquet": b_late.unionByName(b_ontime),
        },
    )

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )
    return run_available_now(agg, spark, output_mode="append").orderBy(
        "window_start"
    )


# Z19 (stream_stream_join) established the attribution join shape but
# stayed rows-only because join-state eviction timing is engine-defined
# ACROSS micro-batches.  Within ONE micro-batch there is no eviction
# ambiguity: an availableNow drain of a single-file source emits exactly
# the closed-form range-join result, so the pair set is value-checkable
# against DuckDB — the same single-batch contract Z27
# (stream_foreachbatch_upsert) uses, enforced loudly the same way.
@register(
    "stream_stream_join_attrib",
    "Z31",
    oracle=f"""
    SELECT p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
           {cents_sql("p.value")} AS value_cents
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
    like stream_foreachbatch_upsert does, rather than
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
        cents(F.col("value")).alias("value_cents"),
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


@register(
    "stream_stateful_user_counts",
    "H16b",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY user_id
    """,
    bench=False,
)
def stream_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    counts in explicit group state, drained with availableNow — VALUE
    ORACLED (upgraded from rows-only in round 6 via the Z34 drain
    discipline): update mode may emit one row per user per micro-batch,
    but n_events strictly increases per emission, so the max-n_events row
    per user IS the final state regardless of how the source splits into
    batches — making the selected set batch-split-independent and
    hash-comparable to the batch groupBy the oracle runs.  The state
    carries integer cents (per-row floor(v*100+0.5) before accumulation)
    so float summation order cannot drift the value either.

    Scale shape: state is keyed by user_id, each trigger shuffles only
    that batch's rows to their state partitions, and Arrow batches feed
    the Python state function — the applyInPandasWithState contract a
    100 TB clickstream sessionizer relies on."""
    from debias_spark.streaming.stateful import running_user_counts

    stream = stream_events(spark, sf_dir)
    out = run_available_now(running_user_counts(stream), spark, output_mode="update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "value_cents")
    )


@register("stream_session_window", "H16", oracle=None, bench=False)  # rows-only
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows + watermark over a real file stream, availableNow
    trigger — the dashboard's Refresh re-scan (dashboard_widget.py:73) as an
    incremental stream.  Append mode emits sessions finalized by the
    watermark.  No faithful DuckDB oracle (gaps-and-islands + watermark
    semantics) -> rows-only; session invariants asserted in tests."""
    stream = stream_events(spark, sf_dir)
    return run_available_now(session_window_counts(stream), spark)


@register(
    "stream_rate_alert",
    "H18",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
        FROM events GROUP BY h, event_type
    ), med AS (
        SELECT event_type, quantile_cont(n, 0.5) AS med_n
        FROM hourly GROUP BY event_type
    ), dev AS (
        SELECT h2.event_type, abs(h2.n - m.med_n) AS adev
        FROM hourly h2 JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad_n
        FROM dev GROUP BY event_type
    ), thr AS (
        SELECT m.event_type, m.med_n + 3.0 * d.mad_n AS thr_n
        FROM med m JOIN mad d USING (event_type)
    )
    SELECT strftime(h.h, '%Y-%m-%d %H:%M:%S') AS window_start,
           h.event_type, h.n,
           round(t.thr_n, 4) + 0.0 AS thr_rounded,
           h.n > t.thr_n AS alert
    FROM hourly h JOIN thr t USING (event_type)
    """,
    bench=False,
)
def stream_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming operational alerting: hourly event-rate counts per type
    flagged against a robust (median + 3*MAD of historical hourly rates)
    threshold — the on-call rate monitor, run as a REAL Structured
    Streaming query (stream-static broadcast join before the windowed
    aggregation, availableNow drain).  Thresholds are fitted in batch
    from the same table, the fit-offline/score-online split every
    production alerter uses.

    Unusually for a streaming key, the drained output is deterministic —
    complete-mode tumbling counts + a static threshold frame — so this
    key carries a full DuckDB oracle: the driver hash-matches an actual
    streaming execution against batch SQL, the strongest stream-batch
    equivalence evidence in the registry (stream_static_join_counts is
    the other)."""
    from debias_spark.streaming.incremental import rate_alerts

    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"))
    med = hourly.groupBy("event_type").agg(
        F.percentile("n", 0.5).alias("med_n")
    )
    dev = hourly.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("n") - F.col("med_n")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad_n")
    )
    thr = med.join(mad, "event_type").select(
        "event_type", (F.col("med_n") + 3.0 * F.col("mad_n")).alias("thr_n")
    )
    stream = stream_events(spark, sf_dir)
    return run_available_now(
        rate_alerts(stream, thr), spark, output_mode="complete"
    )


@register(
    "stream_dedup_watermark",
    "Z9",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_first_seen
    FROM events GROUP BY event_type
    """,
    bench=False,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup: dropDuplicatesWithinWatermark on
    (user_id, event_type) over a file stream with a 1-hour watermark,
    drained with availableNow — the incremental version of
    dedup_within_time_window's batch contract.  State is bounded by the
    watermark horizon (old keys are evicted), which is what makes exactly-
    once ingestion dedup feasible on an unbounded stream.

    Upgraded from rows-only in round 5 under the single-batch contract
    (the Z27/Z31 discipline): within ONE micro-batch no key state is
    evicted mid-batch, so exactly one row per (user_id, event_type)
    survives and the per-type count equals the exact COUNT(DISTINCT).
    Watermark eviction only re-admits keys ACROSS batches — a multi-file
    events source could drain in several batches and legitimately emit
    more rows, so that layout fails loudly here instead of diverging
    silently from the oracle."""
    import glob as _glob

    from debias_spark.streaming import run_available_now, stream_events

    ev_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(ev_path) and len(_glob.glob(os.path.join(ev_path, "*.parquet"))) > 1:
        raise RuntimeError(
            "stream_dedup_watermark: multi-file events source would drain "
            "in several micro-batches, where watermark eviction can "
            "re-admit keys and the count exceeds COUNT(DISTINCT); this "
            "key's oracle requires the single-file (single-batch) layout"
        )
    stream = stream_events(spark, sf_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    counted = deduped.groupBy("event_type").agg(F.count("*").alias("n_first_seen"))
    return run_available_now(counted, spark, output_mode="complete")


@register(
    "stream_static_join_counts",
    "Z12",
    oracle="""
    SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
                WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                ELSE 'ops' END AS category,
           count(*) AS n,
           round(sum(value), 2) + 0.0 AS sum_val
    FROM events GROUP BY category
    """,
)
def stream_static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event file stream joins a static category
    dimension (broadcast into every micro-batch), then aggregates per
    category in complete mode, drained with availableNow.

    Unlike the other streaming keys this one has a full SQL oracle: the
    complete-mode aggregate after draining all files equals the batch
    aggregate exactly, so the driver value-checks a Structured Streaming
    plan end-to-end."""
    from debias_spark.streaming import run_available_now, stream_events

    dim = (
        table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn(
            "category",
            F.when(F.col("event_type").isin("click", "view"), "engagement")
            .when(F.col("event_type").isin("purchase", "signup"), "conversion")
            .otherwise("ops"),
        )
    )
    stream = stream_events(spark, sf_dir)
    joined = stream.join(F.broadcast(dim), "event_type")
    agg = joined.groupBy("category").agg(
        F.count("*").alias("n"), (F.round(F.sum("value"), 2) + 0.0).alias("sum_val")
    )
    return run_available_now(agg, spark, output_mode="complete")


@register("stream_stream_join", "Z19", oracle=None, bench=False)  # rows-only
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition: each
    purchase joins the SAME user's clicks from the preceding hour.  Both
    sides are watermarked so the join state is bounded (clicks older than
    the watermark + range are evicted) — the canonical attribution join,
    impossible in batch SQL without re-scanning history per micro-batch.
    Join-state eviction timing is engine-defined -> rows-only; the batch
    equivalent (join_asof_last_click) carries the value oracle for the
    same semantics."""
    from debias_spark.streaming import run_available_now, stream_events

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
        "value",
    )
    return run_available_now(joined, spark, output_mode="append")
