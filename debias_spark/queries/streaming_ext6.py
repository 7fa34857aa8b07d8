"""Round-7 wave 4 (Z54): watermark late-data DROP proof — three files
sequenced through maxFilesPerTrigger=1 so hour 0's window is finalized
and EVICTED one batch before the late stragglers arrive, which makes the
drop observable in the append-mode result.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
is batch-only; Structured Streaming extension per SURVEY §2.H14-H16.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import register
from debias_spark.streaming.incremental import run_available_now, stage_drops
from debias_spark.warehouse import fresh_scratch_dirs

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
