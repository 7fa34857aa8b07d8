"""Batch-vs-stream equivalence (SURVEY §5): the same window plan must give
identical results run over the batch table and over the file stream with
the availableNow trigger."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.streaming import (
    run_available_now,
    session_window_counts,
    stream_events,
    tumbling_counts,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_batch_equals_stream(spark, sf_dir):
    batch = tumbling_counts(table(spark, sf_dir, "events"))
    stream = run_available_now(
        tumbling_counts(stream_events(spark, sf_dir)), spark, output_mode="complete"
    )
    assert _sorted_rows(batch) == _sorted_rows(stream)


def test_incremental_parquet_sink_is_incremental(spark, sf_dir, tmp_path):
    """foreachBatch sink: first drain writes everything; a second drain
    against the same checkpoint writes NOTHING new (incremental progress,
    not the reference's full re-scan)."""
    from debias_spark.streaming.incremental import incremental_parquet_sink

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    incremental_parquet_sink(stream_events(spark, sf_dir), out, ckpt)
    n_events = spark.read.parquet(out).count()
    assert n_events == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    incremental_parquet_sink(stream_events(spark, sf_dir), out, ckpt)
    assert spark.read.parquet(out).count() == n_events  # no re-processing


def test_session_stream_equals_batch(spark, tmp_path):
    """The two registered session keys agree row-for-row: the rows-only
    streaming `stream_session_window` (state store, watermark, availableNow)
    and the oracle-checked batch `sessionize_batch` (gaps-and-islands
    windows) produce the same per-user session sequence — (n_events,
    duration) in session order — on a shared fixture.

    Fixture rules that make exact equality well-defined:
    * whole-second timestamps (batch truncates to seconds);
    * no gap of exactly 300 s (the two engines close half-open interval
      edges differently there);
    * a flush event 2000 s after the last real event advances the watermark
      past every real session so append mode emits all of them (the flush
      user itself is excluded from the comparison).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from debias_spark.registry import load_all_queries

    base = 1_700_000_000  # epoch seconds; written as TIMESTAMP(NANOS)
    rows, eid = [], 0
    # user -> sessions as lists of intra-session offsets (seconds)
    plan = {
        1: [[0, 10, 250], [0], [0, 299]],
        2: [[0, 120], [0, 50, 50, 50]],
        3: [[0]],
    }
    for user, sessions in plan.items():
        t = base + user * 10_000
        for sess in sessions:
            start = t
            for off in sess:
                eid += 1
                rows.append((eid, user, (start + off) * 1_000_000_000, "click", 1.0))
            t = start + (sess[-1] if sess else 0) + 400  # inter-session gap > 300
    flush_ts = max(r[2] for r in rows) // 1_000_000_000 + 2000
    rows.append((eid + 1, 999, flush_ts * 1_000_000_000, "flush", 0.0))

    # One FILE named events.parquet with a true TIMESTAMP(NANOS) ts column —
    # exactly the driver testdata's layout (stream_events glob-filters on the
    # file name; a Spark-written directory would not match).
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("ns")),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"), store_schema=False)

    qs = load_all_queries()
    streamed = qs["stream_session_window"].fn(spark, str(tmp_path)).collect()
    batch = qs["sessionize_batch"].fn(spark, str(tmp_path)).collect()

    def _stream_sessions(rows):
        out = {}
        for r in rows:
            if r.user_id == 999:
                continue
            start = r.session_start
            end = r.session_end
            from datetime import datetime

            dur = int(
                (
                    datetime.fromisoformat(end) - datetime.fromisoformat(start)
                ).total_seconds()
            ) - 300  # session_window end = last event + gap
            out.setdefault(r.user_id, []).append((start, r.n_events, dur))
        return {
            u: [(n, d) for _, n, d in sorted(v)] for u, v in out.items()
        }

    def _batch_sessions(rows):
        out = {}
        for r in rows:
            if r.user_id == 999:
                continue
            out.setdefault(r.user_id, []).append((r.session_id, r.n_events, r.duration_s))
        return {
            u: [(n, d) for _, n, d in sorted(v)] for u, v in out.items()
        }

    assert _stream_sessions(streamed) == _batch_sessions(batch)


def test_session_window_invariants(spark, sf_dir):
    out = run_available_now(session_window_counts(stream_events(spark, sf_dir)), spark)
    rows = out.collect()
    assert len(rows) > 0
    total_events = table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) <= total_events  # watermark may hold tail back
    assert all(r.session_start <= r.session_end for r in rows)
    assert all(r.n_events >= 1 for r in rows)


def test_stream_dedup_watermark_bounds(spark, sf_dir):
    """Watermark dedup: per event_type, first-seen count is bounded below
    by the batch distinct-user count (state eviction can only re-admit a
    key, never lose one) and above by the raw event count."""
    from debias_spark.registry import load_all_queries

    out = {
        r.event_type: r.n_first_seen
        for r in load_all_queries()["stream_dedup_watermark"].fn(spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events")
    distinct = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    raw = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(out) == set(distinct)
    for t, n in out.items():
        assert distinct[t] <= n <= raw[t], (t, n, distinct[t], raw[t])


def test_stream_stream_join_rows_verify_against_batch(spark, sf_dir):
    """Every emitted (purchase, click) row must satisfy the join predicate
    against the BATCH tables: same user, click within the hour before the
    purchase — the stream join may drop late rows (watermark) but must
    never emit a wrong pair."""
    from debias_spark.registry import load_all_queries

    rows = load_all_queries()["stream_stream_join"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t")
    )
    clicks = {(r.user_id, r.t) for r in ev.filter("event_type = 'click'").collect()}
    purchases = {
        (r.user_id, r.t) for r in ev.filter("event_type = 'purchase'").collect()
    }
    from datetime import datetime, timedelta

    fmt = "%Y-%m-%d %H:%M:%S"
    for r in rows:
        assert (r.user_id, r.purchase_time) in purchases
        assert (r.user_id, r.click_time) in clicks
        p = datetime.strptime(r.purchase_time, fmt)
        c = datetime.strptime(r.click_time, fmt)
        assert p - timedelta(hours=1) <= c <= p, (r.user_id, r.click_time, r.purchase_time)


def test_drain_times_out_loudly_and_stops(spark, sf_dir, tmp_path, monkeypatch):
    """A drain that outlives the drain timeout raises instead of hanging,
    and the query is stopped either way: no live stream leaks into the
    shared session."""
    import time

    from debias_spark.streaming import incremental

    monkeypatch.setattr(incremental, "_DRAIN_TIMEOUT_S", 1)

    def slow(batch, batch_id):
        time.sleep(4)

    writer = (
        stream_events(spark, sf_dir)
        .writeStream.foreachBatch(slow)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    with pytest.raises(RuntimeError, match="slow drain: .* within 1s"):
        incremental.drain_available_now(writer, "slow drain")
    assert spark.streams.active == []


def test_run_available_now_is_bounded_by_the_drain_timeout(spark, sf_dir, monkeypatch):
    """run_available_now (the memory-sink drain most stream_* keys use)
    goes through the same timeout and always-stop."""
    import time

    from debias_spark.streaming import incremental

    monkeypatch.setattr(incremental, "_DRAIN_TIMEOUT_S", 1)

    def slow(frames):
        time.sleep(4)
        yield from frames

    stream = (
        stream_events(spark, sf_dir)
        .select("event_id")
        .mapInPandas(slow, "event_id long")
    )
    with pytest.raises(RuntimeError, match="run_available_now: .* within 1s"):
        run_available_now(stream, spark)
    assert spark.streams.active == []


@pytest.mark.parametrize(
    "module, key",
    [
        ("pipeline_e2e", "pipeline_incremental_refresh"),
        ("pipeline_e2e2", "pipeline_incremental_neardup"),
        ("pipeline_e2e5", "pipeline_corpus_build_incremental"),
        ("llm_ops38", "similarity_ann_ivfpq_incremental"),
    ],
)
def test_file_drop_keys_require_two_batches(spark, sf_dir, monkeypatch, module, key):
    """The ">= 2 non-empty batches" contract of the file-drop pipelines
    reads what drain_file_drops returns: a drain that reports a single
    batch fails the key instead of passing on a degenerate drain."""
    import importlib

    from debias_spark.registry import load_all_queries

    mod = importlib.import_module(f"debias_spark.queries.{module}")
    monkeypatch.setattr(mod, "drain_file_drops", lambda *args: [0])
    with pytest.raises(RuntimeError, match="drained in 1 micro-batch"):
        load_all_queries()[key].fn(spark, sf_dir)


def test_checkpoint_resume_requires_exactly_one_resume_batch(spark, sf_dir, monkeypatch):
    """Z71's second drain must process exactly the late drop: a resume
    drain that reports no batch fails the key."""
    from debias_spark.queries import pipeline_e2e2
    from debias_spark.registry import load_all_queries

    drains = iter([[0, 1], []])
    monkeypatch.setattr(pipeline_e2e2, "drain_file_drops", lambda *args: next(drains))
    with pytest.raises(RuntimeError, match="ran 0 non-empty batches, expected 1"):
        load_all_queries()["pipeline_checkpoint_resume"].fn(spark, sf_dir)


def _two_batch_events(tmp_path):
    """A stream_events stand-in whose source is two staged drops (the
    earliest event, then the rest), drained one file per micro-batch:
    the second batch carries rows, and none of them is late."""
    from debias_spark.warehouse import stage_single_file_drop

    def two_batches(spark, sf_dir):
        ev = table(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
        first = ev.orderBy("ts", "event_id").limit(1)
        rest = ev.join(first.select("event_id"), "event_id", "left_anti")
        tmp_path.mkdir()
        src = str(tmp_path)
        stage_single_file_drop(first, src, "a.parquet", mtime=1_000_000)
        stage_single_file_drop(rest, src, "b.parquet", mtime=2_000_000)
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    return two_batches


def test_single_batch_stream_keys_reject_a_second_batch(
    spark, sf_dir, tmp_path, monkeypatch
):
    """stream_foreachbatch_upsert and stream_stream_join_attrib are
    oracle-exact only for a single-batch drain; fed a two-file source
    they fail loudly, and the drain leaves no live stream behind."""
    import debias_spark.streaming
    from debias_spark.queries import streaming_ext2
    from debias_spark.registry import load_all_queries

    specs = load_all_queries()
    monkeypatch.setattr(streaming_ext2, "stream_events", _two_batch_events(tmp_path / "a"))
    with pytest.raises(Exception, match="stream_foreachbatch_upsert drained in >1"):
        specs["stream_foreachbatch_upsert"].fn(spark, sf_dir)
    assert spark.streams.active == []
    monkeypatch.setattr(
        debias_spark.streaming, "stream_events", _two_batch_events(tmp_path / "b")
    )
    with pytest.raises(Exception, match="stream_stream_join_attrib drained in >1"):
        specs["stream_stream_join_attrib"].fn(spark, sf_dir)
    assert spark.streams.active == []


@pytest.mark.parametrize(
    "key",
    [
        "pipeline_incremental_refresh",
        "pipeline_incremental_neardup",
        "pipeline_checkpoint_resume",
        "pipeline_corpus_build",
        "pipeline_corpus_build_incremental",
        "stream_stream_join_attrib",
    ],
)
def test_staged_read_backs_carry_the_written_schema(spark, sf_dir, monkeypatch, key):
    """Every read of a scratch dir the key itself wrote (per-batch state
    inside foreachBatch, the final state, sink or manifest) is built with
    the schema the key wrote, so none runs Parquet's one-task
    schema-inference job.  Each read runs in its own job group, set on
    the calling thread, so reads inside the stream's batches count too."""
    from pyspark.sql import DataFrameReader

    from debias_spark.registry import load_all_queries
    from debias_spark.warehouse import scratch_root

    sc, read, jobs = spark.sparkContext, DataFrameReader.parquet, []

    def counted_read(self, *paths, **kwargs):
        if not all(str(p).startswith(scratch_root()) for p in paths):
            return read(self, *paths, **kwargs)
        group, prev = f"read-back-{key}-{len(jobs)}", sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return read(self, *paths, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(DataFrameReader, "parquet", counted_read)
    load_all_queries()[key].fn(spark, sf_dir)
    assert jobs and set(jobs) == {0}, jobs


def test_foreachbatch_state_read_back_carries_the_written_schema(spark, sf_dir):
    """stream_foreachbatch_upsert reads its state dir back with the schema
    the batch wrote: the same frame as Parquet's inferred read, built
    without the one-task inference job (the drain's own jobs run in the
    stream's job group, not the caller's)."""
    import os

    from debias_spark.registry import load_all_queries

    spec = load_all_queries()["stream_foreachbatch_upsert"]
    sc, group = spark.sparkContext, "fb-state-read-back"
    stream_events(spark, sf_dir)  # caches events.parquet's schema for the session

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        state = spec.fn(spark, sf_dir)
        assert jobs() == 0
        inferred = spark.read.parquet(os.path.dirname(state.inputFiles()[0]))
        assert jobs() == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    inferred = inferred.select(*state.columns)
    assert state.schema == inferred.schema
    assert state.orderBy("event_type").collect() == inferred.orderBy("event_type").collect()
