"""Availability probes for the container-blocked surfaces.

SURVEY §7 documents these capabilities as unavailable in this container
rather than stubbed (r6 verdict item 2):

  1. avro format            — spark-avro jar absent
  2. transformWithStateInPandas — google.protobuf absent (the streaming
     Python runner crashes at init; stateful surface ships on
     applyInPandasWithState instead, see stream.py)
  3. bloom_filter_agg / might_contain — not in the public function registry
  4. GROUPS window frames   — unsupported by Spark SQL

Each probe SKIPS with the documented reason while the dependency is
missing, and FAILS LOUDLY the moment a future container gains it — the
failure text names the implementation that then becomes required, so the
gap can never silently persist once it is closeable (r6 verdict item 5).
"""

from __future__ import annotations

import importlib.util

import pytest


def test_avro_format_probe(spark):
    try:
        spark.createDataFrame([(1, "a")], "id int, v string").write.format(
            "avro"
        ).mode("overwrite").save("/tmp/_probe_avro")
    except Exception as exc:
        msg = str(exc)
        assert "avro" in msg.lower(), msg  # the documented jar-absent failure
        pytest.skip("spark-avro jar absent in this container (documented in SURVEY §7)")
    pytest.fail(
        "avro format is now available: add source_avro_roundtrip / "
        "sink_avro_roundtrip keys mirroring sink_orc_roundtrip (sink_io.py)"
    )


def test_protobuf_transform_with_state_probe():
    try:
        # find_spec raises ModuleNotFoundError when the parent "google"
        # namespace package itself is absent — same meaning as None here
        spec = importlib.util.find_spec("google.protobuf")
    except ModuleNotFoundError:
        spec = None
    if spec is None:
        pytest.skip(
            "google.protobuf absent: transformWithStateInPandas driver runner "
            "crashes at init (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE, "
            "documented in stream.py); stateful surface ships on "
            "applyInPandasWithState"
        )
    pytest.fail(
        "google.protobuf is now importable: port the stateful-processor key "
        "(stream_stateful_user_counts twin) to transformWithStateInPandas and "
        "register it alongside the applyInPandasWithState implementation"
    )


def test_bloom_filter_agg_probe(spark):
    fns = {r.function for r in spark.sql("SHOW FUNCTIONS").collect()}
    if "bloom_filter_agg" not in fns and "might_contain" not in fns:
        pytest.skip(
            "bloom_filter_agg/might_contain not in the public function "
            "registry of this Spark build (documented in SURVEY §7). The "
            "OPTIMIZER-injected runtime-filter path IS reachable and is "
            "covered by join_bloom_runtime_filter (X148, round 7); only "
            "the by-name callable surface remains blocked."
        )
    pytest.fail(
        "bloom_filter_agg is now public: add a by-name bloom-filter "
        "aggregate key alongside join_bloom_runtime_filter (X148)"
    )


def test_groups_window_frame_probe(spark):
    spark.createDataFrame([(1, 10), (1, 20), (2, 30)], "k int, v int").createOrReplaceTempView(
        "_probe_groups"
    )
    try:
        spark.sql(
            "SELECT sum(v) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND "
            "CURRENT ROW) FROM _probe_groups"
        ).collect()
    except Exception:
        pytest.skip("GROUPS window frames unsupported by Spark SQL (documented in SURVEY §7)")
    pytest.fail(
        "GROUPS window frames now parse and execute: add a "
        "window_groups_frame key next to window_interval_range_frame"
    )


def test_time_type_probe(spark):
    """Spark 4.1.2 parses TIME literals but every constructor, cast and
    extractor raises UNSUPPORTED_TIME_TYPE — the type cannot be derived
    from real columns, so no query key can use it yet (probed round 7)."""
    assert spark.sql("SELECT TIME '12:00:00' < TIME '13:00:00' AS b").collect()[0].b
    try:
        spark.sql("SELECT make_time(12, 30, 5.0)").collect()
    except Exception as exc:
        assert "UNSUPPORTED_TIME_TYPE" in str(exc) or "TIME" in str(exc)
        pytest.skip(
            "TIME is literal-only in this build (UNSUPPORTED_TIME_TYPE on "
            "make_time/to_time/CAST/hour)"
        )
    pytest.fail(
        "make_time now works: add a sql_time_type_pack key deriving "
        "time-of-day from events.ts (business-hours bucket + tod checksum)"
    )


def test_declarative_pipelines_probe(spark):
    """pyspark.pipelines (Spark 4.1 Declarative Pipelines) imports, but
    its graph-element decorators require a pipeline-definition context
    that only the spark-pipelines CLI runner (Spark Connect-backed)
    provides — unusable from a classic-mode session (probed round 13:
    GRAPH_ELEMENT_DEFINED_OUTSIDE_OF_DECLARATIVE_PIPELINE).  The
    dataflow semantics (materialized views over incremental state) are
    covered by the Z65-Z76 foreachBatch pipeline family; this probe
    flips when the decorator works outside the CLI."""
    from pyspark import pipelines as sdp

    try:
        @sdp.materialized_view
        def _probe_mv():  # pragma: no cover - never runs
            return None
    except Exception as exc:
        assert "DECLARATIVE_PIPELINE" in str(exc) or "pipeline" in str(exc).lower(), exc
        pytest.skip(
            "declarative-pipeline decorators need the spark-pipelines CLI "
            "context (Spark Connect); classic-mode sessions cannot define "
            "graph elements"
        )
    pytest.fail(
        "sdp.materialized_view now works in classic mode: add a "
        "pipeline_declarative_graph key mirroring pipeline_corpus_build's "
        "chain as materialized views"
    )


def test_sql_dml_update_delete_probe(spark):
    """UPDATE/DELETE/MERGE INTO SQL statements require a v2 ACID table
    provider (Delta/Iceberg — jars absent in this container); the built-in
    parquet/hive tables reject them.  The merge/SCD semantics themselves
    are value-proven by merge_upsert_snapshot (X73), scd2_user_status
    (X58) and stream_foreachbatch_upsert (Z27) over swap-rewritten
    parquet; this probe flips to fail the round a DML-capable provider
    appears so the SQL-statement surface gets implemented then."""
    app = spark.sparkContext.applicationId.replace("-", "_")
    t = f"_probe_dml_{app}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").write.saveAsTable(t)
    try:
        try:
            spark.sql(f"UPDATE {t} SET v = 'z' WHERE k = 1")
        except Exception as exc:
            # only the specific v1-unsupported error counts as "surface
            # absent"; anything else (metastore hiccup, probe bug) must
            # surface as a FAILURE, not an eternal skip
            assert (
                "UNSUPPORTED_FEATURE" in str(exc) or "does not support UPDATE" in str(exc)
            ), exc
            pytest.skip(
                "SQL UPDATE/DELETE/MERGE INTO unsupported on v1 tables and no "
                "ACID provider jar present (semantics covered by X73/X58/Z27)"
            )
        pytest.fail(
            "SQL UPDATE now executes: add sql_update_delete_merge keys "
            "exercising the DML statement surface against the new provider"
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
