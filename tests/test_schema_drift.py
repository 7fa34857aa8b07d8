"""Schema-drift regression net: the driver regenerates the testdata
parquet between rounds and its physical types have drifted before
(TIMESTAMP(NANOS) events.ts, narrower ints).  tools/drift_check.py runs
the FULL sweep; this test keeps the most drift-SENSITIVE keys green in
every suite run against a freshly manufactured drift copy — NANOS
timestamps with sub-µs ties (every ts ORDER BY tie-break crosses the
truncation), INT32 n_chars, SMALLINT l_linenumber.
"""

from __future__ import annotations

import pytest

from debias_spark.registry import load_all_queries
from debias_spark.testing import compare_to_oracle

# ts-ordering / n_chars / linenumber consumers — the drift blast radius
SENSITIVE = [
    "event_dwell_time",          # lead() ordered by ts — the round-2 ADVICE case
    "scd2_user_status",          # islands keyed on (ts, event_id) ordering
    "sessionize_batch",          # gap windows over ts
    "events_rolling_dau7",       # ts -> date
    "window_tumbling_event_time",
    "events_latency_percentiles_hourly",  # hourly percentile groups over ts
    "stream_rate_alert",         # streaming read of the NANOS file
    "docs_compaction_plan",      # n_chars arithmetic
    "docs_token_budget_curve",   # n_chars div tokens scoring
    "dedup_near_editdistance",   # n_chars blocking + length band
    "lineitem_weighted_median_price",  # l_linenumber tiebreak arithmetic
]


@pytest.fixture(scope="module")
def drift_dir(tmp_path_factory):
    from tools.drift_check import build_drift_copy

    dst = str(tmp_path_factory.mktemp("drift"))
    build_drift_copy("/root/testdata/sf0.001", dst)
    return dst


@pytest.mark.parametrize("name", SENSITIVE)
def test_drift_sensitive_key(name, spark, drift_dir):
    spec = load_all_queries()[name]
    df = spec.fn(spark, drift_dir)
    if spec.oracle is None:
        assert df.count() > 0
    else:
        compare_to_oracle(df, spec.oracle, drift_dir)


def test_schema_cache_key_carries_the_nanos_conf(spark, tmp_path):
    """The schema inferred for a TIMESTAMP(NANOS) column depends on
    spark.sql.legacy.parquet.nanosAsLong: a long under `true`, and no
    type at all under `false` (inference raises).  The schema cache keys
    on the conf, so the `true` entry is never served under `false`, in
    either call order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import LongType

    from debias_spark import catalog
    from debias_spark.session import pinned_confs

    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_700_000_000_000_000_123], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path, store_schema=False)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    catalog._STAT_CACHE.clear()
    try:
        with pinned_confs(spark, {key: "false"}):
            with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
                catalog._cached_schema(spark, path)
        with pinned_confs(spark, {key: "true"}):
            on = catalog._cached_schema(spark, path)["ts"].dataType
        with pinned_confs(spark, {key: "false"}):
            with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
                catalog._cached_schema(spark, path)
    finally:
        catalog._STAT_CACHE.clear()
    assert isinstance(on, LongType), on
