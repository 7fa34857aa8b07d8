"""Round-7 wave-4 tests (Z54, T13, X146, Z55): watermark-drop shape,
forward-as-of semantics on a handbuilt frame, try_* null accounting, and
typed partition discovery plan evidence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debias_spark.registry import load_all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def specs():
    return load_all_queries()


def test_watermark_drop_emits_exactly_three_closed_windows(spark, specs):
    from debias_spark.catalog import table

    rows = specs["stream_watermark_late_drop"].fn(spark, SF).collect()
    assert [r.window_start for r in rows] == [
        "2024-06-01 00:00:00",
        "2024-06-01 01:00:00",
        "2024-06-01 02:00:00",
    ]  # hour 3 stays open and must NOT be emitted
    ev = table(spark, SF, "events").select("event_id")
    # hour 0 count == file A's hour-0 rows ONLY: the late file-B rows
    # (id % 8 == 0, a quarter of even ids) were dropped
    a_h0 = ev.filter(
        (F.col("event_id") % 2 == 1)
        & ((F.col("event_id") * 7919) % 10800 < 3600)
    ).count()
    assert rows[0].n == a_h0
    n_late = ev.filter(F.col("event_id") % 8 == 0).count()
    assert n_late > 0  # the drop was actually exercised


def test_asof_forward_handbuilt(spark):
    from debias_spark.queries.joins import join_asof_forward_tolerance  # noqa: F401
    import debias_spark.queries.joins as m

    df = spark.createDataFrame(
        [
            (1, 7, "purchase", 1000),  # next view at 1100 -> gap 100
            (2, 7, "view", 1100),
            (3, 7, "purchase", 2000),  # next view at 4000 -> beyond 1800s
            (4, 7, "view", 4000),
            (5, 8, "purchase", 500),   # no later view for this user
        ],
        "event_id long, user_id long, event_type string, sec long",
    ).select("event_id", "user_id", "event_type", F.timestamp_seconds("sec").alias("ts"))

    # replicate the key's logic over the handbuilt frame
    from pyspark.sql.window import Window

    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        1, Window.unboundedFollowing
    )
    nv = F.min(F.when(F.col("event_type") == "view", sec)).over(w)
    out = {
        r.event_id: (r.next_view_sec, r.gap_s)
        for r in df.select("event_id", "event_type", sec.alias("sec"), nv.alias("nv"))
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.when(F.col("nv") - F.col("sec") <= m._TOL_S, F.col("nv")).alias(
                "next_view_sec"
            ),
            F.when(
                F.col("nv") - F.col("sec") <= m._TOL_S, F.col("nv") - F.col("sec")
            ).alias("gap_s"),
        )
        .collect()
    }
    assert out == {1: (1100, 100), 3: (None, None), 5: (None, None)}


def test_try_conversion_null_accounting(spark, specs):
    rows = specs["sql_try_conversion_pack"].fn(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_whole_cast_ok == 0       # '<d>-WORD' never parses whole
        assert r.n_elem5_ok == 0            # no 5th dash-separated element
        assert r.n_ts_parsed == 0           # order status is not a timestamp
        assert 1 <= r.prio_num <= 5         # numeric prefix always parses
        assert 0 < r.n_div_null < r.n       # zero divisor cycles through
        assert r.div_checksum_cents > 0


def test_typed_partition_discovery_prunes(spark, specs):
    from debias_spark.queries.source_io import write_typed_partitions

    out = write_typed_partitions(spark, SF)
    rb = spark.read.parquet(out)
    # both partition columns inferred as integers from the path segments
    types = dict(rb.dtypes)
    assert types["year"] == "int" and types["month"] == "int"
    filtered = rb.filter(F.col("year") == 1997)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "year" in plan.split("PartitionFilters")[1][:200]
