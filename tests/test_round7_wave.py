"""Round-7 wave tests: statistics keys (X37-X39, X49), sketch
intersection (Z51), skew levers (Z50 salted stream join, Z53 AQE
split), and the row-group pruning sink (Z52).

Value correctness is the oracle comparison's job (test_oracle_parity
covers every registered key); these tests pin the SIDE CONTRACTS the
oracles can't see: plan evidence (AQE skew split markers, pushed
filters), parquet footer statistics, conf restoration, and invariants.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from debias_spark.registry import load_all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def specs():
    return load_all_queries()


def test_kendall_tau_invariants(spark, specs):
    row = specs["stats_kendall_tau"].fn(spark, SF).collect()[0]
    assert row.n_nations >= 2
    # tau_b is a correlation: e6 emission must land in [-1e6, 1e6]
    assert -1_000_000 <= row.tau_b_e6 <= 1_000_000
    # pair counts can never exceed n0 = n(n-1)/2
    n0 = row.n_nations * (row.n_nations - 1) // 2
    assert 0 <= row.concordant + row.discordant <= n0


def test_streaks_partition_customers(spark, specs):
    from debias_spark.catalog import table

    rows = specs["orders_streak_runlength"].fn(spark, SF).collect()
    assert all(r.max_streak >= 1 for r in rows)
    n_cust = (
        table(spark, SF, "orders").select("o_custkey").distinct().count()
    )
    # every ordering customer lands in exactly one streak-length bin
    assert sum(r.n_customers for r in rows) == n_cust


def test_poisson_anomaly_hour_domain(spark, specs):
    rows = specs["events_poisson_anomaly"].fn(spark, SF).collect()
    assert len(rows) == 5  # one row per event_type
    for r in rows:
        # events.ts spans Jan 2024: at most 31 * 24 observed hours
        assert 1 <= r.n_hours <= 744
        assert 0 <= r.n_anomalous_hours <= r.n_hours
        assert r.max_hour_count * r.n_hours >= r.total_events  # max >= mean


def test_ohlc_candle_invariants(spark, specs):
    rows = specs["events_hourly_ohlc"].fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.low_e6 <= r.open_e6 <= r.high_e6
        assert r.low_e6 <= r.close_e6 <= r.high_e6
        if r.n_events == 1:
            assert r.open_e6 == r.close_e6 == r.high_e6 == r.low_e6


def test_hll_intersection_band_holds(spark, specs):
    row = specs["agg_hll_intersection_banded"].fn(spark, SF).collect()[0]
    assert row.intersection_in_band is True
    # the overlap regime the docstring claims: intersection is a large
    # fraction of either set (inclusion-exclusion's reliable regime)
    assert row.exact_both >= 0.3 * min(row.exact_click_users, row.exact_view_users)


def test_aqe_skew_split_plan_marker(spark, specs):
    """The final adaptive plan of the skewed SMJ must carry the
    OptimizeSkewedJoin marker (skew=true) under the key's confs."""
    from debias_spark.queries.joins import _SKEW_CONFS, skewed_join_frame
    from debias_spark.session import pinned_confs

    with pinned_confs(spark, _SKEW_CONFS):
        # collect through the SAME QueryExecution we inspect: a noop write
        # spawns its own execution, leaving df's plan isFinalPlan=false.
        # The aggregate keeps value/user_id so column pruning can't shrink
        # the shuffled fact rows below the skew threshold.
        agg = skewed_join_frame(spark, "/root/testdata/sf0.01").groupBy(
            "category"
        ).agg(F.count("*").alias("n"), F.sum("value"), F.sum("user_id"), F.sum("event_id"))
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]


def test_aqe_skew_key_restores_confs(spark, specs):
    from debias_spark.queries.joins import _SKEW_CONFS

    before = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    specs["join_aqe_skew_split"].fn(spark, SF).collect()
    after = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    assert before == after


def test_salted_stream_join_matches_unsalted(spark, specs):
    """The salt must change DISTRIBUTION only: salted streaming result ==
    plain batch join result."""
    from debias_spark.catalog import table

    got = {
        r.category: (r.n, r.id_checksum)
        for r in specs["stream_static_join_salted"].fn(spark, SF).collect()
    }
    ev = table(spark, SF, "events")
    want = {
        r.category: (r.n, r.id_checksum)
        for r in ev.withColumn(
            "category",
            F.when(F.col("event_type").isin("click", "view"), "engagement")
            .when(F.col("event_type").isin("purchase", "signup"), "conversion")
            .otherwise("ops"),
        )
        .groupBy("category")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .collect()
    }
    assert got == want


def test_rowgroup_sink_footer_stats_prunable(spark):
    """Footer diagnostic: the range-sorted sink's row-group min/max date
    stats must be tight enough that the 1997 predicate overlaps only a
    minority of row groups — the statistics that make the reader skip."""
    pa = pytest.importorskip("pyarrow.parquet")
    from debias_spark.queries.sink_io import write_rowgroup_sink

    out = write_rowgroup_sink(spark, "/root/testdata/sf0.01")
    import datetime as dt

    lo, hi = dt.datetime(1997, 1, 1), dt.datetime(1998, 1, 1)
    total = overlapping = 0
    for path in glob.glob(f"{out}/part-*.parquet"):
        md = pa.ParquetFile(path).metadata
        ci = {md.schema.column(i).name: i for i in range(md.num_columns)}["o_orderdate"]
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci).statistics
            assert st is not None and st.has_min_max
            total += 1
            if st.max >= lo and st.min < hi:
                overlapping += 1
    assert total >= 4
    # orders span 1995-01..2001-08 (~80 months); one year ~ 1/7 of rows.
    # Range-sorted row groups keep the overlap proportional, far below 1.
    assert overlapping / total < 0.5, (overlapping, total)


def test_rowgroup_readback_filter_pushed(spark, specs):
    df = specs["sink_rowgroup_stats_prune"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:200]
