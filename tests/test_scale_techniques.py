"""Scale-technique evidence tests: salting preserves semantics; bucketing
removes the join shuffle (the SCALE.md claims, executed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.skew import key_skew_profile, salted_join
from debias_spark.session import pinned_confs


def _agg(df):
    return sorted(
        tuple(r)
        for r in df.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
        .collect()
    )


def test_salted_join_equals_plain_join(spark, sf_dir):
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=4)
    assert _agg(salted) == _agg(plain)


def test_key_skew_profile(spark, sf_dir):
    prof = key_skew_profile(table(spark, sf_dir, "lineitem"), "l_orderkey", top=5)
    rows = prof.collect()
    assert len(rows) == 5
    assert all(r.x_mean_centi >= 100 for r in rows)  # hottest keys are >= mean


@pytest.mark.slow
def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key pre-co-locates the join: the
    physical plan contains no Exchange above the scans — the 100 TB upgrade
    for the H2 fact-fact join."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/bdemo'")
    try:
        # disable autoBroadcast: at test scale everything is broadcastable,
        # which would mask the no-shuffle SMJ this test demonstrates
        with pinned_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
                (
                    table(spark, sf_dir, name)
                    .write.bucketBy(8, key)
                    .sortBy(key)
                    .mode("overwrite")
                    .saveAsTable(f"bdemo.{name}_b")
                )
            o = spark.table("bdemo.orders_b")
            li = spark.table("bdemo.lineitem_b")
            joined = o.join(li, o.o_orderkey == li.l_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join must not shuffle"
            # an aggregate keyed on the bucket column reuses the layout too:
            # no Exchange before the final aggregate
            agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity"))
            aplan = agg._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in aplan, "bucketed groupBy must not shuffle"
            # and it is still correct
            n = joined.count()
            plain = table(spark, sf_dir, "orders").join(
                table(spark, sf_dir, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            assert n == plain.count()
    finally:
        spark.sql("DROP DATABASE IF EXISTS bdemo CASCADE")
