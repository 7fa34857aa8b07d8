"""Round-7 wave-6 tests (X148-X151): plan evidence for the runtime
bloom filter and the SQL cache, catalog-stats sanity, hash-pack
portability, and conf restoration.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debias_spark.registry import load_all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def specs():
    return load_all_queries()


def test_bloom_runtime_filter_in_plan(spark):
    from debias_spark.queries.joins import _BLOOM_CONFS, bloom_filtered_join
    from debias_spark.session import pinned_confs

    with pinned_confs(spark, _BLOOM_CONFS):
        df = bloom_filtered_join(spark, "/root/testdata/sf0.01").groupBy(
            "p_type"
        ).count()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    low = plan.lower()
    assert "bloom_filter_agg" in low, plan[:1500]
    assert "might_contain" in low or "bloomfilter" in low


def test_bloom_key_restores_confs(spark, specs):
    from debias_spark.queries.joins import _BLOOM_CONFS

    before = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    specs["join_bloom_runtime_filter"].fn(spark, SF).collect()
    after = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    assert before == after


def test_cache_table_planned_in_memory(spark):
    from debias_spark.catalog import table

    table(spark, SF, "orders").createOrReplaceTempView("_x150_orders")
    spark.sql(
        "CACHE TABLE _x150_cached AS "
        "SELECT o_orderstatus, o_totalprice FROM _x150_orders"
    )
    try:
        df = spark.sql("SELECT count(*) FROM _x150_cached")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # Spark 4 prints the cache scan as "Scan In-memory table" over an
        # InMemoryRelation (TableCacheQueryStage under AQE)
        assert "InMemoryRelation" in plan, plan[:1500]
    finally:
        spark.sql("UNCACHE TABLE IF EXISTS _x150_cached")
        spark.catalog.dropTempView("_x150_cached")


def test_cache_key_leaves_no_view_or_cache(spark, specs):
    specs["sql_cache_table_roundtrip"].fn(spark, SF).collect()
    assert not any(
        t.name == "_x150_cached" for t in spark.catalog.listTables()
    )


def test_analyze_stats_row_is_exact(spark, specs):
    from debias_spark.catalog import table

    row = specs["sql_analyze_table_stats"].fn(spark, SF).collect()[0]
    o = table(spark, SF, "orders")
    exact = o.agg(
        F.count("*").alias("n"),
        F.min("o_custkey").alias("mn"),
        F.max("o_custkey").alias("mx"),
    ).collect()[0]
    assert (row.n_rows, row.min_custkey, row.max_custkey, row.n_nulls) == (
        exact.n,
        exact.mn,
        exact.mx,
        0,
    )
    assert row.ndv_in_band is True


def test_hash_pack_digests_match_hashlib(spark, specs):
    import hashlib

    rows = specs["scalar_hash_fn_pack"].fn(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.md5_hex == hashlib.md5(r.prio.encode()).hexdigest()
        assert r.sha256_hex == hashlib.sha256(r.prio.encode()).hexdigest()
        assert r.n_distinct_xxhash == r.n  # one distinct hash per group
        assert r.n_distinct_murmur == r.n
