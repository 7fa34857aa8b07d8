"""Round-7 wave 6 (X148-X151): engine-native runtime bloom-filter join
pruning, ANALYZE TABLE statistics, the hash-function pack, and CACHE
TABLE round-trip.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no planner or catalog; north-star extensions per SURVEY §2.H / §8.

Round-7 discovery worth recording: `bloom_filter_agg` is NOT in the
public function registry (SURVEY §7 blocked-surface list), but the
OPTIMIZER's InjectRuntimeFilter rule still plans it — the runtime
bloom-filter surface is reachable through confs even though the
function cannot be called by name.  X148 pins that path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register
from debias_spark.session import pinned_confs, temp_views

_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # force creation/application at bench scale: thresholds default to
    # sizes (10MB creation side) this test data never reaches
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # keep the join a shuffle join: a broadcast join would use its own
    # runtime filter mechanics and skip the bloom path
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join X148 proves (exposed for the plan-evidence test): a
    selective part-dim filter whose keys the optimizer turns into a
    bloom filter applied to the lineitem scan BEFORE the shuffle."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    return li.join(p, li["l_partkey"] == p["p_partkey"])


@register(
    "join_bloom_runtime_filter",
    "X148",
    oracle=f"""
    SELECT p_type,
           count(*) AS n,
           CAST(sum({cents_sql("l_extendedprice")}) AS BIGINT)
               AS rev_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 5
    GROUP BY p_type ORDER BY p_type
    """,
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native runtime bloom-filter join pruning: with the
    InjectRuntimeFilter thresholds forced, the optimizer aggregates the
    filtered dim's join keys into a bloom filter
    (bloom_filter_agg(xxhash64(p_partkey))) and applies might_contain to
    the FACT SCAN — fact rows that cannot join are dropped before the
    shuffle, the engine-native equivalent of the hand-rolled semi-join
    prefilter (X27 join_prefilter_hashbucket).  At 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    ~selectivity fraction that survives the filter.

    The result is materialized inside the conf scope via
    localCheckpoint.  Plan evidence (bloom_filter_agg in the optimized
    plan, might_contain on the fact side) is asserted in
    tests/test_round7_wave5.py."""
    with pinned_confs(spark, _BLOOM_CONFS):
        out = (
            bloom_filtered_join(spark, sf_dir)
            .groupBy("p_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents(F.col("l_extendedprice"))).alias("rev_cents"),
            )
            .orderBy("p_type")
            .localCheckpoint(eager=True)
        )
    return out


@register(
    "sql_analyze_table_stats",
    "X149",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_custkey) AS BIGINT) AS min_custkey,
           CAST(max(o_custkey) AS BIGINT) AS max_custkey,
           CAST(0 AS BIGINT) AS n_nulls,
           TRUE AS ndv_in_band
    FROM orders
    """,
)
def sql_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE statistics — the CBO's food: orders lands in a
    managed table, ANALYZE computes table row count and per-column
    min/max/null-count/NDV, and the key emits what the CATALOG now
    claims (parsed from DESCRIBE EXTENDED), hash-checked against the
    data itself.  Row count, min, max and null count must be EXACT;
    NDV is an HLL++ estimate by design (rsd=0.05), so it gets the banded
    treatment (within ±15% = 3 sigma of the exact distinct count -> TRUE)
    like every other sketch in this repo.  At 100 TB these stats are what make the
    cost-based optimizer pick broadcast sides and join orders without
    scanning; a catalog that lies here mis-plans every query after it.

    Scale: ANALYZE is one scan with mergeable sketches; DESCRIBE reads
    the catalog only."""
    o = table(spark, sf_dir, "orders")
    # applicationId-suffixed table name: concurrent sessions never clash
    tname = "x149_orders_" + spark.sparkContext.applicationId.replace("-", "_")
    spark.sql(f"DROP TABLE IF EXISTS {tname}")
    o.select("o_orderkey", "o_custkey").write.saveAsTable(tname)
    try:
        spark.sql(f"ANALYZE TABLE {tname} COMPUTE STATISTICS")
        spark.sql(f"ANALYZE TABLE {tname} COMPUTE STATISTICS FOR COLUMNS o_custkey")
        desc = {
            r.info_name: r.info_value
            for r in spark.sql(f"DESCRIBE EXTENDED {tname} o_custkey").collect()
        }
        tstats = [
            r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tname}").collect()
            if r.col_name == "Statistics"
        ][0]
        n_rows = int(tstats.split(",")[1].strip().split(" ")[0])
        ndv = int(desc["distinct_count"])
        exact = o.agg(F.countDistinct("o_custkey")).collect()[0][0]
        rows = [
            (
                n_rows,
                int(desc["min"]),
                int(desc["max"]),
                int(desc["num_nulls"]),
                # ANALYZE's NDV is HyperLogLog++ at rsd=0.05 (1-sigma 5%);
                # band at 3 sigma so the deterministic estimate for THIS
                # data always lands inside while a broken sketch cannot
                abs(ndv - exact) <= 0.15 * exact,
            )
        ]
        return spark.createDataFrame(
            rows,
            "n_rows long, min_custkey long, max_custkey long, n_nulls long, "
            "ndv_in_band boolean",
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


@register(
    "scalar_hash_fn_pack",
    "X151",
    oracle="""
    SELECT o_orderpriority AS prio,
           count(*) AS n,
           md5(min(o_orderpriority)) AS md5_hex,
           sha256(min(o_orderpriority)) AS sha256_hex,
           count(*) AS n_distinct_xxhash,
           count(*) AS n_distinct_murmur
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def scalar_hash_fn_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-function surface in one pass: md5 and sha2-256 (portable
    — DuckDB recomputes the identical hex digests), plus xxhash64 and
    murmur3 (`hash`) — Spark-internal functions DuckDB lacks, pinned by
    a GLOBAL distinct-count over the 5-value priority domain: the number
    of distinct hash outputs across all 5 distinct inputs must equal the
    number of distinct inputs, so a CROSS-input collision (two different
    priorities hashing to one value) shrinks the global count and shifts
    every emitted row (per-group countDistinct would always be 1 and
    could never observe one).  xxhash64 is the hash the engine itself
    uses for bloom filters (X148) and murmur3 for shuffle partitioning —
    worth pinning their reachability even without cross-engine digests.

    Scale: pure codegen projections + one grouped aggregate + a 1-row
    broadcast of the global hash census."""
    o = table(spark, sf_dir, "orders")
    per = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.xxhash64("o_orderpriority").alias("xx"),
        F.hash("o_orderpriority").alias("mm"),
    )
    agg = per.groupBy("prio").agg(
        F.count("*").alias("n"),
        F.md5(F.min("prio")).alias("md5_hex"),
        F.sha2(F.min("prio"), 256).alias("sha256_hex"),
    )
    # one-row global census: distinct inputs vs distinct hash outputs
    census = per.agg(
        F.countDistinct("prio").alias("nprio"),
        F.countDistinct("xx").alias("gxx"),
        F.countDistinct("mm").alias("gmm"),
    )
    # emit n + (distinct inputs - distinct hashes): equals n exactly when
    # the hash is injective over the domain; any cross-input collision
    # perturbs every row and breaks the oracle's count(*) expectation
    return (
        agg.crossJoin(F.broadcast(census))
        .select(
            "prio",
            "n",
            "md5_hex",
            "sha256_hex",
            (F.col("n") + F.col("nprio") - F.col("gxx")).alias("n_distinct_xxhash"),
            (F.col("n") + F.col("nprio") - F.col("gmm")).alias("n_distinct_murmur"),
        )
        .orderBy("prio")
    )


@register(
    "sql_cache_table_roundtrip",
    "X150",
    oracle=f"""
    SELECT o_orderstatus,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def sql_cache_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CACHE TABLE round-trip: an eager SQL cache over a projection, a
    query planned against the InMemoryRelation (asserted in the wave
    test), then UNCACHE in a finally so no columnar cache leaks into
    later keys in the driver's window.  Spark's SQL cache is the
    iterate-over-it-many-times lever (rule: eager CACHE TABLE pins a
    small aggregate a procedural loop re-reads; temp views are lazy
    plans that re-scan) — this key pins the statement surface itself.

    Scale: caching materializes the projection once per executor in
    columnar form; at 100 TB you cache AGGREGATES, never raw facts —
    which is exactly what the docstring contract of X136 does."""
    # the cached view reads its source on every scan, so the source view
    # must outlive the statement that creates it
    with temp_views(spark, _x150_orders=table(spark, sf_dir, "orders")):
        spark.sql(
            "CACHE TABLE _x150_cached AS "
            "SELECT o_orderstatus, o_totalprice FROM _x150_orders"
        )
        try:
            out = spark.sql(
                f"""
                SELECT o_orderstatus,
                       count(*) AS n,
                       CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
                           AS rev_cents
                FROM _x150_cached GROUP BY 1 ORDER BY 1
                """
            ).localCheckpoint(eager=True)
        finally:
            spark.sql("UNCACHE TABLE IF EXISTS _x150_cached")
            # UNCACHE drops the cache, not the temp view CACHE TABLE AS created
            spark.catalog.dropTempView("_x150_cached")
    return out
