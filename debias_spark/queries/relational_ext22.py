"""Round-6 relational wave 2 (X117-X119): exact DECIMAL aggregation,
explicit GROUPING SETS, and distinct-user counts over sliding windows.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import register


@register(
    "agg_decimal_exact",
    "X117",
    oracle="""
    WITH d AS (
        SELECT l_returnflag,
               CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    AS DECIMAL(18, 2)) / 100 AS price_dec
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(sum(price_dec) * 100 AS BIGINT) AS total_cents,
           CAST(max(price_dec) * 100 AS BIGINT) AS max_cents,
           count(*) AS n
    FROM d GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation: prices enter the decimal domain ONCE
    (integer cents -> DECIMAL(18,2)), then SUM/MAX run in exact decimal
    arithmetic — no float summation error regardless of row count or
    partition order, which is why money columns are DECIMAL in every
    real warehouse schema.  The emitted values convert back to integer
    cents (the driver-hash-safe type; DECIMAL cells serialize
    differently across engines).

    Scale shape: decimal sums are mergeable partial aggregates like any
    other; Spark widens the accumulator (sum of DECIMAL(18,2) is
    DECIMAL(28,2)) so overflow at 100 TB row counts is handled by the
    type system, not by luck."""
    li = table(spark, sf_dir, "lineitem")
    price_dec = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .cast("decimal(18,2)")
        / 100
    )
    return (
        li.select("l_returnflag", price_dec.alias("price_dec"))
        .groupBy("l_returnflag")
        .agg(
            (F.sum("price_dec") * 100).cast("long").alias("total_cents"),
            (F.max("price_dec") * 100).cast("long").alias("max_cents"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "sql_grouping_sets_explicit",
    "X118",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
             l_linestatus NULLS FIRST
    """,
)
def sql_grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the asymmetric aggregation lattice CUBE
    and ROLLUP can't spell: detail cells, a status-only margin (skipping
    the flag-only margin a ROLLUP would force), and the grand total, each
    tagged with GROUPING() flags so consumers can tell a real NULL from a
    margin row.

    Scale shape: Catalyst plans one Expand (3 replicas, one per set)
    into a single hash aggregate — one shuffle for the whole lattice
    instead of one scan per margin UNION ALL'd together."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) AS g_flag,
               GROUPING(l_linestatus) AS g_status,
               count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS total_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
                 l_linestatus NULLS FIRST
        """,
        li=table(spark, sf_dir, "lineitem"),
    )


@register(
    "events_sliding_distinct_users",
    "X119",
    oracle="""
    WITH b AS (
        SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS w1, user_id
        FROM events
    ), w AS (
        SELECT w1 AS ws, user_id FROM b
        UNION ALL
        SELECT w1 - 1800 AS ws, user_id FROM b
    )
    SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM w GROUP BY ws
    """,
)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation over SLIDING windows (1 hour every 30 min):
    each event lands in two overlapping windows and the per-window
    distinct-user count must dedup within each window independently —
    the audience-reach metric (unique viewers per rolling hour) that
    plain sliding counts (H15) cannot answer.

    Scale shape: the window explode doubles rows (slide ratio), then
    Spark plans the distinct as a two-phase aggregate — partial distinct
    per (window, user) then the final count — so the shuffle carries
    (window, user) pairs, not raw events.  At 100 TB the exact distinct
    swaps for approx_count_distinct or an HLL sketch column (H13/Z21
    machinery) at the same plan shape."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "n_users",
        )
    )
