"""Round-5 relational wave 6 (X104-X105): the skew toolkit as first-class
query keys — a salted join value-proven semantics-preserving, and the
skew diagnostic that decides when to use it.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no joins (SURVEY §2.G); north-star extensions per SURVEY §2.H and
the SCALE.md skew doctrine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps_sql
from debias_spark.registry import register


@register(
    "join_salted_hotkey",
    "X104",
    oracle=f"""
    SELECT s.s_nationkey,
           count(*) AS n_items,
           CAST(sum({cents_sql("l.l_extendedprice")}) AS BIGINT)
               AS revenue_cents
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_nationkey
    """,
)
def join_salted_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (operators/skew.py salted_join): the fact side
    sprays each join key across 8 salt sub-keys, the dim side replicates
    8x, and the join runs on (key, salt) — splitting any pathological hot
    key's rows across 8 reducers.  The oracle is the PLAIN join's
    aggregate: a hash match proves the salting transform is exactly
    semantics-preserving (the whole point — it must be safe to apply
    mechanically when the skew profile demands it).

    When to use at 100 TB: AQE's skew-join splitting handles most skew at
    runtime by splitting oversized partitions; explicit salting is for
    the case AQE can't fix — ONE key so hot that even its split
    partitions share a single build-side row group / stream. Cost is dim
    x salt replication, so only with a small dim.  The companion
    diagnostic (X105) is how you decide."""
    from debias_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, sup, "l_suppkey", "s_suppkey", salt=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        F.sum(cents(F.col("l_extendedprice"))).alias("revenue_cents"),
    )


@register(
    "diag_key_skew_profile",
    "X105",
    oracle=f"""
    WITH counts AS MATERIALIZED (
        SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total_rows,
               count(*) AS n_keys
        FROM counts
    )
    SELECT l_suppkey, n,
           {floor_eps_sql("n * t.n_keys / t.total_rows", 100)} AS x_mean_centi
    FROM counts, tot t
    ORDER BY n DESC, l_suppkey
    LIMIT 10
    """,
)
def diag_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic (operators/skew.py key_skew_profile): the 10
    hottest join keys with their row counts and multiple-of-mean ratio —
    the measurement that decides between AQE-only, salting, or broadcast.
    x_mean near 1.0 everywhere = uniform (leave AQE alone); a key at
    10-100x mean = salt that join.

    Plan: one groupBy(key) count, a broadcast 1-row total, and a top-10
    TakeOrdered — no global sort, scales as a plain aggregate."""
    from debias_spark.operators.skew import key_skew_profile

    li = table(spark, sf_dir, "lineitem")
    return key_skew_profile(li, "l_suppkey", top=10)
