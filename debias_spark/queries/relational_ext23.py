"""Round-6 relational wave 3 (X120-X122): schema-evolution union,
dynamic-identifier SQL, and incremental JOIN-view maintenance.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import register
from debias_spark.session import temp_views


@register(
    "sql_union_by_name_evolution",
    "X120",
    oracle="""
    WITH u AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               NULL AS odate
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL BY NAME
        SELECT o_orderstatus, o_orderkey,
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           count(*) AS n_rows,
           count(cents) AS n_with_cents,
           count(odate) AS n_with_date,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sql_union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two generations of the same feed — one
    carrying cents, a newer one carrying the date instead, columns in a
    DIFFERENT order — combine by COLUMN NAME with missing columns
    null-filled (unionByName allowMissingColumns / UNION ALL BY NAME).
    Positional UNION would silently misalign the reordered columns;
    by-name union is the only safe spelling when upstream schemas drift,
    which at 100 TB they always eventually do.

    The rollup counts per-generation column presence, proving both the
    alignment and the null-fill survived."""
    orders = table(spark, sf_dir, "orders")
    gen1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    gen2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderstatus",
        "o_orderkey",
        F.col("o_orderdate").cast("date").cast("string").alias("odate"),
    )
    u = gen1.unionByName(gen2, allowMissingColumns=True)
    return (
        u.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("cents").alias("n_with_cents"),
            F.count("odate").alias("n_with_date"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "sql_identifier_dynamic_table",
    "X121",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def sql_identifier_dynamic_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() dynamic object naming (Spark 4): the table name
    arrives as a BOUND PARAMETER, not string-spliced SQL — the
    injection-safe spelling for multi-tenant / per-partition pipelines
    that route one query template over many tables.  The identifier is
    resolved at analysis time, so the executed plan is identical to the
    static spelling (same scan, same pushdowns) — only the SQL TEXT is
    dynamic, never the plan.  The bound name must resolve in the
    catalog, so the frame is a scoped ``temp_views`` view."""
    with temp_views(spark, _x121_docs=table(spark, sf_dir, "documents")):
        return spark.sql(
            """
            SELECT lang, count(*) AS n_docs,
                   sum(n_chars) AS total_chars
            FROM IDENTIFIER(:t) GROUP BY lang ORDER BY lang
            """,
            args={"t": "_x121_docs"},
        )


@register(
    "incremental_join_maintenance",
    "X122",
    oracle="""
    SELECT n_name,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance, the delta algebra executed:
    with A = orders and B = customer each split into (old, delta), the
    new view is the union of join(A_old, B_old), join(A_old, B_delta),
    join(A_delta, B_old) and join(A_delta, B_delta) — every term past
    the first joins a DELTA against an old/full side, never old-x-old
    re-joined.  This key computes the maintained union and rolls it up;
    the oracle computes the monolithic join — a hash match proves the
    maintenance identity covers every row exactly once.

    Scale shape: the expensive term at 100 TB is join(delta, big), an
    equi-join whose cost scales with the DELTA, while join(A_old, B_old)
    is the stored view state that is never recomputed — that asymmetry
    is the entire point of incremental view maintenance (X90 does the
    aggregate-state version; this is the join-state version)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    a_old = orders.filter(F.col("o_orderkey") % 10 < 8)
    a_delta = orders.filter(F.col("o_orderkey") % 10 >= 8)
    b_old = cust.filter(F.col("c_custkey") % 7 < 6)
    b_delta = cust.filter(F.col("c_custkey") % 7 >= 6)

    def j(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a["o_custkey"] == b["c_custkey"]).select(
            "c_nationkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )

    maintained = (
        j(a_old, b_old)          # stored view state (never recomputed at scale)
        .unionByName(j(a_old, b_delta))
        .unionByName(j(a_delta, b_old))
        .unionByName(j(a_delta, b_delta))
    )
    return (
        maintained.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("n_name")
    )
