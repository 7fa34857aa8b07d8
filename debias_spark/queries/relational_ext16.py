"""Round-5 relational wave 3 (X99): CUBE with grouping_id — the last
missing GROUPING SETS family member (H12 covers ROLLUP; X12 covers the
distribution-window pack).

No reference citation: the reference (SirHooke/debias-batch-processor) has
no SQL surface (SURVEY §2.G); north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


@register(
    "sql_cube_grouping_id",
    "X99",
    oracle=f"""
    SELECT coalesce(o_orderpriority, '(all)') AS priority,
           coalesce(o_orderstatus, '(all)') AS status,
           CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS revenue_cents
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def sql_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) with grouping_id: all four grouping
    sets — (both), (priority), (status), (grand total) — in one pass,
    with gid disambiguating real NULL groups from subtotal rows (none here,
    but the coalesce to '(all)' relies on gid for reversibility).

    Scale shape: Spark expands each input row once per grouping set
    (Expand: 4x rows) then runs ONE map-side-combined aggregate — same
    plan family as ROLLUP (H12) and strictly cheaper than 4 separate
    aggregates re-scanning the table.  At 100 TB with many sets the
    alternative is re-aggregating the finest set, which Catalyst's
    partial-aggregate pushdown effectively gives for free here."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "gid",
            "n_orders",
            "revenue_cents",
        )
    )
