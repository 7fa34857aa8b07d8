"""Round-7 wave 5 (X147): ABC/XYZ inventory classification — cumulative
revenue share crossed with demand variability, every class boundary an
exact integer comparison.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no analytics beyond two bar charts; extension per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.operators.prefixsum import bucketed_cumsum
from debias_spark.registry import register


@register(
    "orders_abc_xyz_classification",
    "X147",
    oracle=f"""
    WITH pm AS MATERIALIZED (
        SELECT l_partkey,
               date_trunc('month', l_shipdate) AS m,
               sum(CAST(l_quantity AS BIGINT)) AS q,
               sum({cents_sql("l_extendedprice")}) AS cents
        FROM lineitem GROUP BY 1, 2
    ), p AS MATERIALIZED (
        SELECT l_partkey,
               sum(cents) AS rev,
               count(*) AS n_m,
               sum(q) AS s,
               sum(q * q) AS q2
        FROM pm GROUP BY 1
    ), c AS (
        SELECT l_partkey, rev, n_m, s, q2,
               sum(rev) OVER (ORDER BY rev DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
               sum(rev) OVER () AS total
        FROM p
    ), cls AS (
        SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
                    WHEN cum * 20 <= total * 19 THEN 'B'
                    ELSE 'C' END AS abc,
               -- cv^2 = (n*q2 - s^2) / s^2; X: cv^2 < 1/4, Y: < 1, Z: rest
               CASE WHEN 4 * (n_m * q2 - s * s) < s * s THEN 'X'
                    WHEN n_m * q2 - s * s < s * s THEN 'Y'
                    ELSE 'Z' END AS xyz,
               rev
        FROM c
    )
    SELECT abc, xyz,
           count(*) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS rev_cents
    FROM cls GROUP BY abc, xyz ORDER BY abc, xyz
    """,
)
def orders_abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ classification, the inventory-planning matrix: ABC ranks
    parts by cumulative revenue share (A carries the first 80%, B to
    95%, C the tail) and XYZ grades demand variability by the
    coefficient of variation of monthly quantities (X: cv < 0.5,
    Y: cv < 1, Z: erratic).  EVERY boundary is an exact integer
    comparison — the ABC cut multiplies through the total (cum*5 <=
    total*4), and the CV cut squares through the mean (4(n*Σq² - S²) <
    S²) — so no float exists anywhere in the classification and the
    engines cannot disagree on a single part.

    Scale shape: the fact table collapses to (part, month) then part
    (two map-side-combined aggregates); the cumulative revenue uses
    operators/prefixsum.bucketed_cumsum (bucket cutoffs + per-bucket
    windows — no single-partition sort; the oracle keeps the naive
    global-window spelling, so the hash proves the two-pass equivalence
    once more); output is the bounded 3x3 class matrix."""
    li = table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("m")
    ).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("q"),
        F.sum(cents(F.col("l_extendedprice"))).alias("cents"),
    )
    p = pm.groupBy("l_partkey").agg(
        F.sum("cents").alias("rev"),
        F.count("*").alias("n_m"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("q2"),
    )
    c = bucketed_cumsum(
        p, value_col="rev", order_col="rev", tiebreak_col="l_partkey",
        descending=True,
    )
    abc = (
        F.when(F.col("cum") * 5 <= F.col("total") * 4, "A")
        .when(F.col("cum") * 20 <= F.col("total") * 19, "B")
        .otherwise("C")
    )
    disp = F.col("n_m") * F.col("q2") - F.col("s") * F.col("s")
    xyz = (
        F.when(4 * disp < F.col("s") * F.col("s"), "X")
        .when(disp < F.col("s") * F.col("s"), "Y")
        .otherwise("Z")
    )
    return (
        c.select(abc.alias("abc"), xyz.alias("xyz"), "rev")
        .groupBy("abc", "xyz")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").cast("long").alias("rev_cents"),
        )
        .orderBy("abc", "xyz")
    )
