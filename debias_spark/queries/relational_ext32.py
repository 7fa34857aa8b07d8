"""Round-7 wave 4 (X146): the try_* conversion pack — error-safe casts,
division, element access and timestamp parsing.

Reference parity: the reference's only error handling is a broad
try/except around each API call (call-debias.py:149-160, reimplemented
as F2's in-UDF retry); the SQL-level try_* family is the declarative
counterpart per SURVEY §2.H (X106 try_arithmetic covers add/subtract/
multiply overflow; this pack covers the CONVERSION side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


@register(
    "sql_try_conversion_pack",
    "X146",
    oracle=f"""
    WITH t AS (
        SELECT o_orderpriority AS prio,
               TRY_CAST(o_orderpriority AS INTEGER) AS whole_cast,
               TRY_CAST(string_split(o_orderpriority, '-')[1] AS INTEGER)
                   AS prio_num,
               string_split(o_orderpriority, '-')[5] AS elem5,
               CASE WHEN o_custkey % 3 = 0 THEN NULL
                    ELSE {cents_sql("o_totalprice")}
                         // (o_custkey % 3) END AS div_cents,
               TRY_CAST(o_orderstatus AS TIMESTAMP) AS bad_ts
        FROM orders
    )
    SELECT prio,
           count(*) AS n,
           CAST(count(whole_cast) AS BIGINT) AS n_whole_cast_ok,
           CAST(max(prio_num) AS INTEGER) AS prio_num,
           CAST(count(elem5) AS BIGINT) AS n_elem5_ok,
           CAST(count(*) - count(div_cents) AS BIGINT) AS n_div_null,
           CAST(sum(div_cents) AS BIGINT) AS div_checksum_cents,
           CAST(count(bad_ts) AS BIGINT) AS n_ts_parsed
    FROM t GROUP BY prio ORDER BY prio
    """,
)
def sql_try_conversion_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* conversion family in one pass over orders: try_cast of a
    non-numeric string (NULL, never an ANSI error), try_cast of its
    numeric prefix (succeeds), try_element_at past an array's end
    (NULL), try_divide by a cycling zero divisor (NULL exactly where the
    divisor is 0 — integer-cents division so the quotient is exact), and
    try_to_timestamp of a non-timestamp (NULL).  Under ANSI mode (this
    engine's default) every one of these would otherwise throw, so the
    pack pins the error-safe surface an ingest pipeline needs for dirty
    data.  The oracle spells each as DuckDB's TRY_CAST / native
    out-of-bounds-NULL / CASE-guarded division — equal semantics, no
    try_* needed there.

    Scale shape: pure projection + one grouped aggregate."""
    o = table(spark, sf_dir, "orders")
    arr = F.split("o_orderpriority", "-")
    div = F.try_divide(
        cents(F.col("o_totalprice")),
        F.col("o_custkey") % 3,
    )
    t = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.try_to_number("o_orderpriority", F.lit("99999")).alias("whole_cast"),
        F.try_element_at(arr, F.lit(1)).cast("int").alias("prio_num"),
        F.try_element_at(arr, F.lit(5)).alias("elem5"),
        F.floor(div).cast("long").alias("div_cents"),
        F.try_to_timestamp("o_orderstatus").alias("bad_ts"),
    )
    return (
        t.groupBy("prio")
        .agg(
            F.count("*").alias("n"),
            F.count("whole_cast").cast("long").alias("n_whole_cast_ok"),
            F.max("prio_num").cast("int").alias("prio_num"),
            F.count("elem5").cast("long").alias("n_elem5_ok"),
            (F.count("*") - F.count("div_cents")).cast("long").alias("n_div_null"),
            F.sum("div_cents").cast("long").alias("div_checksum_cents"),
            F.count("bad_ts").cast("long").alias("n_ts_parsed"),
        )
        .orderBy("prio")
    )
