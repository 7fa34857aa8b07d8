"""Round-9 wave 4 (X168/X169): referential-integrity audit and the
EXECUTE IMMEDIATE surface.

Reference parity: the reference trusts its inputs blindly (call-debias.py
reads whatever the folder holds); X168 is the constraint audit a lakehouse
runs because nothing enforces foreign keys at 100 TB, X169 pins Spark 4's
dynamic-SQL entry point (string query + USING parameters + INTO variable),
the remaining parameterization surface after sql_parameterized_query and
sql_session_variables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents_sql
from debias_spark.registry import register
from debias_spark.session import temp_views

# ---------------------------------------------------------------------------
# X168: referential-integrity / constraint audit
# ---------------------------------------------------------------------------


@register(
    "diag_referential_integrity_audit",
    "X168",
    oracle="""
    SELECT 'lineitem_orphans' AS constraint_name,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'orders_childless',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders o LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders_bad_custkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem_dup_pk',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
    FROM (SELECT count(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_linenumber)
    ORDER BY constraint_name
    """,
)
def diag_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over the star schema: orphaned lineitems (no
    parent order), childless orders, orders pointing at missing
    customers, and duplicated lineitem primary keys — each as one row of
    (checked, violations).  Nothing at lake scale enforces these; a
    pipeline that joins on them silently drops or duplicates rows, so
    the audit runs BEFORE the joins do, and zero-violation rows are the
    evidence (the oracle hash proves the zeros are computed, not
    assumed).

    Scale shape: three left joins on their natural keys (the same
    shuffles the production joins pay — auditing is a dry run of the
    join graph) and one groupBy for the key-uniqueness census; exact
    integer output."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")

    def audit(name: str, left: DataFrame) -> DataFrame:
        miss = F.col("_rk").isNull()
        return left.agg(
            F.lit(name).alias("constraint_name"),
            F.count("*").alias("n_checked"),
            F.sum(miss.cast("long")).alias("n_violations"),
        )

    a1 = audit(
        "lineitem_orphans",
        li.select("l_orderkey").join(
            orders.select(F.col("o_orderkey").alias("_rk")),
            F.col("l_orderkey") == F.col("_rk"),
            "left",
        ),
    )
    a2 = audit(
        "orders_childless",
        orders.select("o_orderkey").join(
            li.select(F.col("l_orderkey").alias("_rk")).distinct(),
            F.col("o_orderkey") == F.col("_rk"),
            "left",
        ),
    )
    a3 = audit(
        "orders_bad_custkey",
        orders.select("o_custkey").join(
            cust.select(F.col("c_custkey").alias("_rk")),
            F.col("o_custkey") == F.col("_rk"),
            "left",
        ),
    )
    pk = li.groupBy("l_orderkey", "l_linenumber").agg(F.count("*").alias("n"))
    a4 = pk.agg(
        F.lit("lineitem_dup_pk").alias("constraint_name"),
        F.count("*").alias("n_checked"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0))).alias(
            "n_violations"
        ),
    )
    return a1.unionByName(a2).unionByName(a3).unionByName(a4).orderBy(
        "constraint_name"
    )


# ---------------------------------------------------------------------------
# X169: EXECUTE IMMEDIATE — dynamic SQL with USING params and INTO variable
# ---------------------------------------------------------------------------


@register(
    "sql_execute_immediate_pack",
    "X169",
    oracle=f"""
    WITH mx AS (SELECT max(o_totalprice) AS m FROM orders)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           {cents_sql("max(o_totalprice)")} AS max_cents
    FROM orders, mx
    WHERE o_totalprice >= mx.m / 2 AND o_orderpriority <> '5-LOW'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sql_execute_immediate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 EXECUTE IMMEDIATE, all three moving parts in one chain:
    a scalar query executed INTO a session variable (the corpus max), a
    query TEXT held in a string variable, and the text executed with
    positional USING parameters — one derived from the captured variable
    (half the max price), one a literal exclusion.  This is the dynamic-
    SQL entry point report generators use when the query shape itself is
    configuration; sql_parameterized_query covers spark.sql(args=...)
    and sql_session_variables covers named state — this key pins the SQL-
    native string-execution path.

    Catalyst plans the executed text like any static query (the filter
    reaches the scan), so the oracle simply states the equivalent static
    SQL with a scalar subquery for the captured variable.  The text held
    in ``ei_query`` names a catalog view, so the frame is a scoped
    ``temp_views`` view."""
    with temp_views(spark, _ei_orders=table(spark, sf_dir, "orders")):
        spark.sql("DECLARE OR REPLACE VARIABLE ei_max DOUBLE")
        spark.sql("EXECUTE IMMEDIATE 'SELECT max(o_totalprice) FROM _ei_orders' INTO ei_max")
        spark.sql("DECLARE OR REPLACE VARIABLE ei_query STRING")
        spark.sql(
            f"""SET VARIABLE ei_query =
               'SELECT o_orderpriority,
                       count(*) AS n_orders,
                       {cents_sql("max(o_totalprice)")} AS max_cents
                FROM _ei_orders
                WHERE o_totalprice >= ? AND o_orderpriority <> ?
                GROUP BY o_orderpriority ORDER BY o_orderpriority'"""
        )
        return spark.sql("EXECUTE IMMEDIATE ei_query USING (ei_max / 2, '5-LOW')")
