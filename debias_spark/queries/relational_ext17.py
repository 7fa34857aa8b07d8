"""Round-5 relational wave 5 (X101-X103): the modern Spark 4 SQL
surfaces — the VARIANT semi-structured type, SQL session variables, and
parameterized queries.

No reference citation: the reference (SirHooke/debias-batch-processor)
parses JSON eagerly into Python dicts per file (no query surface at
all); north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents_sql
from debias_spark.registry import register


@register(
    "sql_variant_json_path",
    "X101",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def sql_variant_json_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT (Spark 4's shredded semi-structured type): parse the JSON
    props column ONCE into the binary VARIANT encoding, then extract
    typed paths with variant_get — versus get_json_object, which
    re-parses the string per path per row.  The aggregate over the
    extracted field hash-matches DuckDB's json_extract.

    Why VARIANT at 100 TB: semi-structured columns dominate event lakes;
    the binary encoding makes path access O(field) instead of O(doc
    re-parse), and the parse cost is paid once per row for ALL paths (a
    writer would shred it to storage once).  The plan stays one scan +
    one map-side-combined aggregate — the parse is a projection."""
    ev = table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("k_sum"),
        F.max(k).alias("k_max"),
    )


@register(
    "sql_session_variables",
    "X102",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE o_totalprice >= 150000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE / SET VARIABLE): thresholds
    live as typed session state and queries reference them by name — the
    SQL-native way to parameterize dashboards and scheduled reports
    without string-pasting literals.

    Catalyst folds variable references to literals at analysis time, so
    pushdown and partition pruning see a constant — the plan is identical
    to the hand-written literal query (the oracle states the literals
    directly, proving exactly that)."""
    spark.sql("DECLARE OR REPLACE VARIABLE min_price DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE want_status STRING DEFAULT 'F'")
    spark.sql("SET VARIABLE min_price = 150000.0")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
                   AS revenue_cents
        FROM {{orders}}
        WHERE o_totalprice >= min_price AND o_orderstatus = want_status
        GROUP BY o_orderpriority
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "sql_parameterized_query",
    "X103",
    oracle=f"""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o.o_totalprice")}) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE o.o_orderpriority LIKE '1%' AND o.o_totalprice >= 50000.0
    GROUP BY c.c_mktsegment
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql(..., args=...)): named :params bind
    as typed literals at parse time — the injection-safe templating
    surface client applications should use instead of string formatting.
    Parameters fold to constants, so filter pushdown is identical to the
    literal query (which is exactly what the oracle states).

    The query itself is a broadcast dim join (customer per segment) over
    a pushed-down orders filter — one shuffle for the aggregate."""
    return spark.sql(
        f"""
        SELECT c.c_mktsegment,
               count(*) AS n_orders,
               CAST(sum({cents_sql("o.o_totalprice")}) AS BIGINT)
                   AS revenue_cents
        FROM {{orders}} o JOIN {{customer}} c ON c.c_custkey = o.o_custkey
        WHERE o.o_orderpriority LIKE :prio_pattern
          AND o.o_totalprice >= :min_price
        GROUP BY c.c_mktsegment
        """,
        args={"prio_pattern": "1%", "min_price": 50000.0},
        orders=table(spark, sf_dir, "orders"),
        customer=table(spark, sf_dir, "customer"),
    )
