"""Round-7 block wave 4 (X136-X138): SQL scripting (the Spark 4
procedural BEGIN/DECLARE/WHILE surface), DataFrame.transpose(), and the
approx_top_k sketch aggregate.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import register
from debias_spark.session import pinned_confs


@register(
    "sql_scripting_budget_loop",
    "X136",
    oracle="""
    WITH RECURSIVE monthly AS MATERIALIZED (
        SELECT month(o_orderdate) AS mth, count(*) AS c
        FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1
    ),
    rec AS (
        -- JOIN, not a correlated scalar subquery: DuckDB re-executions of a
        -- correlated subquery against a MATERIALIZED CTE inside a recursive
        -- CTE are nondeterministic (measured: correct on the connection's
        -- first execution, silently NULL on repeats)
        SELECT 0 AS m, CAST(1000000 AS BIGINT) AS bal
        UNION ALL
        SELECT r.m + 1,
               r.bal + (r.bal * COALESCE(mo.c, 0)) // 1000000
        FROM rec r LEFT JOIN monthly mo ON mo.mth = r.m + 1
        WHERE r.m < 12
    )
    SELECT CAST(m AS INT) AS month, bal FROM rec WHERE m >= 1 ORDER BY month
    """,
)
def sql_scripting_budget_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN/DECLARE/WHILE): a sequential
    compounding fold — each month's balance depends on the PREVIOUS
    month's balance times that month's 1997 order count — that no single
    window/aggregate expresses, run as a procedural script whose final
    SELECT is the returned relation.  The DuckDB oracle states the same
    fold as a WITH RECURSIVE chain; all arithmetic is bigint (DIV /
    //), so the trajectory is bit-stable on both engines.

    Plan shape: the ONE table scan happens up front building the 12-row
    monthly temp view; each loop iteration's scalar subquery touches
    only that tiny aggregate (12 rows), never the base table — at
    100 TB the procedural layer iterates over aggregate state, not
    data.  The loop's string accumulator is driver-side scripting
    state, exploded back to rows only at the final SELECT."""
    # the script executes eagerly inside spark.sql(), so the pin ends
    # with it and later keys run under driver-plain confs
    with pinned_confs(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
        """
        BEGIN
          DECLARE m INT DEFAULT 1;
          DECLARE bal BIGINT DEFAULT 1000000;
          DECLARE acc STRING DEFAULT '';
          CREATE OR REPLACE TEMPORARY VIEW _x136_monthly AS
            SELECT month(o_orderdate) AS mth, count(*) AS c
            FROM {orders} WHERE year(o_orderdate) = 1997 GROUP BY 1;
          -- temp views are lazy plans: without this, every iteration's
          -- scalar subquery would re-scan orders; the cache pins the
          -- 12-row aggregate after the first materialization
          CACHE TABLE _x136_monthly;
          WHILE m <= 12 DO
            -- the month-count lookup folds into the bal update (no
            -- separate cnt variable): 12 fewer statements, though the
            -- interleaved A/B shows only ~5% (3.52 -> 3.36s min-of-4):
            -- the floor is the 12 scalar-subquery jobs + per-statement
            -- scripting overhead, not the variable bookkeeping
            SET bal = bal + bal * (SELECT coalesce(any_value(c), 0)
                                   FROM _x136_monthly WHERE mth = m)
                            DIV 1000000;
            SET acc = acc || m || ':' || bal || ',';
            SET m = m + 1;
          END WHILE;
          UNCACHE TABLE _x136_monthly;
          DROP VIEW _x136_monthly;
          SELECT CAST(split(pair, ':')[0] AS INT) AS month,
                 CAST(split(pair, ':')[1] AS BIGINT) AS bal
          FROM (SELECT explode(filter(split(acc, ','), x -> x != '')) AS pair)
          ORDER BY month;
        END
        """,
            orders=table(spark, sf_dir, "orders"),
        )


@register(
    "sql_transpose_metrics",
    "X137",
    oracle="""
    SELECT * FROM (
        SELECT 'n_rows' AS key,
               CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS "F",
               CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS "O"
        FROM lineitem
        UNION ALL
        SELECT 'sum_qty',
               CAST(sum(CASE WHEN l_linestatus = 'F'
                             THEN CAST(l_quantity AS BIGINT) END) AS BIGINT),
               CAST(sum(CASE WHEN l_linestatus = 'O'
                             THEN CAST(l_quantity AS BIGINT) END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'n_parts',
               CAST(count(DISTINCT CASE WHEN l_linestatus = 'F'
                                        THEN l_partkey END) AS BIGINT),
               CAST(count(DISTINCT CASE WHEN l_linestatus = 'O'
                                        THEN l_partkey END) AS BIGINT)
        FROM lineitem
    ) ORDER BY key
    """,
)
def sql_transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose() (Spark 4): flip a per-linestatus metric
    report so metrics become rows and the status VALUES become columns —
    the "narrow report" orientation analysts read.  The index column's
    values ('F'/'O') become column names; all metrics are bigint so the
    least-common-type rule keeps the transposed cells bigint.  The
    oracle restates the grid as conditional aggregates, one UNION row
    per metric.

    Plan shape: the expensive part is the ordinary 2-group aggregate
    (one shuffle, map-side combined); transpose itself runs on the
    2-row aggregate OUTPUT — a constant-size driver-side flip, never on
    row-proportional data.  At 100 TB nothing changes: transpose cost
    is O(statuses x metrics), not O(rows)."""
    agg = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .orderBy("l_linestatus")
    )
    return agg.transpose().orderBy("key")


@register(
    "agg_approx_topk_events",
    "X138",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY cnt DESC, event_type
    LIMIT 4
    """,
)
def agg_approx_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k (Spark 4 sketch aggregate): heavy hitters over the
    event-type stream in ONE pass with bounded state.  maxItemsTracked
    (100) exceeds the categorical domain (~5 types; TESTDATA.md), so
    the sketch is provably exact here and the oracle is the plain exact
    top-4 — the same estimator-vs-exact audit discipline as X57.  The
    sketch's own output order is not part of the contract: we re-sort
    by (cnt DESC, event_type) and cut to 4 AFTER exploding, so a count
    tie at the boundary resolves identically on both engines (k=20 in
    the sketch call keeps every domain value in play for the cut).

    Plan shape: a single partial+final sketch aggregate — each task
    tracks <=100 (item, count) slots, merge is slot-wise — then a
    4-row sort.  At 100 TB with an unbounded domain this is THE shape
    (fixed memory, one scan, no shuffle of raw rows); the exact oracle
    only exists because the test domain is tiny."""
    return (
        table(spark, sf_dir, "events")
        .agg(F.expr("approx_top_k(event_type, 20, 100)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("event_type"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .orderBy(F.desc("cnt"), "event_type")
        .limit(4)
    )
