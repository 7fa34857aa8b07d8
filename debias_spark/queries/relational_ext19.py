"""Round-5 relational wave 7 (X106-X107): ANSI-safe arithmetic (try_*)
and case-insensitive collation — the two surfaces that decide whether a
100 TB batch job survives bad rows and locale-diverse text.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no SQL surface (SURVEY §2.G); north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents_sql
from debias_spark.registry import register


@register(
    "sql_try_arithmetic",
    "X106",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(CASE WHEN value <> 0 THEN 1 END) AS n_divisible,
           CAST(sum(CASE WHEN value <> 0
                         THEN CAST(round(100.0 / value) AS BIGINT) END)
                AS BIGINT) AS inv_sum,
           count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS n_k_parsed
    FROM events
    GROUP BY event_type
    """,
)
def sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: Spark 4 runs ANSI mode by default, so a
    divide-by-zero or overflowing cast ABORTS the job — correct for
    integrity, fatal for a 100 TB batch where a handful of degenerate
    rows are guaranteed.  try_divide / try_cast return NULL for the
    failing ROW and keep the job alive: the quarantine-don't-crash
    discipline (the CSV PERMISSIVE key Z33 is the source-level twin).
    The oracle restates the semantics with guarded CASE arithmetic.

    Plan: pure map-side projections feeding one aggregate — try_* has no
    plan cost over unchecked arithmetic; it only changes the error path."""
    ev = table(spark, sf_dir, "events")
    inv = F.try_divide(F.lit(100.0), F.col("value"))
    k = F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count(inv).alias("n_divisible"),
        F.sum(F.round(inv).cast("long")).alias("inv_sum"),
        F.count(k).alias("n_k_parsed"),
    )


@register(
    "sql_collation_lcase",
    "X107",
    oracle="""
    SELECT lower(o_orderpriority) AS priority_ci,
           count(*) AS n_orders,
           count(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY lower(o_orderpriority)
    """,
)
def sql_collation_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 COLLATE): group on a
    UTF8_LCASE-collated column — equality, GROUP BY, and joins become
    case-insensitive WITHOUT materializing a lowercased copy per
    comparison site.  The oracle restates it as lower() grouping, which
    is the semantics contract; the collated column additionally keeps its
    original bytes for display (projected back to lower here so both
    engines emit identical group labels).

    At 100 TB collation beats lower()-everywhere because the rule is
    declared ONCE on the column type: every join/group/comparison
    inherits it, and the optimizer can still prune and push down on the
    collated column instead of an opaque expression."""
    orders = table(spark, sf_dir, "orders")
    collated = orders.select(
        F.expr("o_orderpriority COLLATE UTF8_LCASE").alias("pri_ci"),
        "o_orderstatus",
    )
    return collated.groupBy("pri_ci").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    ).select(
        F.lower("pri_ci").alias("priority_ci"), "n_orders", "n_statuses"
    )


_BOM_SQL = f"""
WITH RECURSIVE bom AS (
    SELECT p_partkey AS pk, 0 AS depth,
           {cents_sql("p_retailprice")} AS cents
    FROM {{part}} WHERE p_partkey = 1
    UNION ALL
    SELECT c.p_partkey AS pk, b.depth + 1 AS depth,
           {cents_sql("c.p_retailprice")} AS cents
    FROM bom b
    CROSS JOIN (VALUES (0), (1)) AS x(i)
    JOIN {{part}} c ON c.p_partkey = b.pk * 2 + x.i
)
SELECT CAST(depth AS INTEGER) AS depth, count(*) AS n_parts,
       CAST(sum(cents) AS BIGINT) AS cents_total
FROM bom GROUP BY depth
"""


@register("sql_recursive_bom_rollup", "X109", oracle=_BOM_SQL.format(part="part"))
def sql_recursive_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE recursive CTE (Spark 4 WITH RECURSIVE): a BOM-style
    hierarchy walk — part keys form an implicit binary tree (children
    2k, 2k+1), the recursion explodes the assembly from root 1 and rolls
    up per-depth component counts and cost.  The ONE SQL template runs
    in BOTH engines, only the part relation substituted (the oracle
    names the table, Spark passes the frame): dialect-portable
    recursion, no DataFrame-loop translation at all.

    Spark executes the recursion as iterated joins against the
    accumulated working set — the engine-managed version of the manual
    checkpoint loops this repo uses for cyclic graphs (X96 BFS,
    PageRank).  Spark's recursion supports UNION ALL only, so it is the
    right tool exactly when the traversal is ACYCLIC (each node reached
    once — trees, DAG levels); cyclic reachability still needs the
    manual loop with its anti-join dedup, which is why both spellings
    exist in this repo.

    Scale shape: each recursion level is one EQUI-join of the frontier
    against the dimension — the child keys expand on the frontier side
    via a 2-row VALUES cross join so the join condition stays
    hash-joinable (the `= pk*2 OR = pk*2+1` disjunction planned a
    nested-loop scan of part PER LEVEL: 5.0s -> 2.3s at sf0.1, and at
    100 TB a per-level dimension re-scan would be fatal).  Residual cost
    is per-level iteration overhead, same profile as the manual BFS;
    depth is bounded at log2(|part|)."""
    return spark.sql(_BOM_SQL, part=table(spark, sf_dir, "part"))
