"""Round-9 wave 1 (X163/X164): k-anonymity generalization audit and the
third diagnose->remedy loop — stats-driven join-strategy selection with a
physical-plan assertion.

Reference parity: the reference has no privacy or planner surface; these
are the governance/ops keys a 100 TB shared corpus needs (X164 completes
the autotune family started by Z66 salt autotune and X161 CBO reorder).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register

# ---------------------------------------------------------------------------
# X163: k-anonymity audit across generalization levels
# ---------------------------------------------------------------------------

_K_ANON = 5

# (level label, DuckDB QI exprs, Spark QI exprs) — coarser level = fewer,
# larger equivalence classes = less suppression
_QI_LEVELS = [
    (
        "L0_type_date_hour",
        ["event_type", "CAST(ts AS DATE)", "EXTRACT(hour FROM ts)"],
        ["event_type", "to_date(ts)", "hour(ts)"],
    ),
    (
        "L1_type_date",
        ["event_type", "CAST(ts AS DATE)"],
        ["event_type", "to_date(ts)"],
    ),
    ("L2_type", ["event_type"], ["event_type"]),
]


def _kanon_oracle() -> str:
    parts = []
    for label, duck_qi, _ in _QI_LEVELS:
        qi = ", ".join(duck_qi)
        parts.append(f"""
        SELECT '{label}' AS level,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN c < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_small_classes,
               CAST(sum(CASE WHEN c < {_K_ANON} THEN c ELSE 0 END) AS BIGINT)
                   AS n_rows_suppressed,
               CAST(sum(CASE WHEN c < {_K_ANON} THEN c ELSE 0 END) * 10000
                   // sum(c) AS BIGINT) AS suppress_bp
        FROM (SELECT {qi}, count(*) AS c FROM events GROUP BY {qi})""")
    return " UNION ALL ".join(parts) + " ORDER BY level"


@register("events_kanonymity_generalization", "X163", oracle=_kanon_oracle())
def events_kanonymity_generalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit for a release of the events table: at each
    quasi-identifier generalization level — (type, date, hour) ->
    (type, date) -> (type) — count the equivalence classes, the classes
    smaller than k=5, and the rows those classes would force to be
    suppressed (the k-anonymity release rule: a row is publishable only
    inside a class of >= k peers).  Reading the suppress_bp column down
    the levels is how a data steward picks the coarsest level that keeps
    suppression tolerable before sharing a corpus.

    Scale shape: one groupBy per level (map-side combine onto the class
    keys), each followed by a bounded class-histogram rollup — three
    linear shuffles over progressively coarser keys, exact integer
    output, no windows and no driver collection."""
    ev = table(spark, sf_dir, "events")
    outs = []
    for label, _, spark_qi in _QI_LEVELS:
        classes = ev.groupBy(*[F.expr(e) for e in spark_qi]).agg(
            F.count("*").alias("c")
        )
        small = F.col("c") < _K_ANON
        outs.append(
            classes.agg(
                F.lit(label).alias("level"),
                F.count("*").alias("n_classes"),
                F.sum(small.cast("long")).alias("n_small_classes"),
                F.sum(F.when(small, F.col("c")).otherwise(F.lit(0))).alias(
                    "n_rows_suppressed"
                ),
                F.expr(
                    f"sum(CASE WHEN c < {_K_ANON} THEN c ELSE 0 END) * 10000"
                    " div sum(c)"
                ).alias("suppress_bp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("level")


# ---------------------------------------------------------------------------
# X164: stats-driven join-strategy autotune (diagnose -> remedy loop 3)
# ---------------------------------------------------------------------------

_BROADCAST_ROW_TH = 100  # dims under this many rows broadcast; others SMJ


@register(
    "diag_join_strategy_autotune",
    "X164",
    oracle=f"""
    WITH cc AS (SELECT count(*) AS n FROM customer),
    nc AS (SELECT count(*) AS n FROM nation)
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents,
           CASE WHEN (SELECT n FROM cc) < {_BROADCAST_ROW_TH}
                THEN 'broadcast' ELSE 'smj' END AS customer_path,
           CASE WHEN (SELECT n FROM nc) < {_BROADCAST_ROW_TH}
                THEN 'broadcast' ELSE 'smj' END AS nation_path
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def diag_join_strategy_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third diagnose->remedy loop (after Z66's salt autotune and
    X161's CBO reorder): MEASURE each dimension's row count, CHOOSE the
    join strategy from the measurement (under {_BROADCAST_ROW_TH} rows
    -> broadcast hash join; at/over -> sort-merge with an explicit merge
    hint so neither the static threshold nor AQE second-guesses the
    advisor), EXECUTE the chosen plan, and ASSERT the physical plan
    actually contains the chosen operators — the same closed loop a
    100 TB planner service runs off table statistics instead of counts.
    The chosen path is emitted as a data column so the oracle re-derives
    the decision from the same counts the advisor measured.

    The two dim counts are bounded control-flow scalars (the X161/Z67
    pattern — they choose the plan, they are not the result).  At the
    test SFs nation (25 rows) always broadcasts and customer (>= 150
    rows) always sort-merges, so both branches stay exercised."""
    from debias_spark.plans import join_strategies

    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def pick(dim: DataFrame, rows: int) -> tuple[DataFrame, str, str]:
        if rows < _BROADCAST_ROW_TH:
            return F.broadcast(dim), "broadcast", "BroadcastHashJoin"
        return dim.hint("merge"), "smj", "SortMergeJoin"

    d_cust, cust_path, cust_node = pick(cust, cust.count())
    d_nat, nat_path, nat_node = pick(nat, nat.count())

    result = (
        orders.join(d_cust, orders.o_custkey == d_cust.c_custkey)
        .join(d_nat, F.col("c_nationkey") == d_nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
        )
        .select(
            "n_name",
            "n_orders",
            "rev_cents",
            F.lit(cust_path).alias("customer_path"),
            F.lit(nat_path).alias("nation_path"),
        )
    )
    # close the loop: the REMEDY must be visible in the physical plan
    got = join_strategies(result)
    for node in {cust_node, nat_node}:
        # raise, not assert: in-key proof guards must survive python -O
        if node not in got:
            raise RuntimeError(f"autotune chose {node} but the plan has {got}")
    return result
