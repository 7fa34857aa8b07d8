"""The TPC-H query suite (Q1-Q22) over the driver's parquet tables.

The testdata has no ``partsupp`` table and ``part``/``supplier`` lack a
few columns (p_mfgr, p_container, s_address, comments), so Q2/Q11/Q16/Q20
are ADAPTED: the part-supplier relation is derived from ``lineitem``
(which supplier actually shipped which part, at what unit price /
quantity) and comment-regex filters map to existing columns.  Each
adaptation keeps the query's defining PLAN SHAPE — correlated min
decorrelated by join-back (Q2), scalar-subquery fraction threshold (Q11),
distinct-agg + NOT-IN exclusion (Q16), dominant-share semi-join chain
(Q20) — which is what the suite exercises.

Money is integerized per row as floor(x*100+0.5) cents — bit-identical
IEEE ops in any engine — so every sum is an order-independent bigint and
every rounded output or threshold comparison is engine-exact.
Quantities are integral doubles, so their sums are exact without
integerization.  The reference has no joins or subqueries (SURVEY §2.G);
these extend SURVEY §2.H's relational mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, floor_eps, floor_eps_sql
from debias_spark.registry import register


@register(
    "tpch_q3_shipping_priority",
    "Z5",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0, 2) + 0.0 AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): segment-filtered customers -> orders ->
    lineitem, revenue per urgent order, top 10.

    Plan shape: customer (filtered, small) broadcasts into orders; that
    join's output is still dimension-sized relative to lineitem, so it
    broadcasts again into the fact scan — lineitem is never shuffled until
    the final aggregate.  Dates are filtered in the scan (pushdown) and the
    output date is a string per the determinism contract.
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-06-01 00:00:00'")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ '1998-06-01 00:00:00'")
    )
    joined = li.join(
        F.broadcast(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        ),
        li.l_orderkey == F.col("o_orderkey"),
    )
    agg = joined.groupBy(
        "l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date")
    ).agg(
        (
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + 0.5
                    ).cast("long")
                )
                / 100.0,
                2,
            )
            + 0.0
        ).alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10).select(
        "l_orderkey", "revenue", "order_date"
    )


@register(
    "tpch_q5_local_supplier_volume",
    "Z10",
    oracle="""
    SELECT n.n_name,
           round(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0, 2) + 0.0 AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the canonical CYCLIC multiway join —
    lineitem connects to both orders->customer and supplier, and the cycle
    closes on c_nationkey = s_nationkey, which no star-schema plan handles
    for free.

    Plan shape: every dimension side (customer, supplier, nation, region)
    broadcasts; lineitem joins orders on its own key first (the only
    fact-sized equi-join), then the supplier join applies BOTH conditions
    (suppkey equality + nation equality) in one broadcast hash join, so the
    cycle never forces a second fact shuffle.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    euro_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    euro_supp = supp.join(
        F.broadcast(euro_nations), supp.s_nationkey == euro_nations.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")

    co = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    joined = li.join(F.broadcast(co), li.l_orderkey == F.col("o_orderkey")).join(
        F.broadcast(euro_supp),
        (li.l_suppkey == F.col("s_suppkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    return joined.groupBy("n_name").agg(
        (
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + 0.5
                    ).cast("long")
                )
                / 100.0,
                2,
            )
            + 0.0
        ).alias("revenue")
    )


@register(
    "tpch_q10_returned_items",
    "Z21",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0, 2) + 0.0 AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): customers ranked by revenue
    lost to returns in one quarter.  Same broadcast discipline as Q3/Q5:
    the returnflag filter is pushed into the fact scan, date-filtered
    orders + customer + nation all broadcast, one aggregate exchange, top
    20 with a custkey tiebreak."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1997-07-01 00:00:00'"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cn = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )
    oc = orders.join(F.broadcast(cn), orders.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "c_custkey", "c_name", "n_name"
    )
    joined = li.join(F.broadcast(oc), li.l_orderkey == F.col("o_orderkey"))
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        (
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + 0.5
                    ).cast("long")
                )
                / 100.0,
                2,
            )
            + 0.0
        ).alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


@register(
    "tpch_q4_order_priority",
    "X34",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS = left-semi join with a non-equi
    residual.  The semi join keeps the orders side small (quarter filter is
    scan-pushed); no lineitem row survives the join, so the shuffle carries
    only (l_orderkey, l_shipdate)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1996-04-01 00:00:00'"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q12_priority_class",
    "X35",
    oracle="""
    SELECT l_returnflag,
           count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
               AS high_line_count,
           count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
               AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def tpch_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional-aggregate classification.  Both
    counts come from ONE pass over the joined rows (no per-class re-scan);
    the year filter is pushed to the lineitem scan."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "tpch_q14_promo_revenue",
    "X36",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                             THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                             * 100 + 0.5) AS BIGINT)
                             ELSE 0 END)
                 / sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                  * 100 + 0.5) AS BIGINT)), 4)
               AS promo_revenue_pct,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast dim join + conditional-sum ratio.  part is
    broadcast (dim-sized), so the month of lineitem never shuffles; the
    ratio is computed from two sums of the same single pass.  Revenue is
    integerized per row (floor(x*100+0.5) — pure IEEE ops, bit-identical in
    any engine) so the sums are order-independent bigints: double sums
    depend on partial-aggregation order and can land on opposite sides of
    the final rounding boundary across engines."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-03-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1996-04-01 00:00:00'"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    promo_cents = F.when(F.col("p_type") == "PROMO", rev_cents).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo_cents) / F.sum(rev_cents), 4).alias(
                "promo_revenue_pct"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_q18_large_orders",
    "X23",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 260
    )
    SELECT c_name, o.o_orderkey, round(o_totalprice, 2) AS o_totalprice,
           sum_qty
    FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey
             JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o.o_orderkey LIMIT 20
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate joined back to its
    parents.  The heavy groupBy(l_orderkey) runs FIRST and the >260 filter
    cuts it to ~1% before any join, so the join inputs are tiny; order of
    operations is the whole point of this plan at scale."""
    li = table(spark, sf_dir, "lineitem")
    # filter on the RAW sum (matching the oracle's HAVING sum(l_quantity) >
    # 260 exactly); round only in the projected column.  Filtering on the
    # rounded value is equivalent only while l_quantity is integral, which
    # a testdata regeneration could silently change.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 260)
        .select("l_orderkey", F.round(F.col("raw_qty"), 2).alias("sum_qty"))
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "tpch_q19_disjunctive",
    "X24",
    oracle="""
    SELECT round(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                          AS BIGINT)) / 100.0, 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-ANDs) join residual.  Catalyst
    extracts the common subexpressions it can push: the brand/size
    disjunction prunes the broadcast part side at its scan, and only the
    mixed part+lineitem terms stay as the join residual."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#23") & s.between(10, 30) & q.between(10, 30))
        | ((b == "Brand#3") & s.between(20, 50) & q.between(20, 40))
    )
    # integer-cents revenue: per-row floor(x*100+0.5) is bit-identical
    # across engines, and the bigint sum is order-independent — the raw
    # double sum depends on partial-aggregation order.
    rev_cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(rev_cents) / 100.0, 2).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "tpch_q22_idle_balances",
    "X25",
    oracle="""
    WITH avg_bal AS (
        SELECT sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) * 1.0
               / count(*) AS a_cents
        FROM customer WHERE c_acctbal > 0.0
    ), recent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-08-01'
    )
    SELECT c_nationkey, count(*) AS numcust,
           round(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) / 100.0, 2)
               AS totacctbal
    FROM customer, avg_bal
    WHERE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) > a_cents
      AND c_custkey NOT IN (SELECT o_custkey FROM recent)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def tpch_q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery + NOT EXISTS anti join.  The global
    average is a 1-row broadcast (never a collect); the anti join's build
    side is the filtered DISTINCT custkey set.  (Adapted predicate: every
    synthetic customer has orders, so 'no order at all' would be empty —
    'no order in the final year' keeps the anti join selective.)  Balances
    are integerized per row (floor(x*100+0.5), bit-identical IEEE ops) so
    both the average threshold and the group totals are order-independent
    — a double avg() depends on partial-aggregation order, and a customer
    sitting within one ulp of it can flip sides across engines."""
    c = table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (F.sum(cents) * 1.0 / F.count("*")).alias("a_cents")
    )
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '2000-08-01 00:00:00'"))
        .select("o_custkey")
        .distinct()
    )
    return (
        c.withColumn("bal_cents", cents)
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("bal_cents") > F.col("a_cents"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("bal_cents") / 100.0, 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "tpch_q17_small_quantity",
    "X32",
    oracle="""
    WITH li12 AS (
        SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_brand = 'Brand#12')
    ), part_avg AS (
        SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS half_avg_qty
        FROM li12 GROUP BY l_partkey
    )
    SELECT round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 / 700.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM li12 JOIN part_avg ON pk = l_partkey
    WHERE l_quantity < half_avg_qty
    """,
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar aggregate (each line compared to
    ITS part's average quantity).  Decorrelated the way Catalyst would, with
    the reduction ordered for scale: lineitem is first semi-joined to the
    Brand#12 part set (~1/25 of parts), the per-part average is computed
    over only that reduced set, and the average joins back on l_partkey —
    the partitioning from the semi join is reused by both the groupBy and
    the join-back, so the brand's lines shuffle once.  NO forced broadcast
    anywhere: part_avg is keyed by partkey, which scales with SF (~20 B
    rows at 100 TB) — broadcasting it OOMs the driver at scale.  AQE picks
    broadcast at small SF on its own.  Revenue is per-row integer cents
    (floor(x*100+0.5)) so the sum is order-independent; /700.0 of a bigint
    cannot land on a half-cent boundary, so the final round is engine-exact.
    (The naive correlated form re-aggregates per probe row — quadratic; the
    decorrelated form is two linear passes over the reduced set.)"""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p12 = table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#12"
    ).select("p_partkey")
    li12 = li.join(p12, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
    part_avg = li12.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    return (
        li12.join(part_avg, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum(cents) / 700.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_q21_sole_late_shipper",
    "X33",
    oracle="""
    WITH late AS (
        SELECT l_orderkey, l_suppkey FROM lineitem JOIN orders
          ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, count(*) AS numwait
    FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name ORDER BY numwait DESC, s_name
    """,
)
def tpch_q21_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: double-correlated EXISTS + NOT EXISTS — suppliers
    who were the ONLY late shipper on a multi-supplier order.  Both
    correlations run as semi/anti joins on the order key: one left-semi
    against other-supplier lines, one left-anti against other-supplier
    LATE lines; the late set is computed once and reused for probe and
    anti sides.  Every join is key-partitioned — no per-row re-scan, which
    is what the correlated subquery would naively do."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        # the late set feeds BOTH the probe (l1) and anti (l3) sides —
        # materialize the lineitem-orders join once (1.59 -> 1.48 s sf0.1)
        .localCheckpoint(eager=True)
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    others = l1.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    sole = others.join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
        "left_anti",
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


# per-row revenue in integer cents (order-independent bigint sums)
_REV_CENTS_SQL = "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"


def _rev_cents() -> F.Column:
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")


@register(
    "tpch_q7_nation_trade",
    "X40",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           round(sum({_REV_CENTS_SQL}) / 100.0, 2) + 0.0 AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
       OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue flowing between two nations, per
    year, both directions.  Plan shape: supplier and customer are each
    nation-FILTERED first (broadcast of the 2-row nation side cuts both to
    ~2/25 before any fact join), lineitem joins orders on the order key,
    then the reduced supplier/customer sides attach — no forced broadcast
    of SF-scaled tables; AQE picks broadcast at small SF from measured
    sizes.  The pair disjunction is evaluated on the two attached nation
    names, exactly as written."""
    nations = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", _rev_cents().alias("cents")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg((F.round(F.sum("cents") / 100.0, 2) + 0.0).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    "X41",
    oracle=f"""
    WITH vol AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               {_REV_CENTS_SQL} AS cents,
               n1.n_name AS supp_nation
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region   ON n2.n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
                 * 1.0 / sum(cents), 4) + 0.0 AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of STANDARD-part
    revenue sold into the EUROPE customer market, per order year.  Plan
    shape: the customer side is region-filtered via broadcast
    nation+region; the part filter broadcasts into the fact scan; the share
    is a conditional-sum ratio over ONE pass (no second scan for the
    denominator).  Integer-cents numerator/denominator make the ratio
    engine-exact."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("euro_nk"))
    cust = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(euro_nations), F.col("c_nationkey") == F.col("euro_nk"))
        .select("c_custkey")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select(
        "p_partkey"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", _rev_cents().alias("cents")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    vol = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
    )
    brazil = F.when(F.col("supp_nation") == "NATION_3", F.col("cents")).otherwise(
        F.lit(0)
    )
    return (
        vol.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.round(F.sum(brazil) * 1.0 / F.sum("cents"), 4) + 0.0).alias(
                "mkt_share"
            )
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q9_product_profit",
    "X42",
    oracle="""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(sum(CAST(floor((l_extendedprice * (1 - l_discount)
                                 - 0.6 * p_retailprice * l_quantity) * 100
                                + 0.5) AS BIGINT)) / 100.0, 2) + 0.0 AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), ADAPTED: no partsupp, so supply cost
    is proxied as 60% of p_retailprice (reference parity is the SHAPE —
    profit expression over a 5-way star join, grouped by supplier nation
    and order year).  Per-row profit is integerized to cents before the sum
    (can be negative; floor(x+0.5) is the same IEEE op in both engines
    either side of zero).  The part-name filter broadcasts; supplier/nation
    attach to the fact after its orders join."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit_cents = F.floor(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
        + 0.5
    ).cast("long")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((F.round(F.sum(profit_cents) / 100.0, 2) + 0.0).alias("profit"))
        .orderBy("nation", "o_year")
    )


@register(
    "tpch_q13_order_distribution",
    "X43",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): histogram of
    per-customer order counts, excluding urgent orders (the comment-regex
    exclusion mapped onto o_orderpriority).  Plan shape: orders are
    AGGREGATED FIRST on o_custkey (one fact-sized shuffle collapsed
    map-side), then customer LEFT-joins the counts on the same key — both
    sides partitioned by custkey, and zero-order customers surface via the
    left join + coalesce, never via a fact-side outer join.  Pure counts:
    no floating point anywhere."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    per_cust_orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    per_cust = c.join(
        per_cust_orders, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q15_top_supplier",
    "X44",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey, sum({_REV_CENTS_SQL}) AS total_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           round(total_cents / 100.0, 2) + 0.0 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_cents = (SELECT max(total_cents) FROM rev)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) achieving the maximum revenue
    in one quarter.  Plan shape: the revenue view is one date-pruned
    aggregate; the scalar max is a 1-row broadcast cross join (never a
    collect); the equality filter then keeps the argmax row(s); supplier
    names attach last, on the already-tiny winner set.  Integer-cents totals
    make the max comparison exact — a double sum could disagree with the
    oracle's max by one ulp and return a different supplier."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1997-04-01 00:00:00'"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev_cents()).alias("total_cents"))
    mx = rev.agg(F.max("total_cents").alias("max_cents"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_cents") == F.col("max_cents"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.round(F.col("total_cents") / 100.0, 2) + 0.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q2_min_cost_supplier",
    "X45",
    oracle="""
    WITH psel AS (
        SELECT p_partkey, p_name FROM part
        WHERE p_size BETWEEN 10 AND 30 AND p_type = 'LARGE'
    ), unit AS (
        SELECT l_partkey, l_suppkey,
               min(CAST(floor(l_extendedprice / l_quantity * 100 + 0.5)
                        AS BIGINT)) AS unit_cents
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM psel)
        GROUP BY l_partkey, l_suppkey
    ), euro_supp AS (
        SELECT s_suppkey, s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ), offers AS (
        SELECT u.l_partkey, u.l_suppkey, u.unit_cents, e.s_name, e.n_name
        FROM unit u JOIN euro_supp e ON e.s_suppkey = u.l_suppkey
    ), best AS (
        SELECT l_partkey AS bp, min(unit_cents) AS best_cents
        FROM offers GROUP BY l_partkey
    )
    SELECT p_partkey, p_name, s_name, n_name AS supp_nation,
           round(unit_cents / 100.0, 2) + 0.0 AS unit_price
    FROM offers
    JOIN best ON bp = l_partkey AND unit_cents = best_cents
    JOIN psel ON p_partkey = l_partkey
    ORDER BY p_partkey, s_name
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), ADAPTED: no partsupp, so the offer
    relation is derived from lineitem — a supplier's unit price for a part
    is the min observed extendedprice/quantity, in cents.  The defining
    shape survives intact: a correlated MIN subquery decorrelated as a
    per-part aggregate joined back on (partkey, price), restricted to one
    region's suppliers, with attribute filters on part.  All-ties semantics
    match TPC-H (every supplier at the min price returns).  The selective
    part filter is applied FIRST as a semi join into lineitem — the offer
    aggregate and per-part min then run over ~3% of the fact instead of all
    of it (the filter-last form scanned lineitem twice in full).  The
    join-back reuses the partkey partitioning of the offers aggregate."""
    psel = table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 30) & (F.col("p_type") == "LARGE")
    ).select("p_partkey", "p_name")
    li = table(spark, sf_dir, "lineitem")
    unit = (
        li.join(
            psel.select("p_partkey"),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                F.floor(
                    F.col("l_extendedprice") / F.col("l_quantity") * 100 + 0.5
                ).cast("long")
            ).alias("unit_cents")
        )
    )
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_supp = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", F.col("n_name").alias("supp_nation"))
    )
    offers = unit.join(euro_supp, F.col("s_suppkey") == F.col("l_suppkey"))
    best = offers.groupBy(F.col("l_partkey").alias("bp")).agg(
        F.min("unit_cents").alias("best_cents")
    )
    p = psel
    return (
        offers.join(
            best,
            (F.col("bp") == F.col("l_partkey"))
            & (F.col("unit_cents") == F.col("best_cents")),
        )
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "supp_nation",
            (F.round(F.col("unit_cents") / 100.0, 2) + 0.0).alias("unit_price"),
        )
        .orderBy("p_partkey", "s_name")
    )


@register(
    "tpch_q11_important_inventory",
    "X46",
    oracle=f"""
    WITH top_nation AS (
        SELECT s_nationkey FROM supplier GROUP BY s_nationkey
        ORDER BY count(*) DESC, s_nationkey LIMIT 1
    ), nat_value AS (
        SELECT l_partkey, CAST(sum({_REV_CENTS_SQL}) AS BIGINT) AS value_cents
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        WHERE s_nationkey = (SELECT s_nationkey FROM top_nation)
        GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, value_cents
    FROM nat_value
    WHERE value_cents > (SELECT sum(value_cents) * 0.001 FROM nat_value)
    ORDER BY value_cents DESC, p_partkey
    """,
)
def tpch_q11_important_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), ADAPTED: no partsupp, so a part's value
    held by a nation = revenue its suppliers shipped of that part; the
    nation is the one with the most suppliers (deterministic tie-break on
    key) so the query is non-empty at every SF.  The defining shape
    survives: group per part, keep parts above a FRACTION of the nation
    total — a scalar subquery over the same aggregate, broadcast as one
    row, never a collect.  Integer-cents values make the fraction threshold
    engine-exact."""
    supp = table(spark, sf_dir, "supplier")
    top_nation = (
        supp.groupBy("s_nationkey")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "s_nationkey")
        .limit(1)
        .select("s_nationkey")
    )
    nat_supp = supp.join(
        F.broadcast(top_nation), "s_nationkey", "left_semi"
    ).select("s_suppkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", _rev_cents().alias("cents")
    )
    nat_value = (
        li.join(nat_supp, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum("cents").alias("value_cents"))
    )
    threshold = nat_value.agg(
        (F.sum("value_cents") * 0.001).alias("thresh")
    )
    return (
        nat_value.crossJoin(F.broadcast(threshold))
        .filter(F.col("value_cents") > F.col("thresh"))
        .select(F.col("l_partkey").alias("p_partkey"), "value_cents")
        .orderBy(F.desc("value_cents"), "p_partkey")
    )


@register(
    "tpch_q16_supplier_count",
    "X47",
    oracle="""
    WITH excluded AS (
        SELECT s_suppkey FROM supplier
        WHERE s_acctbal < (SELECT avg(s_acctbal) * 0.5 FROM supplier)
    )
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 9, 15, 20, 25, 36, 44, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM excluded)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (part-supplier relationships), ADAPTED: the part-supplier
    relation comes from lineitem; the complaint-comment exclusion maps to
    suppliers holding under half the average account balance.  The defining
    shape survives: distinct-supplier count per part attribute triple, an
    attribute IN-list pruned at the part scan, and a NOT-IN exclusion run
    as a LEFT-ANTI join (build side = the excluded supplier set, which is
    supplier-scaled — AQE chooses broadcast at small SF; the anti join
    never rewrites to a nullable NOT-IN nested loop because the subquery is
    join-keyed)."""
    supp = table(spark, sf_dir, "supplier")
    avg_bal = supp.agg((F.avg("s_acctbal") * 0.5).alias("half_avg"))
    excluded = (
        supp.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("s_acctbal") < F.col("half_avg"))
        .select("s_suppkey")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 9, 15, 20, 25, 36, 44, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(excluded, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q20_dominant_supplier",
    "X48",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty_ps
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY l_partkey, l_suppkey
    ), totals AS (
        SELECT l_partkey AS tp, sum(qty_ps) AS qty_p,
               count(*) AS n_supp
        FROM ps GROUP BY l_partkey
    ), dominant AS (
        SELECT DISTINCT l_suppkey FROM ps JOIN totals ON tp = l_partkey
        WHERE n_supp > 1 AND qty_ps * n_supp > 3.0 * qty_p
    )
    SELECT s_suppkey, s_name FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
    ORDER BY s_suppkey
    """,
)
def tpch_q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (excess-stock suppliers), ADAPTED: no partsupp availqty,
    so the correlated half-sum test becomes a dominant-share test —
    suppliers who shipped more than 3x their fair share (share * n_supp >
    3) of some bolt part with multiple suppliers.  Share thresholds are
    scale-free, so the key stays selective-but-nonempty at every SF.  The
    defining shape survives: two-level aggregate (part-supplier, then
    part), join-back on the part key (partitioning reused), DISTINCT
    supplier set, then a SEMI join into supplier — the name table never
    joins the fact.  Quantities are integral doubles: sums and the 3x
    comparison are exact."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select(
        "p_partkey"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    ps = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty_ps"))
    )
    totals = ps.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("qty_ps").alias("qty_p"), F.count("*").alias("n_supp")
    )
    dominant = (
        ps.join(totals, F.col("tp") == F.col("l_partkey"))
        .filter(
            (F.col("n_supp") > 1)
            & (F.col("qty_ps") * F.col("n_supp") > 3.0 * F.col("qty_p"))
        )
        .select("l_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        s.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q1_pricing_summary",
    "X1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           {floor_eps_sql("avg(l_quantity)", 10000)} AS avg_qty_e4,
           {floor_eps_sql("avg(l_extendedprice)", 10000)} AS avg_price_e4,
           {floor_eps_sql("avg(l_discount)", 10000)} AS avg_disc_e4,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical pricing-summary scan-agg.  One pass,
    one shuffle of 4-ish partial rows per partition — the benchmark query
    whole-stage codegen was built for."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-01 00:00:00'")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            floor_eps(F.avg("l_quantity"), 10000).cast("long").alias("avg_qty_e4"),
            floor_eps(F.avg("l_extendedprice"), 10000).cast("long").alias("avg_price_e4"),
            floor_eps(F.avg("l_discount"), 10000).cast("long").alias("avg_disc_e4"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "tpch_q6_forecast_revenue",
    "X2",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.09
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective multi-predicate filter + global agg.
    Every predicate is scan-pushable; the aggregate is a single scalar."""
    li = table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.09)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n"),
    )
