"""Round-7 block wave 5 (X139-X142): Spearman rank correlation, SQL
pipe syntax, native recursive CTE graph reach, and SQL table functions
with LATERAL correlation.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.registry import register
from debias_spark.session import temp_views


@register(
    "stats_spearman_corr",
    "X139",
    oracle=f"""
    WITH parts AS (
        SELECT l_partkey,
               sum(CAST(l_quantity AS BIGINT)) AS x,
               sum({cents_sql("l_extendedprice")}) AS y
        FROM lineitem GROUP BY 1
    ), ranked AS (
        SELECT 2 * rank() OVER (ORDER BY x)
                   + count(*) OVER (PARTITION BY x) - 1 AS rx,
               2 * rank() OVER (ORDER BY y)
                   + count(*) OVER (PARTITION BY y) - 1 AS ry
        FROM parts
    ), moments AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(rx AS HUGEINT)) AS sx,
               sum(CAST(ry AS HUGEINT)) AS sy,
               sum(CAST(rx AS HUGEINT) * rx) AS sxx,
               sum(CAST(ry AS HUGEINT) * ry) AS syy,
               sum(CAST(rx AS HUGEINT) * ry) AS sxy
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_parts,
           {floor_eps_sql("CAST(n * sxy - sx * sy AS DOUBLE)"
                          " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                          " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))", 1000000)}
               AS spearman_e6
    FROM moments
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-part total quantity and
    total revenue — the monotone-association check (Pearson on average
    ranks, the tie-aware definition).  Every rank is held in integer
    HALF-units (2*avg_rank = 2*rank_min + tie_count - 1, exact for any
    tie pattern), the five moments accumulate in exact decimal/hugeint
    arithmetic, and the only floats are the final correctly-rounded
    casts, sqrts, one multiply and one divide — IEEE-identical on both
    engines from identical exact integers, so the floor-eps e6 emission
    is bit-stable (no transcendentals anywhere).

    Scale shape: the fact scan collapses to the part dimension first
    (one map-side-combined groupBy, ~1/30 of fact rows); ranks come from
    the two-pass bucketed prefix-count over each column's DISTINCT-value
    frame (operators/prefixsum.bucketed_cumsum — bucket cutoffs from a
    mergeable percentile aggregate, cumulative counts within buckets,
    tiny per-bucket offset frame), so NO single-partition window touches
    a dimension-sized frame anywhere (r6 verdict item 3): for a distinct
    value v, cum = #rows with value <= v, hence the tie-aware half-rank
    2*rank_min + ties - 1 = 2*cum - ties + 1 exactly; the half-ranks
    join back to the parts frame on the value, and the moment aggregate
    is one row out."""
    from debias_spark.operators.prefixsum import bucketed_cumsum

    li = table(spark, sf_dir, "lineitem")
    parts = (
        li.select(
            "l_partkey",
            F.col("l_quantity").cast("bigint").alias("q"),
            cents(F.col("l_extendedprice")).alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("q").alias("x"), F.sum("cents").alias("y"))
    )

    def half_ranks(col: str, out: str):
        vals = parts.groupBy(col).agg(F.count("*").alias("_cnt"))
        c = bucketed_cumsum(
            vals, value_col="_cnt", order_col=col, tiebreak_col=col,
            descending=False,
        )
        return c.select(
            col, (2 * F.col("cum") - F.col("_cnt") + 1).alias(out)
        )

    ranked = (
        parts.join(half_ranks("x", "rx"), "x")
        .join(half_ranks("y", "ry"), "y")
        .select("rx", "ry")
    )

    def dec(c):
        return F.col(c).cast("decimal(19,0)")

    m = ranked.agg(
        F.count("*").cast("decimal(19,0)").alias("n"),
        F.sum(dec("rx")).alias("sx"),
        F.sum(dec("ry")).alias("sy"),
        F.sum(dec("rx") * dec("rx")).alias("sxx"),
        F.sum(dec("ry") * dec("ry")).alias("syy"),
        F.sum(dec("rx") * dec("ry")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    da = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    db = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_parts"),
        floor_eps(num / (F.sqrt(da) * F.sqrt(db)), 1000000)
        .cast("long")
        .alias("spearman_e6"),
    )


@register(
    "sql_pipe_syntax_chain",
    "X140",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum({cents_sql("l_extendedprice")}) AS BIGINT) AS rev_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    GROUP BY l_returnflag, l_linestatus
    HAVING count(*) > 10
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 `|>`): the same filter -> derive ->
    aggregate -> filter -> sort report spelled as a linear pipeline —
    each `|>` stage consumes the previous relation, so the query reads
    in execution order (the FROM-first style ETL authors reach for).
    The oracle is the identical standard-SQL statement; Catalyst lowers
    both to the same logical plan, so this key pins that the pipe
    surface is pure syntax with no semantic drift (the post-AGGREGATE
    WHERE must behave exactly like HAVING).

    Plan shape: identical to the classic form — pushed filter into the
    scan, map-side-combined two-key aggregate, 4-row sort."""
    return spark.sql(
        f"""
        FROM {{li}}
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |> EXTEND {cents_sql("l_extendedprice")} AS cents
        |> AGGREGATE count(*) AS n_items, sum(cents) AS rev_cents
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_items > 10
        |> ORDER BY l_returnflag, l_linestatus
        """,
        li=table(spark, sf_dir, "lineitem"),
    )


@register(
    "sql_recursive_cte_reach",
    "X141",
    oracle="""
    WITH RECURSIVE edges AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM (SELECT * FROM lineitem WHERE l_partkey < 2500) a
        JOIN (SELECT * FROM lineitem WHERE l_partkey < 2500) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), seed AS (
        SELECT min(l_partkey) AS p FROM lineitem WHERE l_partkey < 2500
    ),
    reach AS (
        SELECT p AS node, 0 AS hop FROM seed
        UNION ALL
        -- JOIN the helper CTE, never correlate into it (DuckDB
        -- re-execution nondeterminism doctrine, see X136)
        SELECT e.dst, r.hop + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hop < 2
    )
    SELECT CAST(hop AS INT) AS hop,
           CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node,
           CAST(sum(DISTINCT node) AS BIGINT) AS sum_nodes
    FROM (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
    GROUP BY 1 ORDER BY 1
    """,
)
def sql_recursive_cte_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4): breadth-first reach over the
    co-purchase graph (parts sharing an order) from the smallest part
    key, depth-capped at 2 — the declarative twin of the iterative
    checkpointed BFS in `graph_shortest_hops`, here left entirely to
    the engine's recursion operator.  The graph is probe-bounded to
    l_partkey < 2500 (the dedup_ngram_jaccard demo discipline: this key
    proves the RECURSION surface; unbounded-graph BFS at scale is
    graph_shortest_hops' checkpointed loop — the recursion operator
    reshuffles the full edge list per step, measured).  Spark's
    recursive CTEs support
    UNION ALL only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, measured), so
    the walk enumerates PATHS and min-hop/distinct aggregation after
    the recursion recovers BFS levels; the depth cap bounds path count
    at degree^2.  Summarized per hop level (count / min / max / sum of
    distinct nodes) so the result stays small while still pinning the
    exact frontier membership.

    Scale shape: the edge list builds from one self-join on l_orderkey
    (shuffle on the order key, the co-purchase standard) and is
    localCheckpointed BEFORE the recursion — a CTE referenced inside
    the recursive term is re-planned per iteration, so without the pin
    the join+DISTINCT re-runs every step (measured 5.5s -> 1.4s at
    sf0.1, the loop-invariant-frame discipline from PageRank/k-core).
    Each recursion step is then one hash join of the current frontier
    against the pinned edges.  The depth cap is the safety rail —
    unbounded UNION ALL recursion on a cyclic graph would enumerate
    exponentially many paths, so the cap (not the engine) is what
    makes this plan sane, exactly as at 100 TB."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < 2500)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
        .localCheckpoint()
    )
    return spark.sql(
        """
        WITH RECURSIVE seed AS (
            SELECT min(l_partkey) AS p FROM {li}
        ),
        reach AS (
            SELECT p AS node, 0 AS hop FROM seed
            UNION ALL
            SELECT e.dst, r.hop + 1
            FROM reach r JOIN {edges} e ON e.src = r.node
            WHERE r.hop < 2
        )
        SELECT CAST(hop AS INT) AS hop,
               count(DISTINCT node) AS n_nodes,
               min(node) AS min_node,
               max(node) AS max_node,
               sum(DISTINCT node) AS sum_nodes
        FROM (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
        GROUP BY 1 ORDER BY 1
        """,
        li=li,
        edges=edges,
    )


@register(
    "sql_table_function_lateral",
    "X142",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mth,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997, 1998)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def sql_table_function_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table function (Spark 4 CREATE FUNCTION ... RETURNS TABLE)
    invoked LATERALLY: a `monthly_report(yr)` relation-valued function
    whose body aggregates orders for the given year, called once per
    row of a driving VALUES list — the parameterized-report idiom (the
    catalog object a warehouse team ships instead of a view per year).
    The oracle is the equivalent single GROUP BY over the year set,
    pinning that the lateral decorrelation neither drops nor
    duplicates groups.

    Plan shape: Catalyst inlines the function body and decorrelates the
    lateral join into one aggregate over a year-filtered scan — the
    function boundary is free at runtime; N report invocations do NOT
    plan N scans."""
    # the function body names the view, so the view outlives the
    # CREATE; the function goes with it, so it never names a dropped view
    with temp_views(spark, _x142_orders=table(spark, sf_dir, "orders")):
        try:
            spark.sql(
                f"""
                CREATE OR REPLACE TEMPORARY FUNCTION monthly_report_x142(yr INT)
                RETURNS TABLE(mth INT, n_orders BIGINT, rev_cents BIGINT)
                RETURN SELECT CAST(month(o_orderdate) AS INT),
                              count(*),
                              sum({cents_sql("o_totalprice")})
                       FROM _x142_orders
                       WHERE year(o_orderdate) = yr
                       GROUP BY 1
                """
            )
            return spark.sql(
                """
                SELECT y.yr, f.mth, f.n_orders, f.rev_cents
                FROM (VALUES (1996), (1997), (1998)) AS y(yr),
                     LATERAL monthly_report_x142(y.yr) f
                ORDER BY y.yr, f.mth
                """
            )
        finally:
            spark.sql("DROP TEMPORARY FUNCTION IF EXISTS monthly_report_x142")


@register(
    "orders_holt_linear_forecast",
    "X143",
    oracle=f"""
    -- NOT list_reduce: DuckDB v1.0's list_reduce with a STRUCT-valued
    -- lambda corrupts the accumulator across iterations (measured: a
    -- single step from acc=(11,0.5) gives b=1.375; the identical step
    -- inside a 3-element fold gives b=0.8125).  The recurrence is
    -- stated as WITH RECURSIVE instead, with every float op spelled in
    -- the same order as the Spark fold so the doubles are bit-identical.
    WITH RECURSIVE ordered AS MATERIALIZED (
        SELECT CAST(c AS DOUBLE) AS y,
               row_number() OVER (ORDER BY idx) AS rn
        FROM (
            SELECT year(o_orderdate) * 12 + month(o_orderdate) AS idx,
                   count(*) AS c
            FROM orders GROUP BY 1
        )
    ),
    rec AS (
        SELECT 1 AS rn, y AS l, CAST(0 AS DOUBLE) AS b
        FROM ordered WHERE rn = 1
        UNION ALL
        -- JOIN the helper CTE, never correlate into it (X136 doctrine)
        SELECT r.rn + 1,
               0.5 * o.y + 0.5 * (r.l + r.b),
               0.5 * ((0.5 * o.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
        FROM rec r JOIN ordered o ON o.rn = r.rn + 1
    )
    SELECT CAST(rec.rn AS BIGINT) AS n_months,
           {floor_eps_sql("l", 10000)} AS level_e4,
           {floor_eps_sql("b", 10000)} AS trend_e4,
           {floor_eps_sql("l + b", 10000)} AS fc1_e4,
           {floor_eps_sql("l + 3 * b", 10000)}
               AS fc3_e4
    FROM rec JOIN (SELECT count(*) AS n FROM ordered) cnt ON rec.rn = cnt.n
    """,
)
def orders_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing (double exponential, alpha=beta=0.5)
    over the monthly order-count series, with 1- and 3-step forecasts —
    the trend-aware sibling of the EWMA key.  A coupled two-state
    recurrence (level feeds trend feeds level) that no window frame
    expresses; here it runs as a HOF fold (F.aggregate) over the
    ORDERED month array: both engines run the identical step left to
    right, every step is IEEE mul/add on the same doubles in the same
    textual order, so the trajectory — and the floor-eps e4 emission —
    is bit-identical.  The DuckDB replay is a WITH RECURSIVE chain over
    the row-numbered series, NOT list_reduce: v1.0's list_reduce
    corrupts struct-valued accumulators across iterations (measured —
    see the oracle comment), the second engine-level DuckDB bug these
    oracles have surfaced after the recursive-CTE correlated-subquery
    nondeterminism (X136).

    Scale shape: the fact table collapses to the ~80-row month
    aggregate (one map-side-combined shuffle); the fold is a single
    codegen expression over one in-row array — the sequential
    recurrence costs O(months) on ONE row, never a per-step job
    (compare X136's scripting loop: 12 statements = 12 tiny jobs; this
    pattern does 80 steps for free).  Seasonal Holt-Winters would add a
    third state field to the same fold."""
    monthly = (
        table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("idx")
        )
        .agg(F.count("*").alias("c"))
    )
    m = monthly.agg(
        F.sort_array(F.collect_list(F.struct("idx", "c"))).alias("sc"),
        F.count("*").alias("n_months"),
    )
    ys = F.transform(F.col("sc"), lambda s: s["c"].cast("double"))
    structs = F.transform(
        ys, lambda y: F.struct(y.alias("l"), F.lit(0.0).alias("b"))
    )

    def step(acc, x):
        new_l = F.lit(0.5) * x["l"] + F.lit(0.5) * (acc["l"] + acc["b"])
        new_b = F.lit(0.5) * (new_l - acc["l"]) + F.lit(0.5) * acc["b"]
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    folded = F.aggregate(
        F.slice(structs, 2, F.size(structs) - 1),
        F.element_at(structs, 1),
        step,
    )

    def e4(x):
        return floor_eps(x, 10000).cast("long")

    return m.select(
        F.col("n_months").cast("long").alias("n_months"),
        e4(folded["l"]).alias("level_e4"),
        e4(folded["b"]).alias("trend_e4"),
        e4(folded["l"] + folded["b"]).alias("fc1_e4"),
        e4(folded["l"] + F.lit(3) * folded["b"]).alias("fc3_e4"),
    )
