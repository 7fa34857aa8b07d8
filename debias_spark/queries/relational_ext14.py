"""Round-5 relational wave (X93-X96): SQL-surface operators that complete
the query vocabulary — UNPIVOT (wide->long reshaping), OFFSET/FETCH
pagination, deterministic hash sampling, and BFS shortest hops with a
recursive-CTE oracle.

No reference citation: the reference (SirHooke/debias-batch-processor) has
no SQL surface at all (SURVEY §2.G); these are north-star extensions per
SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


@register(
    "sql_unpivot_wide_to_long",
    "X93",
    oracle="""
    WITH w AS MATERIALIZED (
        SELECT l_returnflag,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_price,
               CAST(count(*) AS DOUBLE) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM w
    UNION ALL
    SELECT l_returnflag, 'n_rows' AS measure, n_rows AS value FROM w
    """,
)
def sql_unpivot_wide_to_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT: reshape a wide per-flag aggregate into (key, measure, value)
    long form — the metric-table normalization every BI export runs.  Spark's
    native ``DataFrame.unpivot`` (the SQL ``UNPIVOT`` clause / ``stack``) is
    a zero-shuffle projection: each input row expands to one row per measure
    in-place, so the only shuffle in the plan is the upstream aggregate.

    The oracle restates the reshape as the classic UNION ALL spelling —
    identical semantics, so the hash proves column->row transposition,
    measure naming, and value typing all at once.

    Scale shape: aggregate shrinks lineitem to |flags| rows; the unpivot
    triples a 3-row frame.  At 100 TB nothing changes — unpivot is always a
    map-side expansion of whatever frame it is given."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        (F.round(F.sum("l_quantity"), 2) + 0.0).alias("sum_qty"),
        (F.round(F.sum("l_extendedprice"), 2) + 0.0).alias("sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n_rows"], "measure", "value"
    )


@register(
    "sql_offset_fetch_page",
    "X94",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderpriority,
           round(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50 OFFSET 100
    """,
)
def sql_offset_fetch_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET/FETCH pagination: page 3 (rows 101-150) of orders by price
    descending.  The sort carries o_orderkey as the tiebreak so the page
    window is a deterministic set — without a total order, OFFSET is
    engine-defined and unhashable.

    Spark's ``offset`` + ``limit`` compose into a single global-sort plan:
    a TakeOrderedAndProject-style top-(offset+fetch) that keeps only 150
    rows per partition before the final merge — no full sort materializes.

    Scale shape: top-k with k = offset+fetch stays tiny relative to data;
    deep pagination (offset in the millions) would switch to keyset
    pagination (WHERE price < last_seen), same plan family."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(100)
        .limit(50)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            (F.round("o_totalprice", 2) + 0.0).alias("total_price"),
        )
    )


@register(
    "sample_hash_deterministic",
    "X95",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_sampled,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 32, 1) IN ('0', '1', '2')
    GROUP BY o_orderpriority
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling: keep the ~3/16 of orders whose key-md5
    ends in 0/1/2, then aggregate the sample.  This is the production
    sampling primitive TABLESAMPLE cannot give you: reproducible across
    engines, runs, and partitionings (TABLESAMPLE's RNG is engine-defined,
    so it can never be value-oracled), stable under data repartitioning,
    and consistent — the same keys are sampled in every derived table, so
    sampled fact/dim joins still line up.

    Scale shape: one scan, the hash filter is a map-side projection (no
    pre-shuffle), and the aggregate shuffles only the sampled ~19%.  At
    100 TB the sample rate dials by widening the hex-suffix set (1/16
    granularity; use two chars for 1/256)."""
    orders = table(spark, sf_dir, "orders")
    sampled = orders.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 32, 1).isin(
            "0", "1", "2"
        )
    )
    return sampled.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_sampled"),
        F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
    )


@register(
    "graph_shortest_hops",
    "X96",
    oracle="""
    WITH RECURSIVE items AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS MATERIALIZED (
        SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
    ), und AS MATERIALIZED (
        SELECT pa AS a, pb AS b FROM edges
        UNION ALL
        SELECT pb AS a, pa AS b FROM edges
    ), bfs AS (
        SELECT (SELECT min(a) FROM und) AS node, 0 AS hops
        UNION
        SELECT u.b AS node, bfs.hops + 1 AS hops
        FROM bfs JOIN und u ON u.a = bfs.node
        WHERE bfs.hops < 4
    )
    SELECT node, CAST(min(hops) AS INTEGER) AS hops
    FROM bfs GROUP BY node
    """,
)
def graph_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest hop-counts from the minimum part key over the
    co-purchase graph (support >= 2), capped at 4 hops — the reachability /
    shortest-path primitive, value-oracled against a DuckDB recursive CTE
    (the recursion dedups on (node, hops) and the final MIN collapses to
    first-reach distance, which is exactly what the Spark frontier
    anti-join computes).

    Iterative discipline (the PageRank/k-core doctrine, SCALE.md):
      - the undirected edge list feeds every round -> localCheckpoint once;
      - visited is read 3x per round (anti-join, union, next frontier) ->
        checkpoint EVERY round, and the next frontier derives from the
        CHECKPOINTED frame so nothing recomputes upstream lineage;
      - the seed is a broadcast 1-row aggregate, never a driver constant;
      - per-round shuffle carries (node, hops) ids only, never the graph.

    Scale shape: frontier expansion is one equi-join + distinct per round,
    state is O(visited nodes); 4 fixed rounds keep the plan finite.  At
    100 TB the same loop runs with the edge list persisted instead of
    locally checkpointed."""
    from debias_spark.operators.graph import copurchase_edges

    edges = copurchase_edges(spark, sf_dir, min_support=2)
    und = (
        edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .unionByName(edges.select(F.col("pb").alias("a"), F.col("pa").alias("b")))
        .localCheckpoint(eager=True)
    )
    seed = und.agg(F.min("a").alias("node"))
    visited = seed.select(
        "node", F.lit(0).cast("int").alias("hops")
    ).localCheckpoint(eager=True)
    for hop in range(1, 5):
        frontier = visited.filter(F.col("hops") == hop - 1).select("node")
        nxt = (
            frontier.join(und, frontier["node"] == und["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(hop).cast("int"))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        # early exit once the frontier empties (BFS saturated or dead-ended):
        # the check scans only the materialized checkpoint, and skipped
        # rounds could never add rows, so the result is identical to the
        # fixed 4 rounds the oracle unrolls.  Wall-clock is edge-build
        # dominated at tested SFs (no measurable delta), but at scale a
        # dead frontier stops paying per-round shuffles immediately
        if visited.filter(F.col("hops") == hop).isEmpty():
            break
    return visited
