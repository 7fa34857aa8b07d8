"""Tenth relational wave (X67, X69): co-purchase triangle counting (graph
analytics as pruned relational joins) and an equi-depth price histogram
(the data-skipping statistic writers keep per file).

Same determinism doctrine as the rest of the registry: counts and cents
are BIGINTs; percentile interpolation on BIGINT inputs is bit-equal
between Spark's ``percentile`` and DuckDB's ``quantile_cont`` (verified
on the RFM key at sf0.001/0.01).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


@register(
    "orders_copurchase_triangles",
    "X67",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS (
        SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
    )
    SELECT e1.pa AS part_a, e1.pb AS part_b, e2.pb AS part_c
    FROM edges e1
    JOIN edges e2 ON e2.pa = e1.pb
    JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
)
def orders_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the co-purchase graph: part triples where each pair
    is frequently (support >= 2) bought together — the community-
    detection primitive, expressed as pruned relational joins rather
    than a graph engine.

    The cubic blow-up is controlled the way production triangle counts
    do it: (1) the SUPPORT FILTER shrinks the edge set before any
    edge-edge join — pair generation is basket-local (operators/graph.py:
    collect each basket, explode ordered pairs in codegen, ~(basket
    size)^2 per order), and only pairs passing the threshold survive;
    (2) the a<b<c orientation (edges stored a<b, wedges closed
    pa->pb->pc) counts each triangle exactly once instead of six times.
    The standard next step at extreme skew — orienting edges by degree so
    every wedge pivots on its lowest-degree node — drops in as an extra
    join key, same shape.  Wedge join and closing semi-check are
    equi-joins on part keys; AQE broadcasts the filtered edge list when
    it is small, shuffles when it is not."""
    from debias_spark.operators.graph import copurchase_edges

    edges = (
        copurchase_edges(spark, sf_dir, min_support=2)
        # the support-pruned edge list feeds THREE join branches below;
        # materialize it once instead of recomputing the basket build per
        # branch (what production would persist anyway) — measured
        # ~2.1 s -> ~1.7 s at sf0.1
        .localCheckpoint(eager=True)
    )
    e1 = edges.select(F.col("pa").alias("part_a"), F.col("pb").alias("part_b"))
    e2 = edges.select(F.col("pa").alias("w1"), F.col("pb").alias("part_c"))
    e3 = edges.select(F.col("pa").alias("c1"), F.col("pb").alias("c2"))
    wedges = e1.join(e2, F.col("w1") == F.col("part_b")).select(
        "part_a", "part_b", "part_c"
    )
    return wedges.join(
        e3,
        (F.col("c1") == F.col("part_a")) & (F.col("c2") == F.col("part_c")),
        "left_semi",
    )


@register(
    "orders_equidepth_histogram",
    "X69",
    oracle=f"""
    WITH c AS (
        SELECT {cents_sql("o_totalprice")} AS cents FROM orders
    ), cuts AS (
        SELECT quantile_cont(cents,
                             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS q
        FROM c
    ), banded AS (
        SELECT cents,
               CAST(cents > q[1] AS BIGINT) + CAST(cents > q[2] AS BIGINT)
             + CAST(cents > q[3] AS BIGINT) + CAST(cents > q[4] AS BIGINT)
             + CAST(cents > q[5] AS BIGINT) + CAST(cents > q[6] AS BIGINT)
             + CAST(cents > q[7] AS BIGINT) + CAST(cents > q[8] AS BIGINT)
             + CAST(cents > q[9] AS BIGINT) AS band
        FROM c, cuts
    )
    SELECT band, count(*) AS n_orders,
           min(cents) AS lo_cents, max(cents) AS hi_cents,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM banded GROUP BY band ORDER BY band
    """,
)
def orders_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of order value: the statistic a
    lakehouse writer keeps per file/partition for data skipping and
    optimizer cardinality estimates.  Decile cutoffs come from ONE exact
    percentile aggregate (mergeable count-map — no sort, no window),
    broadcast back as a 1-row frame; band assignment is nine BIGINT
    comparisons.  Equi-DEPTH beats equi-width under skew: every band
    carries ~10% of rows, so min/max per band localize the mass."""
    o = table(spark, sf_dir, "orders")
    c = o.select(cents(F.col("o_totalprice")).alias("cents"))
    cuts = c.agg(
        F.percentile("cents", [i / 10 for i in range(1, 10)]).alias("q")
    )
    band = sum(
        (F.col("cents") > F.get("q", k)).cast("long") for k in range(9)
    )
    return (
        c.crossJoin(F.broadcast(cuts))
        .select("cents", band.alias("band"))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("band")
    )


@register(
    "events_seasonality_profile",
    "X71",
    oracle="""
    WITH e AS (
        SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
                   AS dow,
               extract(hour FROM ts) AS hour
        FROM events
    ), g AS (
        SELECT dow, hour, count(*) AS n FROM e GROUP BY dow, hour
    )
    SELECT dow, CAST(hour AS BIGINT) AS hour, n,
           (n * 10000) // (SELECT count(*) FROM events) AS share_bp
    FROM g
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality: event share by (day-of-week, hour-of-day).
    Day-of-week is computed as ``(epoch_day + 4) % 7`` (0 = Sunday) —
    pure integer arithmetic, because the engines' dayofweek() builtins
    disagree on both origin and range (Spark 1=Sunday, DuckDB isodow
    1=Monday).  Shares are BIGINT basis points against a broadcast
    1-row total.  One rollup shuffle; the 168-cell output is the
    operational heatmap every on-call dashboard carries."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        ((F.unix_date(F.to_date("ts")) + 4) % 7).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    )
    g = e.groupBy("dow", "hour").agg(F.count("*").alias("n"))
    total = ev.select(F.count("*").alias("_total"))
    return (
        g.crossJoin(F.broadcast(total))
        .selectExpr("dow", "hour", "n", "(n * 10000) div _total AS share_bp")
    )


_MERGE_KEY_OFFSET = 100_000_000  # synthetic insert keys, collision-free


@register(
    "merge_upsert_snapshot",
    "X73",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey AS k,
               {cents_sql("o_totalprice")} AS cents
        FROM orders
    ), changes AS (
        SELECT o_orderkey AS k,
               {cents_sql("o_totalprice")} + 500 AS cents
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + {_MERGE_KEY_OFFSET} AS k,
               {cents_sql("o_totalprice")} AS cents
        FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT coalesce(c.k, b.k) AS o_orderkey,
           coalesce(c.cents, b.cents) AS cents,
           CASE WHEN b.k IS NULL THEN 'insert'
                WHEN c.k IS NULL THEN 'keep'
                ELSE 'update' END AS op
    FROM base b FULL OUTER JOIN changes c ON c.k = b.k
    """,
)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE (upsert) semantics: apply a CDC change batch to a
    snapshot with change-wins resolution, tagging every output row
    keep/update/insert — the apply step that pairs with
    snapshot_diff_full_outer's diff step.  The change batch is derived
    deterministically from the snapshot (key%7 updates with a price
    bump, key%13 inserts under a collision-free offset) so the oracle
    replays it exactly; a real pipeline swaps in its CDC source
    unchanged.

    Plan: ONE full-outer join on the key — at scale both sides bucket by
    key, so MERGE is a co-partitioned join plus a projection; nothing
    driver-side.  All values are BIGINT cents."""
    o = table(spark, sf_dir, "orders")
    c = cents(F.col("o_totalprice"))
    base = o.select(F.col("o_orderkey").alias("k"), c.alias("cents"))
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(F.col("o_orderkey").alias("ck"), (c + 500).alias("ccents"))
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .select(
            (F.col("o_orderkey") + _MERGE_KEY_OFFSET).alias("ck"),
            c.alias("ccents"),
        )
    )
    changes = updates.unionAll(inserts)
    return (
        base.join(changes, base.k == changes.ck, "full_outer")
        .select(
            F.coalesce("ck", "k").alias("o_orderkey"),
            F.coalesce("ccents", "cents").alias("cents"),
            F.when(F.col("k").isNull(), F.lit("insert"))
            .when(F.col("ck").isNull(), F.lit("keep"))
            .otherwise(F.lit("update"))
            .alias("op"),
        )
    )
