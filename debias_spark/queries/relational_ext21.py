"""Round-6 relational wave (X111-X116): Spark 4 SQL surfaces not yet in
the registry (ordered LISTAGG, aggregate FILTER clauses, GROUP BY ALL,
percentile_disc) plus two statistics keys a data-quality pipeline leans
on (per-series autocorrelation, chi-square independence).

No reference citation: the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.registry import register


@register(
    "sql_listagg_ordered",
    "X111",
    oracle="""
    WITH d AS (
        SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    )
    SELECT o_orderstatus,
           string_agg(o_orderpriority, '|' ORDER BY o_orderpriority)
               AS priorities,
           count(*) AS n_priorities
    FROM d GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sql_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 LISTAGG ... WITHIN GROUP):
    distinct order priorities per status, sorted then joined — only the
    explicit ORDER BY makes the concatenation deterministic, which is
    the whole point of the 4.0 surface over collect_list (whose order is
    partition-arrival-defined and therefore never oracle-safe).

    The (status, priority) pairs are pre-distincted, then a plain
    ordered LISTAGG + count(*) aggregates them.  Two reasons: the
    pre-distinct avoids the multi-DISTINCT Expand replication through
    the shuffle (the repo's agg_approx_distinct discipline), and this
    Spark build's RewriteDistinctAggregates cannot plan
    `listagg(DISTINCT) WITHIN GROUP` NEXT TO another distinct aggregate
    at all (AttributeReference->SortOrder ClassCastException) — the
    pre-distinct spelling sidesteps the bug without giving up the
    ordered-LISTAGG surface.

    Scale shape: the distinct pair set is bounded by the two domains
    (3 x 5 values), so both aggregation states are tiny regardless of
    fact rows — map-side combine does all the work."""
    orders = table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               listagg(o_orderpriority, '|')
                   WITHIN GROUP (ORDER BY o_orderpriority) AS priorities,
               count(*) AS n_priorities
        FROM {pairs}
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        pairs=orders.select("o_orderstatus", "o_orderpriority").distinct(),
    )


@register(
    "sql_filtered_aggregates",
    "X112",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS fulfilled_cents
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sql_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clauses: one pass over orders producing total,
    per-status conditional counts, and a conditional sum — the idiomatic
    replacement for N self-joins or sum(CASE WHEN) pyramids, and Catalyst
    plans ALL the filtered aggregates into a single hash-aggregate scan
    (one shuffle, no matter how many FILTER branches).

    Cents convert per row via floor(x*100+0.5) before summing (the
    repo's cross-engine rounding doctrine)."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   FILTER (WHERE o_orderstatus = 'F') AS fulfilled_cents
        FROM {orders}
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "sql_group_order_by_all",
    "X113",
    oracle="""
    SELECT n_name, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY ALL ORDER BY ALL
    """,
)
def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 4): grouping keys inferred from
    the non-aggregate select items, ordering over the full output row —
    the analyst-ergonomics surface, resolved at analysis time into the
    identical plan the explicit spelling produces (same broadcast dim
    joins + one fact shuffle; nothing dynamic survives into execution)."""
    return spark.sql(
        """
        SELECT n_name, o_orderpriority, count(*) AS n,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        FROM {orders}
        JOIN {customer} ON c_custkey = o_custkey
        JOIN {nation} ON n_nationkey = c_nationkey
        GROUP BY ALL ORDER BY ALL
        """,
        orders=table(spark, sf_dir, "orders"),
        customer=table(spark, sf_dir, "customer"),
        nation=table(spark, sf_dir, "nation"),
    )


@register(
    "agg_percentile_disc",
    "X114",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(quantile_disc(qty, 0.25) AS BIGINT) AS p25_qty,
           CAST(quantile_disc(qty, 0.50) AS BIGINT) AS p50_qty,
           CAST(quantile_disc(qty, 0.75) AS BIGINT) AS p75_qty,
           count(*) AS n
    FROM c GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (percentile_disc WITHIN GROUP): unlike the
    interpolating percentile (X4), disc returns an ACTUAL data value —
    the lowest element whose cumulative rank reaches the quantile — so
    the result is exact-integer oracle-safe with no interpolation-
    arithmetic parity concerns at all.

    Scale shape: the aggregate's state is a value->count map, so its
    size is bounded by the DISTINCT domain, not rows — which makes the
    column choice a real plan decision: quantity (50 distinct values)
    keeps the three quantile buffers trivial at any row count, measured
    0.42s vs 2.9s for the same key over cents (~10^5 distinct prices,
    3 full count-maps through the shuffle).  Unbounded monetary domains
    belong to the bucketed prefix-sum machinery (X78) or the sketch
    (X4c), not percentile_disc."""
    li = table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY qty) AS BIGINT)
                   AS p25_qty,
               CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY qty) AS BIGINT)
                   AS p50_qty,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY qty) AS BIGINT)
                   AS p75_qty,
               count(*) AS n
        FROM {c} GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        c=li.select("l_returnflag", F.col("l_quantity").cast("long").alias("qty")),
    )


@register(
    "events_autocorr_lag",
    "X115",
    oracle=f"""
    WITH h AS MATERIALIZED (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        FROM events GROUP BY event_type, hr
    ), l AS (
        SELECT event_type, n,
               lag(n, 1) OVER w AS l1,
               lag(n, 2) OVER w AS l2,
               lag(n, 3) OVER w AS l3
        FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    )
    SELECT event_type,
           count(*) AS n_hours,
           {floor_eps_sql("corr(n, l1)", 10000)} AS acf1_e4,
           {floor_eps_sql("corr(n, l2)", 10000)} AS acf2_e4,
           {floor_eps_sql("corr(n, l3)", 10000)} AS acf3_e4
    FROM l GROUP BY event_type ORDER BY event_type
    """,
)
def events_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series autocorrelation (ACF at row-lags 1-3 of the hourly
    count series): the seasonality/burstiness diagnostic behind the
    forecast (X_ewma) and changepoint (CUSUM) keys — high acf1 means
    smooth load, acf24 spikes mean daily cycles (the hourly grain here
    keeps the key cheap; the lag unit is one OBSERVED hour, documented
    rather than gap-filled, identically in both engines).

    Scale shape: the aggregation collapses events to one row per
    (series, hour) FIRST, so the window sort runs on series-length
    frames partitioned by event_type — never on raw events; corr is a
    mergeable moment aggregate.  Emitted as floor-eps e4 integers per
    the rounding doctrine."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hourly.select(
        "event_type",
        F.col("n").cast("double").alias("n"),
        F.lag("n", 1).over(w).cast("double").alias("l1"),
        F.lag("n", 2).over(w).cast("double").alias("l2"),
        F.lag("n", 3).over(w).cast("double").alias("l3"),
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_hours"),
            floor_eps(F.corr("n", "l1"), 10000).cast("long").alias("acf1_e4"),
            floor_eps(F.corr("n", "l2"), 10000).cast("long").alias("acf2_e4"),
            floor_eps(F.corr("n", "l3"), 10000).cast("long").alias("acf3_e4"),
        )
        .orderBy("event_type")
    )


@register(
    "abtest_chi2_independence",
    "X116",
    oracle=f"""
    WITH cell AS MATERIALIZED (
        SELECT event_type, isodow(ts) AS dow, count(*)::DOUBLE AS o
        FROM events GROUP BY event_type, dow
    ), rt AS (SELECT event_type, sum(o) AS r FROM cell GROUP BY event_type),
    ct AS (SELECT dow, sum(o) AS c FROM cell GROUP BY dow),
    n AS (SELECT sum(o) AS n FROM cell),
    terms AS (
        SELECT (cell.o - rt.r * ct.c / n.n) * (cell.o - rt.r * ct.c / n.n)
               / (rt.r * ct.c / n.n) AS t
        FROM cell JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
    )
    SELECT {floor_eps_sql("sum(t)", 10000)} AS chi2_e4,
           (SELECT count(*) FROM rt) AS n_types,
           (SELECT count(*) FROM ct) AS n_dows,
           CAST(((SELECT count(*) FROM rt) - 1)
                * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof
    FROM terms
    """,
)
def abtest_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for event_type x ISO-weekday —
    the categorical complement of the z-test key (X_abtest): is traffic
    mix independent of weekday?  chi2 = sum (O-E)^2/E with E from the
    broadcast row/column marginals.

    Note the weekday spelling: Spark weekday() (0=Mon) + 1 equals
    DuckDB isodow() (1=Mon) — dayofweek() does NOT line up across the
    engines (Sunday=1 vs 0) and is avoided deliberately.

    Scale shape: one cell aggregation over the fact table (map-side
    combined), then every marginal is a tiny broadcast — the O(cells)
    term sum never re-touches the events.  Deterministic float path:
    each term is computed from identical doubles in both engines, summed
    over a handful of cells, emitted floor-eps."""
    ev = table(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type", (F.weekday("ts") + 1).alias("dow")
    ).agg(F.count("*").cast("double").alias("o"))
    rt = cell.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cell.groupBy("dow").agg(F.sum("o").alias("c"))
    n = cell.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    terms = (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .select(((F.col("o") - e) * (F.col("o") - e) / e).alias("t"))
    )
    n_types = rt.agg(F.count("*").alias("n_types"))
    n_dows = ct.agg(F.count("*").alias("n_dows"))
    return (
        terms.agg(
            floor_eps(F.sum("t"), 10000)
            .cast("long")
            .alias("chi2_e4")
        )
        .crossJoin(F.broadcast(n_types))
        .crossJoin(F.broadcast(n_dows))
        .select(
            "chi2_e4",
            "n_types",
            "n_dows",
            ((F.col("n_types") - 1) * (F.col("n_dows") - 1))
            .cast("long")
            .alias("dof"),
        )
    )
