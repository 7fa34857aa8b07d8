"""Eleventh relational wave (X78-X79): distribution statistics on the
scale-safe prefix-sum machinery — grouped weighted median (few huge
groups, the case a plain partitionBy window serializes) and the Gini
coefficient of revenue concentration (global ranks without a global
sort).  Both oracles use the naive single-partition window spelling, so
the hash match IS the proof the bucketed formulations agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.operators.prefixsum import bucketed_cumsum_with_rank
from debias_spark.registry import register


@register(
    "lineitem_weighted_median_price",
    "X78",
    oracle=f"""
    WITH v AS (
        SELECT l_returnflag AS flag,
               {cents_sql("l_extendedprice")} AS cents,
               CAST(l_quantity AS BIGINT) AS w,
               l_orderkey * 8 + l_linenumber AS tb
        FROM lineitem
    ), c AS (
        SELECT flag, cents, w,
               sum(w) OVER (PARTITION BY flag ORDER BY cents, tb
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(w) OVER (PARTITION BY flag) AS total
        FROM v
    )
    SELECT flag,
           count(*) AS n_items,
           CAST(max(total) AS BIGINT) AS total_weight,
           min(CASE WHEN 2 * cum >= total THEN cents END) AS median_cents
    FROM c GROUP BY flag
    """,
)
def lineitem_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    median has no built-in aggregate in either engine, and the few-huge-
    groups shape (3 flags over billions of lines) makes the textbook
    ``Window.partitionBy(flag)`` cumulative sum a 3-task serialization.

    This key goes one step past the generic bucketed-cumsum family
    (operators/prefixsum — pareto and gini use the global variants; the
    grouped variant is property-tested): a median only needs the running total INSIDE the one bucket
    where it crosses half the weight.  So: per-group cutoffs assign
    range buckets; per-(group, bucket) weight sums (plain aggregate, no
    window) locate the crossing bucket and its prefix offset; and the
    window sort runs over THAT bucket's rows only — ~1/n_buckets of the
    data — with the median as the smallest price whose offset +
    within-bucket weight reaches half (exact BIGINT comparison, no
    interpolation).  Measured 3.6 s -> ~1.7 s at sf0.1 vs the
    full-cumsum form.

    Bucket boundaries are EQUAL-WIDTH over the per-group [min, max] —
    bucketing never affects the answer (ties share a bucket under any
    monotone boundaries; the median condition evaluates exact weights),
    only how much of the data the final window touches.  A codegen
    min/max pass costs 0.26 s where the earlier approx_percentile
    sketch cost 0.57 s (sf0.1), and the bounded-range price column
    keeps equal-width buckets balanced; for heavy-tailed value columns
    the sketch-cutoff spelling is the robust drop-in (same plan shape,
    cutoffs from approx_percentile instead of min/max).  Only the
    3-row cutoff frame is checkpointed; the bucketed fact frame is
    recomputed per pass — a broadcast join plus integer arithmetic is
    cheaper than writing 600 k rows to checkpoint storage.  The oracle
    keeps the naive per-flag global window; the hash match proves the
    bucket-search equivalence."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        cents(F.col("l_extendedprice")).alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("tb"),
    )
    n_buckets = 16
    cuts = (
        v.groupBy("flag")
        .agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
        .localCheckpoint(eager=True)
    )
    b = F.least(
        F.floor(
            (F.col("cents") - F.col("mn"))
            * n_buckets
            / (F.col("mx") - F.col("mn") + 1)
        ).cast("int"),
        F.lit(n_buckets - 1),
    )
    withb = (
        v.join(F.broadcast(cuts), "flag").withColumn("_b", b).drop("mn", "mx")
    )
    bstats = withb.groupBy("flag", "_b").agg(
        F.sum("w").alias("bw"), F.count("*").alias("bn")
    )
    wo = (
        Window.partitionBy("flag")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wg = Window.partitionBy("flag").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    marked = bstats.select(
        "flag",
        "_b",
        F.coalesce(F.sum("bw").over(wo), F.lit(0)).alias("before"),
        F.sum("bw").over(wg).alias("total"),
        F.sum("bn").over(wg).alias("n_items"),
        "bw",
    )
    target = marked.filter(
        (2 * F.col("before") < F.col("total"))
        & (2 * (F.col("before") + F.col("bw")) >= F.col("total"))
    ).select("flag", "_b", "before", "total", "n_items")
    wt = (
        Window.partitionBy("flag", "_b")
        .orderBy("cents", "tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inside = (
        withb.join(F.broadcast(target), ["flag", "_b"])
        .withColumn("within", F.sum("w").over(wt))
    )
    return inside.filter(
        2 * (F.col("before") + F.col("within")) >= F.col("total")
    ).groupBy("flag").agg(
        F.max("n_items").cast("long").alias("n_items"),
        F.max("total").cast("long").alias("total_weight"),
        F.min("cents").alias("median_cents"),
    )


@register(
    "orders_gini_revenue",
    "X79",
    oracle=f"""
    WITH pc AS (
        SELECT o_custkey,
               sum({cents_sql("o_totalprice")}) AS rev
        FROM orders GROUP BY o_custkey
    ), r AS (
        SELECT rev,
               row_number() OVER (ORDER BY rev, o_custkey) AS rnk,
               count(*) OVER () AS n,
               sum(rev) OVER () AS t
        FROM pc
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(t) AS BIGINT) AS total_cents,
           CAST((2 * CAST(sum(CAST(rnk AS HUGEINT) * rev) AS HUGEINT)
                 - (max(n) + 1) * CAST(max(t) AS HUGEINT)) * 10000
                // (CAST(max(n) AS HUGEINT) * max(t)) AS BIGINT) AS gini_bp
    FROM r
    """,
)
def orders_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue (0 bp = perfect equality,
    ~10000 bp = one customer holds everything): G = (2*Σ i*x_i - (n+1)T)
    / (nT) over revenues sorted ascending with rank i.  The global rank
    comes from operators/prefixsum.bucketed_cumsum_with_rank — bucket
    count offsets + within-bucket row_number — so no single-partition
    sort touches the per-customer frame; the oracle's row_number() OVER
    (ORDER BY ...) is the naive spelling being hash-proved.  All terms
    are exact integers in basis points, carried through DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB): the ``*10000`` product overflows a
    signed 64-bit already at sf0.1 — ANSI mode turned that into a
    runtime error in the first bench run, which is exactly the failure
    mode the integer-cents doctrine exists to surface early."""
    o = table(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("rev")
    )
    r = bucketed_cumsum_with_rank(
        pc, value_col="rev", order_col="rev", tiebreak_col="o_custkey",
        descending=False,
    )
    return r.agg(
        F.max("n_rows").cast("long").alias("n_customers"),
        F.max("total").cast("long").alias("total_cents"),
        F.expr(
            "CAST((2 * sum(CAST(rnk AS DECIMAL(38,0)) * rev)"
            " - (max(n_rows) + 1) * CAST(max(total) AS DECIMAL(38,0)))"
            " * 10000"
            " div (CAST(max(n_rows) AS DECIMAL(38,0)) * max(total))"
            " AS BIGINT)"
        ).alias("gini_bp"),
    )


@register(
    "events_cusum_changepoint",
    "X80",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY day
    ), stats AS (
        SELECT CAST(sum(n) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily
    ), cusum AS (
        SELECT day, n,
               CAST(sum(n * (SELECT n_days FROM stats))
                    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 - CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                   * (SELECT total FROM stats) AS dev_scaled
        FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS changepoint_day,
           n AS day_count,
           abs(dev_scaled) AS cusum_magnitude
    FROM cusum ORDER BY abs(dev_scaled) DESC, day LIMIT 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over daily event volume: the day where
    the cumulative deviation from the global mean rate peaks — the
    standard level-shift detector.  Deviations are kept EXACT by scaling
    into integer units (sum(n)*n_days - i*total instead of sum(n - mean)
    with a fractional mean), so the argmax cannot flip on float error.
    The cumulative window runs over the DAILY frame — one row per day,
    thousands of rows at any corpus scale — so the unpartitioned window
    is bounded by calendar length, not data volume (the same
    small-frame exemption as the prefix-sum offset scans)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from debias_spark.catalog import table as _table

    ev = _table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    stats = daily.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_days")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wr = Window.orderBy("day")
    cusum = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn(
            "dev_scaled",
            (F.sum(F.col("n") * F.col("n_days")).over(w)).cast("long")
            - F.row_number().over(wr).cast("long") * F.col("total"),
        )
    )
    return (
        cusum.select(
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
            F.col("n").alias("day_count"),
            F.abs("dev_scaled").alias("cusum_magnitude"),
        )
        .orderBy(F.desc("cusum_magnitude"), "changepoint_day")
        .limit(1)
    )


@register(
    "sql_lateral_topn_nations",
    "X81",
    oracle="""
    SELECT r.r_name, l.n_name, l.n_customers
    FROM region r, LATERAL (
        SELECT n.n_name, count(*) AS n_customers
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY n_customers DESC, n_name LIMIT 2
    ) l
    """,
)
def sql_lateral_topn_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (SQL:1999 lateral derived table, Spark
    4 syntax): per region, the top-2 nations by customer count — the
    near-identical SQL text runs in DuckDB as the oracle, demonstrating
    the engine's ANSI lateral surface rather than a DataFrame spelling
    (the window row_number equivalent lives in H6/X11 keys).  Catalyst
    decorrelates the lateral into a join + per-group top-k under the
    hood, so the declarative form costs nothing over the manual one.

    Engine-knowledge note from this round: Spark 4.1's WITH RECURSIVE
    supports UNION ALL only (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so
    cyclic transitive closure is NOT yet expressible natively — which is
    why dedup_clusters keeps its driver-iterated pointer-jumping loop
    with the recursion living in the DuckDB oracle instead."""
    return spark.sql(
        """
        SELECT r.r_name, l.n_name, l.n_customers
        FROM {region} r, LATERAL (
            SELECT n.n_name, count(*) AS n_customers
            FROM {nation} n JOIN {customer} c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY n_customers DESC, n_name LIMIT 2
        ) l
        """,
        region=table(spark, sf_dir, "region"),
        nation=table(spark, sf_dir, "nation"),
        customer=table(spark, sf_dir, "customer"),
    )


@register(
    "part_brand_entropy",
    "X82",
    oracle="""
    WITH g AS (
        SELECT split_part(p_type, ' ', 1) AS type_class, p_brand,
               count(*) AS n
        FROM part GROUP BY type_class, p_brand
    ), t AS (
        SELECT type_class, CAST(sum(n) AS BIGINT) AS total FROM g
        GROUP BY type_class
    )
    SELECT g.type_class,
           CAST(count(*) AS BIGINT) AS n_brands,
           round(-sum((CAST(g.n AS DOUBLE) / CAST(t.total AS DOUBLE))
                      * ln(CAST(g.n AS DOUBLE) / CAST(t.total AS DOUBLE))), 4)
               + 0.0 AS entropy_nats
    FROM g JOIN t USING (type_class)
    GROUP BY g.type_class
    """,
)
def part_brand_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the brand mix within each part type-class —
    the assortment-diversity statistic (low entropy = one brand
    dominates the class).  Counts are exact; each -p*ln(p) term is the
    same double expression in both engines over identical exact inputs,
    summed per class and rounded to 4 dp (the determinism class BM25
    already proves out).  Two aggregates and a broadcast join of the
    class totals — fully mergeable at any scale."""
    p = table(spark, sf_dir, "part")
    g = p.groupBy(
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_class"),
        "p_brand",
    ).agg(F.count("*").alias("n"))
    t = g.groupBy("type_class").agg(F.sum("n").cast("long").alias("total"))
    term = (F.col("n").cast("double") / F.col("total").cast("double"))
    return (
        g.join(F.broadcast(t), "type_class")
        .groupBy("type_class")
        .agg(
            F.count("*").cast("long").alias("n_brands"),
            (F.round(-F.sum(term * F.log(term)), 4) + 0.0).alias("entropy_nats"),
        )
    )


@register(
    "events_hhi_concentration",
    "X83",
    oracle="""
    WITH u AS (
        SELECT event_type, user_id, count(*) AS n
        FROM events GROUP BY event_type, user_id
    ), t AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM u
        GROUP BY event_type
    )
    SELECT u.event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(CAST(sum(CAST(u.n AS HUGEINT) * u.n) AS HUGEINT) * 10000
                // (CAST(t.total AS HUGEINT) * t.total) AS BIGINT) AS hhi_bp
    FROM u JOIN t USING (event_type)
    GROUP BY u.event_type, t.total
    """,
)
def events_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of event volume across users,
    per event type (10000 bp = one user generates everything) — the
    abuse/bot-skew screen: a type whose HHI spikes is driven by a few
    accounts.  HHI = Σ share_u² = Σ n_u² / total², computed ENTIRELY in
    exact integers (DECIMAL(38,0) / HUGEINT for the squares — the same
    overflow doctrine the Gini key enforces) with one basis-point floor
    division at the end."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    t = u.groupBy("event_type").agg(F.sum("n").cast("long").alias("total"))
    return (
        u.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "total")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr(
                "CAST(sum(CAST(n AS DECIMAL(38,0)) * n) * 10000"
                " div (CAST(total AS DECIMAL(38,0)) * total) AS BIGINT)"
            ).alias("hhi_bp"),
        )
        .drop("total")
    )


@register(
    "events_latency_percentiles_hourly",
    "X84",
    oracle=f"""
    WITH v AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               {cents_sql("value")} AS cents
        FROM events WHERE value IS NOT NULL
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
           count(*) AS n,
           quantile_cont(cents, 0.5) AS p50_cents,
           quantile_cont(cents, 0.95) AS p95_cents,
           quantile_cont(cents, 0.99) AS p99_cents
    FROM v GROUP BY h, event_type
    """,
)
def events_latency_percentiles_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The on-call latency dashboard: p50/p95/p99 of event value per
    (hour, type).  Exact grouped percentiles on integer cents — the
    interpolated doubles are bit-equal between Spark's ``percentile``
    and DuckDB's ``quantile_cont`` on BIGINT inputs (the guarantee the
    RFM cutoffs established) — computed as ONE mergeable count-map
    aggregate per group, no sort, no window.  The 100 TB swap is
    ``approx_percentile`` (t-digest, agg_percentiles_approx is the
    tolerance-tested pair key)."""
    from pyspark.sql.window import Window  # noqa: F401  (symmetry w/ file)

    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("value").isNotNull()).select(
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
        cents(F.col("value")).alias("cents"),
    )
    return v.groupBy("h", "event_type").agg(
        F.count("*").alias("n"),
        F.percentile("cents", 0.5).alias("p50_cents"),
        F.percentile("cents", 0.95).alias("p95_cents"),
        F.percentile("cents", 0.99).alias("p99_cents"),
    ).select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        "p50_cents",
        "p95_cents",
        "p99_cents",
    )


@register(
    "orders_weekly_growth",
    "X85",
    oracle=f"""
    WITH w AS (
        SELECT (date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                + 3) // 7 AS week,
               sum({cents_sql("o_totalprice")}) AS rev
        FROM orders GROUP BY week
    )
    SELECT week, CAST(rev AS BIGINT) AS rev_cents,
           CAST(prev AS BIGINT) AS prev_cents,
           -- truncate-toward-zero division: Spark's `div` truncates while
           -- DuckDB's `//` floors, and WoW growth goes NEGATIVE — spell
           -- truncation explicitly so both engines agree below zero
           CAST(CASE WHEN prev IS NULL THEN NULL
                WHEN (rev - prev) >= 0
                    THEN ((rev - prev) * 10000) // prev
                ELSE -(((prev - rev) * 10000) // prev) END AS BIGINT)
               AS growth_bp
    FROM (SELECT week, rev, lag(rev) OVER (ORDER BY week) AS prev FROM w)
    """,
)
def orders_weekly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth in basis points — the BI trendline.
    Weeks are epoch-week integers ((epoch_day+3)//7 aligns the boundary
    to Monday; pure integer math, immune to the engines' differing
    week-function conventions the seasonality key already documents for
    dow).  Revenue is BIGINT cents; growth is an exact integer floor
    division.  The lag window runs over the WEEKLY frame — one row per
    calendar week at any data volume (the same small-frame exemption as
    CUSUM)."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    w = o.groupBy(
        F.expr(
            "(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') + 3) div 7"
        ).alias("week")
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("rev"))
    lw = Window.orderBy("week")
    p = w.select("week", "rev", F.lag("rev").over(lw).alias("prev"))
    # Spark `div` already truncates toward zero; the oracle spells the
    # same truncation explicitly because DuckDB's `//` floors instead —
    # they disagree exactly when growth is negative
    return p.select(
        "week",
        F.col("rev").alias("rev_cents"),
        F.col("prev").alias("prev_cents"),
        F.expr(
            "CASE WHEN prev IS NULL THEN NULL"
            " ELSE ((rev - prev) * 10000) div prev END"
        ).alias("growth_bp"),
    )
