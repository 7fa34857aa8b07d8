"""Retail analytics over the TPC-H tables beyond the TPC-H suite itself:
RFM segments, market baskets and association rules, demand forecasts
(EWMA, Holt, Theil-Sen), streaks, ABC/XYZ classes, cohort LTV, Pareto and
Gini concentration, histograms, skylines, interval overlaps and weighted
medians.

The reference has no analytics beyond two bar charts; north-star extensions per SURVEY §2.H.  Counts
and cents are BIGINTs; interpolated percentiles on BIGINT inputs are
bit-equal between Spark's ``percentile`` and DuckDB's ``quantile_cont``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.operators.prefixsum import bucketed_cumsum, bucketed_cumsum_with_rank
from debias_spark.registry import register


def _skyline_batches(
    batches: Iterator[pd.DataFrame], candidate_cap: int | None = None
) -> Iterator[pd.DataFrame]:
    """Partition-local skyline of (price_cents minimize, p_size maximize).

    Sort by (price ascending, size descending); a point survives iff its
    size strictly exceeds the running max size of every earlier point —
    earlier means cheaper, or same price with larger-or-equal size, which
    is exactly the dominance order.  Duplicate value pairs collapse to one
    representative here; the caller re-expands via a value join, so
    dropping intra-partition duplicates is harmless.

    ``candidate_cap`` guards the PHASE-2 (single-task global merge) use:
    on random 2-D data each partition skyline is O(log n) survivors, but
    ADVERSARIAL anti-correlated data (price falling exactly as size
    rises) keeps every point on the frontier, silently turning the merge
    task into the bottleneck — fail fast with the remedy instead."""
    parts = [b for b in batches if len(b)]
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True)
    if candidate_cap is not None and len(pdf) > candidate_cap:
        raise ValueError(
            f"skyline merge received {len(pdf)} candidates (cap "
            f"{candidate_cap}): the data is heavily anti-correlated, so "
            "the single-task merge would be the scaling bottleneck — "
            "switch to a grid/angular-partitioned skyline for this input"
        )
    pdf = pdf.sort_values(["price_cents", "p_size"], ascending=[True, False])
    prev_max = pdf["p_size"].cummax().shift(1, fill_value=-1)
    yield pdf[pdf["p_size"] > prev_max]


@register(
    "part_skyline_pareto",
    "X86",
    oracle=f"""
    WITH p AS (
        SELECT p_partkey,
               {cents_sql("p_retailprice")} AS price_cents,
               p_size
        FROM part
    )
    SELECT a.p_partkey, a.price_cents, a.p_size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
          AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
    )
    """,
)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of parts: cheapest-for-their-size parts
    (minimize retail price, maximize size); a part is dominated if another
    is no worse on both axes and strictly better on one.

    Scale shape — the textbook two-phase distributed skyline: phase 1
    computes the skyline of each input partition independently (Arrow
    batch, no shuffle; a random partition's 2-D skyline is O(log n)
    points, so this is a massive reducer), phase 2 merges the surviving
    candidates on a single task — valid because the global skyline is a
    subset of every partition-skyline union, and the same strict-dominance
    sweep over the candidate set yields exactly the global frontier.  The
    tiny value frontier then broadcast-joins back to recover every part
    row carrying a frontier (price, size) pair, including exact ties.
    Never all-pairs: the oracle's NOT EXISTS spelling is the O(n^2)
    semantics, not the plan."""
    part = table(spark, sf_dir, "part")
    vals = part.select(
        cents(F.col("p_retailprice")).alias("price_cents"),
        F.col("p_size"),
    )
    schema = "price_cents long, p_size int"
    local = vals.mapInPandas(_skyline_batches, schema)
    # phase-2 cap: 2M candidates is far beyond any plausible partition-
    # skyline union for real 2-D data (32 partitions x O(log n) points)
    # while still comfortably single-task mergeable; anti-correlated
    # inputs that exceed it fail loudly (see _skyline_batches)
    frontier = local.repartition(1).mapInPandas(
        lambda it: _skyline_batches(it, candidate_cap=2_000_000), schema
    )
    return part.join(
        F.broadcast(frontier),
        (cents(F.col("p_retailprice")) == F.col("price_cents"))
        & (part["p_size"] == frontier["p_size"]),
    ).select("p_partkey", "price_cents", part["p_size"])


@register(
    "lineitem_interval_overlap",
    "X87",
    oracle="""
    WITH v AS (
        SELECT l_partkey,
               l_orderkey * 8 + l_linenumber AS tb,
               date_diff('day', DATE '1970-01-01', l_shipdate) AS s,
               date_diff('day', DATE '1970-01-01', l_shipdate)
                   + (CAST(l_quantity AS INT) % 7) AS e
        FROM lineitem
    )
    SELECT a.l_partkey,
           count(*) AS n_pairs,
           CAST(sum(least(a.e, b.e) - greatest(a.s, b.s) + 1) AS BIGINT)
               AS overlap_days_total
    FROM v a JOIN v b
      ON a.l_partkey = b.l_partkey AND a.tb < b.tb
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.l_partkey
    """,
)
def lineitem_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: pairs of shipments of the same part
    whose availability windows [shipdate, shipdate + (qty mod 7) days]
    overlap, aggregated per part (pair count + total overlapping days).

    This generalizes X18 (join_range_banded): there the joined objects are
    POINTS and a fixed band radius makes each pair meet in exactly one
    band; here the objects are VARIABLE-LENGTH intervals.  Asymmetric
    banding keeps the replication to ONE side: the "cover" side is
    replicated into every 7-day band its interval touches (bounded
    fan-out: max interval 6 days => at most 2 bands), the "start" side
    sits only in the band of its own start.  For an overlapping pair, the
    later start lies inside the earlier-starting interval, hence inside
    one of its cover bands — so requiring start >= cover-start (tb as the
    equal-start tiebreak) finds every unordered pair in exactly one
    (band, orientation), with no dedup residual and half the shuffled
    rows of the symmetric spelling.  An equi-join on (part, band)
    Catalyst can shuffle-partition, AQE handling part skew."""
    band_days = 7
    li = table(spark, sf_dir, "lineitem")
    s = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    v = li.select(
        "l_partkey",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("tb"),
        s.alias("s"),
        (s + F.col("l_quantity").cast("int") % band_days).alias("e"),
    )
    cover = v.select(
        "l_partkey",
        F.col("tb").alias("tb_c"), F.col("s").alias("s_c"), F.col("e").alias("e_c"),
        F.explode(
            F.sequence(
                F.floor(F.col("s") / band_days), F.floor(F.col("e") / band_days)
            )
        ).alias("band"),
    )
    start = v.select(
        "l_partkey",
        F.col("tb").alias("tb_s"), F.col("s").alias("s_s"), F.col("e").alias("e_s"),
        F.floor(F.col("s") / band_days).alias("band"),
    )
    # both join inputs are fact-table frames — at 100 TB neither side
    # broadcasts, so pin the shuffle-hash strategy the real cluster would
    # use instead of letting small-SF stats pick a broadcast
    pairs = (
        cover.join(start.hint("shuffle_hash"), ["l_partkey", "band"])
        .filter(
            # the start side is the LATER-starting interval of the pair
            # (tb breaks equal-start ties) and must begin inside the
            # cover interval — that IS the overlap test
            ((F.col("s_s") > F.col("s_c"))
             | ((F.col("s_s") == F.col("s_c")) & (F.col("tb_s") > F.col("tb_c"))))
            & (F.col("s_s") <= F.col("e_c"))
        )
    )
    overlap = F.least("e_c", "e_s") - F.col("s_s") + F.lit(1)
    return pairs.groupBy("l_partkey").agg(
        F.count("*").alias("n_pairs"),
        F.sum(overlap).cast("long").alias("overlap_days_total"),
    )


_EWMA_ALPHA_X10 = 3  # alpha = 0.3, spelled exactly as 3/10


_EWMA_HORIZON = 8  # trailing weeks in the bounded-window EWMA


@register(
    "orders_demand_forecast_ewma8",
    "X92",
    oracle=f"""
    WITH wk AS (
        SELECT p.p_brand AS brand,
               date_diff('day', DATE '1970-01-01', l.l_shipdate) // 7 AS w,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand, w
    ), mx AS (SELECT max(w) AS mw FROM wk),
    weighted AS (
        SELECT brand,
               CAST(sum(qty * CAST(pow(7, mx.mw - w) AS BIGINT)
                            * CAST(pow(10, {_EWMA_HORIZON - 1} - (mx.mw - w))
                                   AS BIGINT)) AS BIGINT) AS s_num
        FROM wk, mx
        WHERE mx.mw - w < {_EWMA_HORIZON}
        GROUP BY brand
    )
    SELECT brand, s_num,
           round(CAST({_EWMA_ALPHA_X10} * s_num AS DOUBLE)
                 / {10 ** _EWMA_HORIZON}, 4) AS ewma_qty
    FROM weighted
    ORDER BY brand
    """,
)
def orders_demand_forecast_ewma8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted demand forecast per part brand: weekly
    shipped quantity over the trailing {H} weeks, smoothed with
    EWMA(alpha=0.3) and zero initial level — the time-decay aggregation a
    demand pipeline runs per refresh.  Missing weeks contribute zero
    demand, which the closed form handles for free (absent terms ARE
    zero terms).

    Determinism doctrine: the decay weights (7/10)^k are kept EXACT by
    integer-scaling to a common 10^{Hm1} denominator — each term is
    qty * 7^k * 10^({Hm1}-k), a BIGINT product (max ~1e16, no overflow),
    summed exactly; alpha enters as one final double division of exact
    integers, so both engines perform the identical single IEEE op and
    the value-hash cannot drift on float-sum association order.  The
    bounded {H}-week horizon is what makes the scaling exact — an
    unbounded EWMA would need float powers and become
    association-sensitive.

    Scale shape: one broadcast dim join (part), one (brand, week)
    aggregate with map-side partials, a broadcast 1-row max-week frame,
    and a brand-keyed weighted rollup — no windows, no sorts."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    wk = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.col("p_brand").alias("brand"),
            F.expr("datediff(l_shipdate, DATE '1970-01-01') div 7").alias("w"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("brand", "w")
        .agg(F.sum("q").alias("qty"))
        # the (brand, week) frame is dimension-sized and read TWICE (max
        # week + the weighted rollup) — checkpoint it so the second read
        # does not rescan lineitem through the join
        .localCheckpoint(eager=True)
    )
    mx = wk.agg(F.max("w").alias("mw"))
    k = (F.col("mw") - F.col("w")).cast("int")
    weight = (
        F.pow(F.lit(7), k).cast("long")
        * F.pow(F.lit(10), F.lit(_EWMA_HORIZON - 1) - k).cast("long")
    )
    weighted = (
        wk.crossJoin(F.broadcast(mx))
        .filter(k < _EWMA_HORIZON)
        .groupBy("brand")
        .agg(F.sum(F.col("qty") * weight).alias("s_num"))
    )
    return weighted.select(
        "brand",
        "s_num",
        F.round(
            (F.col("s_num") * _EWMA_ALPHA_X10).cast("double")
            / F.lit(float(10 ** _EWMA_HORIZON)),
            4,
        ).alias("ewma_qty"),
    ).orderBy("brand")


orders_demand_forecast_ewma8.__doc__ = orders_demand_forecast_ewma8.__doc__.replace(
    "{H}", str(_EWMA_HORIZON)
).replace("{Hm1}", str(_EWMA_HORIZON - 1))


@register(
    "orders_mannwhitney_u",
    "X126",
    oracle="""
    WITH s AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS x,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        FROM events
        WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ), per_x AS (
        SELECT x, sum(g) AS c1, count(*) AS cnt FROM s GROUP BY x
    ), ranked AS (
        SELECT c1, cnt,
               coalesce(sum(cnt) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM per_x
    ), agg AS (
        SELECT sum(c1) AS n1,
               sum(cnt - c1) AS n2,
               sum(c1 * (2 * cum_before + cnt + 1)) AS r1_x2
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(n1 * n2 AS BIGINT) AS eu1_x2
    FROM agg
    """,
)
def orders_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between purchase-event and
    click-event values, with midrank tie handling — the standard
    nonparametric "is one group stochastically larger" test.

    Everything stays in INTEGER arithmetic: values bin to centi-units,
    midranks enter doubled (2R_1 = sum over bins of c1*(2*cum_before +
    cnt + 1), exact because the average rank of a tie group of size cnt
    starting after cum_before items is (2*cum_before + cnt + 1)/2), and
    the emitted statistic is 2*U_1 = 2*R_1 - n1*(n1+1) next to its null
    expectation 2*E[U_1] = n1*n2.  No floating point anywhere — the hash
    match is exact by construction.

    Scale: same bounded-bin ECDF design as X125 — the global-order window
    runs over domain-bounded bins, not rows; the raw scan reduces via an
    ordinary partial-aggregating groupBy.

    Plan shape: pushed IN filter -> hash aggregate on bins -> one-task
    window over bins -> single-row reduction."""
    return spark.sql(
        """
        WITH s AS (
            SELECT CAST(floor(value * 100) AS BIGINT) AS x,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
            FROM {events}
            WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        ), per_x AS (
            SELECT x, sum(g) AS c1, count(*) AS cnt FROM s GROUP BY x
        ), ranked AS (
            SELECT c1, cnt,
                   coalesce(sum(cnt) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM per_x
        ), agg AS (
            SELECT sum(c1) AS n1,
                   sum(cnt - c1) AS n2,
                   sum(c1 * (2 * cum_before + cnt + 1)) AS r1_x2
            FROM ranked
        )
        SELECT CAST(n1 AS BIGINT) AS n1,
               CAST(n2 AS BIGINT) AS n2,
               CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
               CAST(n1 * n2 AS BIGINT) AS eu1_x2
        FROM agg
        """,
        events=table(spark, sf_dir, "events"),
    )


# Monthly revenue is consumed twice by the pair self-join: the oracle
# materializes it; the Spark side localCheckpoints the tiny (about 80-row)
# frame so the orders scan+aggregate runs once.
_THEILSEN_MONTHLY_SQL = f"""
SELECT ({{year}} - 1995) * 12 + {{month}} - 1 AS m,
       sum({cents_sql("o_totalprice")}) AS cents
FROM {{orders}}
GROUP BY m
"""


_THEILSEN_TAIL_SQL = f"""
WITH {{monthly_cte}}pairs AS (
    SELECT CAST(b.cents - a.cents AS DOUBLE) / (b.m - a.m) AS slope
    FROM {{monthly}} a JOIN {{monthly}} b ON b.m > a.m
), ranked AS (
    SELECT slope,
           row_number() OVER (ORDER BY slope) AS rn,
           count(*) OVER () AS n
    FROM pairs
)
SELECT CAST(max(n) AS BIGINT) AS n_pairs,
       {floor_eps_sql("max(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)"
                      " THEN slope END)", 100)} AS theilsen_slope_centi
FROM ranked
"""


@register(
    "orders_theilsen_trend",
    "X127",
    oracle=_THEILSEN_TAIL_SQL.format(
        monthly_cte=(
            "monthly AS MATERIALIZED ("
            + _THEILSEN_MONTHLY_SQL.format(
                year="date_part('year', o_orderdate)",
                month="date_part('month', o_orderdate)",
                orders="orders",
            )
            + "), "
        ),
        monthly="monthly",
    ),
)
def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator over monthly revenue: the median
    of all pairwise slopes (cents/month) across the ~80-month order
    history — the outlier-immune complement to the OLS fit (X82
    regr_price_vs_quantity) and the EWMA forecast (Z28); one promotional
    spike month barely moves it where it would drag a least-squares line.

    Determinism: every slope is an int-difference / int-difference IEEE
    division (bit-identical on both engines), and the median is an exact
    order statistic (rank floor((n+1)/2) via row_number — the lower
    middle for even n), not an average of two doubles.  Emitted in
    integer centi-units per the repo floor rule.

    Scale: the pair join is over MONTHS, not orders — the raw scan
    reduces via an ordinary partial-aggregating groupBy to a domain-
    bounded ~80-row frame (localCheckpointed once, self-joined
    broadcast-style), so 100x more orders changes only the scan, never
    the O(months^2) = ~3.2k-row pair stage."""
    monthly = spark.sql(
        _THEILSEN_MONTHLY_SQL.format(
            year="year(o_orderdate)",
            month="month(o_orderdate)",
            orders="{orders}",
        ),
        orders=table(spark, sf_dir, "orders"),
    ).localCheckpoint(eager=True)
    return spark.sql(
        _THEILSEN_TAIL_SQL.format(monthly_cte="", monthly="{monthly}"),
        monthly=monthly,
    )


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


@register(
    "orders_streak_runlength",
    "X38",
    oracle="""
    WITH days AS (
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
        FROM orders
    ), idx AS (
        SELECT o_custkey,
               date_diff('day', DATE '1990-01-01', d) AS di,
               row_number() OVER (PARTITION BY o_custkey ORDER BY d) AS rn
        FROM days
    ), streaks AS (
        SELECT o_custkey, count(*) AS len
        FROM idx GROUP BY o_custkey, di - rn
    ), best AS (
        SELECT o_custkey, max(len) AS max_streak
        FROM streaks GROUP BY o_custkey
    )
    SELECT CAST(max_streak AS BIGINT) AS max_streak,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
    FROM best GROUP BY max_streak ORDER BY max_streak
    """,
)
def orders_streak_runlength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day ordering streak per customer, reported as
    a distribution (streak length -> customer count, custkey_sum pinning
    the exact member sets) — the gaps-and-islands run-length primitive
    behind retention/habit metrics.  Island id = day_index - row_number:
    consecutive days share it, any gap breaks it; both engines compute
    the identical integer day index from the same parquet dates.

    Scale shape: distinct (customer, day) first (map-side combine), then
    a window partitioned BY CUSTOMER (parallel, ~10 rows per partition),
    two grouped aggregates, and a bounded output (streak lengths).  No
    global sort, no unpartitioned window anywhere."""
    o = table(spark, sf_dir, "orders")
    days = o.select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    ).distinct()
    idx = days.select(
        "o_custkey",
        F.datediff(F.col("d"), F.lit("1990-01-01").cast("date")).alias("di"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("d"))
        .alias("rn"),
    )
    streaks = idx.groupBy(
        "o_custkey", (F.col("di") - F.col("rn")).alias("isl")
    ).agg(F.count("*").alias("len"))
    best = streaks.groupBy("o_custkey").agg(F.max("len").alias("max_streak"))
    return (
        best.groupBy("max_streak")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.sum("o_custkey").cast("long").alias("custkey_sum"),
        )
        .select("max_streak", "n_customers", "custkey_sum")
    )


@register(
    "orders_abc_xyz_classification",
    "X147",
    oracle=f"""
    WITH pm AS MATERIALIZED (
        SELECT l_partkey,
               date_trunc('month', l_shipdate) AS m,
               sum(CAST(l_quantity AS BIGINT)) AS q,
               sum({cents_sql("l_extendedprice")}) AS cents
        FROM lineitem GROUP BY 1, 2
    ), p AS MATERIALIZED (
        SELECT l_partkey,
               sum(cents) AS rev,
               count(*) AS n_m,
               sum(q) AS s,
               sum(q * q) AS q2
        FROM pm GROUP BY 1
    ), c AS (
        SELECT l_partkey, rev, n_m, s, q2,
               sum(rev) OVER (ORDER BY rev DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
               sum(rev) OVER () AS total
        FROM p
    ), cls AS (
        SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
                    WHEN cum * 20 <= total * 19 THEN 'B'
                    ELSE 'C' END AS abc,
               -- cv^2 = (n*q2 - s^2) / s^2; X: cv^2 < 1/4, Y: < 1, Z: rest
               CASE WHEN 4 * (n_m * q2 - s * s) < s * s THEN 'X'
                    WHEN n_m * q2 - s * s < s * s THEN 'Y'
                    ELSE 'Z' END AS xyz,
               rev
        FROM c
    )
    SELECT abc, xyz,
           count(*) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS rev_cents
    FROM cls GROUP BY abc, xyz ORDER BY abc, xyz
    """,
)
def orders_abc_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ classification, the inventory-planning matrix: ABC ranks
    parts by cumulative revenue share (A carries the first 80%, B to
    95%, C the tail) and XYZ grades demand variability by the
    coefficient of variation of monthly quantities (X: cv < 0.5,
    Y: cv < 1, Z: erratic).  EVERY boundary is an exact integer
    comparison — the ABC cut multiplies through the total (cum*5 <=
    total*4), and the CV cut squares through the mean (4(n*Σq² - S²) <
    S²) — so no float exists anywhere in the classification and the
    engines cannot disagree on a single part.

    Scale shape: the fact table collapses to (part, month) then part
    (two map-side-combined aggregates); the cumulative revenue uses
    operators/prefixsum.bucketed_cumsum (bucket cutoffs + per-bucket
    windows — no single-partition sort; the oracle keeps the naive
    global-window spelling, so the hash proves the two-pass equivalence
    once more); output is the bounded 3x3 class matrix."""
    li = table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("m")
    ).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("q"),
        F.sum(cents(F.col("l_extendedprice"))).alias("cents"),
    )
    p = pm.groupBy("l_partkey").agg(
        F.sum("cents").alias("rev"),
        F.count("*").alias("n_m"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("q2"),
    )
    c = bucketed_cumsum(
        p, value_col="rev", order_col="rev", tiebreak_col="l_partkey",
        descending=True,
    )
    abc = (
        F.when(F.col("cum") * 5 <= F.col("total") * 4, "A")
        .when(F.col("cum") * 20 <= F.col("total") * 19, "B")
        .otherwise("C")
    )
    disp = F.col("n_m") * F.col("q2") - F.col("s") * F.col("s")
    xyz = (
        F.when(4 * disp < F.col("s") * F.col("s"), "X")
        .when(disp < F.col("s") * F.col("s"), "Y")
        .otherwise("Z")
    )
    return (
        c.select(abc.alias("abc"), xyz.alias("xyz"), "rev")
        .groupBy("abc", "xyz")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("rev").cast("long").alias("rev_cents"),
        )
        .orderBy("abc", "xyz")
    )


@register(
    "orders_cohort_ltv_curve",
    "X153",
    oracle=f"""
    WITH f AS (
        SELECT o_custkey,
               date_trunc('month', o_orderdate) AS m,
               {cents_sql("o_totalprice")} AS cents
        FROM orders
    ), cust AS MATERIALIZED (
        SELECT o_custkey, min(m) AS cohort FROM f GROUP BY 1
    ), ca AS (
        SELECT c.cohort,
               (year(f.m) - year(c.cohort)) * 12
                   + (month(f.m) - month(c.cohort)) AS age,
               sum(f.cents) AS rev
        FROM f JOIN cust c ON c.o_custkey = f.o_custkey
        GROUP BY 1, 2
    ), size_ AS (
        SELECT cohort, count(*) AS n_cust FROM cust GROUP BY 1
    )
    SELECT strftime(ca.cohort, '%Y-%m') AS cohort,
           CAST(ca.age AS INT) AS age_months,
           CAST(max(s.n_cust) AS BIGINT) AS cohort_size,
           CAST(sum(sum(ca.rev)) OVER (PARTITION BY ca.cohort ORDER BY ca.age
                    ROWS UNBOUNDED PRECEDING)
                // max(s.n_cust) AS BIGINT) AS cum_ltv_cents_per_cust
    FROM ca JOIN size_ s ON s.cohort = ca.cohort
    GROUP BY ca.cohort, ca.age
    ORDER BY cohort, age_months
    """,
)
def orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, and for each cohort age (months since acquisition) the
    CUMULATIVE revenue per acquired customer — the retention economics
    curve behind every subscription/commerce dashboard (flattening =
    churn; the per-customer normalization makes cohorts of different
    sizes comparable).  Cumulative cents divide as exact integer floor
    division, so no float exists anywhere.

    Scale shape: facts collapse to (customer, month), the cohort
    dimension joins back broadcast-sized, the running sum is a window
    PARTITIONED BY COHORT over the bounded ~80x80 (cohort, age) frame —
    never over raw facts."""
    o = table(spark, sf_dir, "orders")
    f = o.select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("m"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    cust = f.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    ca = (
        f.join(cust, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year("m") - F.year("cohort")) * 12
                + (F.month("m") - F.month("cohort"))
            ).alias("age"),
        )
        .agg(F.sum("cents").alias("rev"))
    )
    size = cust.groupBy("cohort").agg(F.count("*").alias("n_cust"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = ca.join(F.broadcast(size), "cohort").withColumn(
        "cum", F.sum("rev").over(w)
    )
    return joined.select(
        F.date_format("cohort", "yyyy-MM").alias("cohort"),
        F.col("age").cast("int").alias("age_months"),
        F.col("n_cust").cast("long").alias("cohort_size"),
        F.floor(F.col("cum") / F.col("n_cust")).cast("long").alias(
            "cum_ltv_cents_per_cust"
        ),
    ).orderBy("cohort", "age_months")


@register(
    "orders_interpurchase_gaps",
    "X158",
    oracle="""
    WITH g AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(CAST(o_orderdate AS DATE)) OVER (
                             PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey),
                         CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
    ), b AS (
        SELECT CASE WHEN gap_days <= 30 THEN '00-030'
                    WHEN gap_days <= 90 THEN '031-090'
                    WHEN gap_days <= 180 THEN '091-180'
                    WHEN gap_days <= 365 THEN '181-365'
                    ELSE '366+' END AS bucket,
               gap_days
        FROM g WHERE gap_days IS NOT NULL
    )
    SELECT bucket,
           count(*) AS n_gaps,
           CAST(min(gap_days) AS BIGINT) AS min_days,
           CAST(max(gap_days) AS BIGINT) AS max_days,
           CAST(sum(gap_days) AS BIGINT) AS total_days
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def orders_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase time distribution: the day gap between each
    customer's consecutive orders, bucketed into the standard
    repurchase-cycle bands — the input to churn-risk rules ("no order
    for > 2x the customer's typical gap") and replenishment models.
    Gaps are exact integer day differences from a lag over the
    (customer, date, orderkey) total order.

    Scale shape: one user-partitioned window (parallel across
    customers, ~10 rows each), then a 5-bucket aggregate.  No global
    sort, no self-join."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    bucket = (
        F.when(F.col("gap_days") <= 30, "00-030")
        .when(F.col("gap_days") <= 90, "031-090")
        .when(F.col("gap_days") <= 180, "091-180")
        .when(F.col("gap_days") <= 365, "181-365")
        .otherwise("366+")
    )
    return (
        g.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_gaps"),
            F.min("gap_days").cast("long").alias("min_days"),
            F.max("gap_days").cast("long").alias("max_days"),
            F.sum("gap_days").cast("long").alias("total_days"),
        )
        .orderBy("bucket")
    )


@register(
    "lineitem_anova_f",
    "X160",
    oracle=f"""
    WITH g AS MATERIALIZED (
        SELECT l_returnflag AS flag,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum({cents_sql("l_extendedprice")})
                    AS HUGEINT) AS s,
               CAST(sum({cents_sql("l_extendedprice")}
                        * {cents_sql("l_extendedprice")})
                    AS HUGEINT) AS q
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n) AS HUGEINT) AS nt,
               CAST(sum(s) AS HUGEINT) AS st,
               CAST(sum(q) AS HUGEINT) AS qt,
               count(*) AS k,
               -- fold Σ s_g^2/n_g in FLAG ORDER: each term divides exact
               -- integers (correctly rounded identically on both
               -- engines), and the left-fold order is pinned
               list_reduce(list(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)
                                ORDER BY flag), (a, b) -> a + b) AS sb
        FROM g
    )
    SELECT CAST(nt AS BIGINT) AS n_rows,
           CAST(k AS INT) AS n_groups,
           {floor_eps_sql("(sb - CAST(st * st AS DOUBLE) / CAST(nt AS DOUBLE))"
                          " / (k - 1)"
                          " / ((CAST(qt AS DOUBLE) - sb) / CAST(nt - k AS DOUBLE))", 1000000)}
               AS f_e6
    FROM tot
    """,
)
def lineitem_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for price across return-flag groups —
    completing the hypothesis-test family (z-test, chi-square, KS,
    Mann-Whitney) with the k-group mean comparison.  F = (SSB/(k-1)) /
    (SSW/(n-k)); every moment (n, Σx, Σx²) is an exact integer in cents,
    the only non-integers are Σ s_g²/n_g terms — each one division of
    exact integers (IEEE correctly rounded on both engines), summed in a
    PINNED flag-ordered left-fold (cross-engine float-sum-order rule) —
    so the e6 emission is bit-stable with no transcendentals.

    Scale shape: one map-side-combined grouped moment aggregate, then a
    3-row fold.  Nothing else."""
    li = table(spark, sf_dir, "lineitem")
    c = cents(F.col("l_extendedprice"))
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(c).cast("decimal(38,0)").alias("s"),
        F.sum(c * c).cast("decimal(38,0)").alias("q"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.count("*").alias("k"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "flag",
                        # spelled (s*s)/n with the EXACT product cast to
                        # double, matching the oracle's textual order —
                        # (s/n)*s would round differently
                        (
                            (F.col("s") * F.col("s")).cast("double")
                            / F.col("n").cast("double")
                        ).alias("term"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("sb"),
    )
    ssb = F.col("sb") - F.col("st").cast("double") * F.col("st").cast("double") / F.col("nt").cast("double")
    ssw = F.col("qt").cast("double") - F.col("sb")
    return tot.select(
        F.col("nt").cast("long").alias("n_rows"),
        F.col("k").cast("int").alias("n_groups"),
        floor_eps(
            ssb / (F.col("k") - 1) / (ssw / (F.col("nt") - F.col("k")).cast("double")),
            1000000,
        )
        .cast("long")
        .alias("f_e6"),
    )


@register(
    "customer_rfm_segments",
    "X30",
    oracle=f"""
    WITH rfm AS (
        SELECT o_custkey,
               CAST(max(floor(epoch(o_orderdate))) AS BIGINT) AS last_s,
               count(*) AS frequency,
               CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ), cuts AS (
        SELECT quantile_cont(last_s, [0.25, 0.5, 0.75]) AS rq,
               quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fq,
               quantile_cont(monetary_cents, [0.25, 0.5, 0.75]) AS mq
        FROM rfm
    ), scored AS (
        SELECT monetary_cents,
               1 + CAST(last_s > rq[1] AS BIGINT)
                 + CAST(last_s > rq[2] AS BIGINT)
                 + CAST(last_s > rq[3] AS BIGINT) AS r_score,
               1 + CAST(frequency > fq[1] AS BIGINT)
                 + CAST(frequency > fq[2] AS BIGINT)
                 + CAST(frequency > fq[3] AS BIGINT) AS f_score,
               1 + CAST(monetary_cents > mq[1] AS BIGINT)
                 + CAST(monetary_cents > mq[2] AS BIGINT)
                 + CAST(monetary_cents > mq[3] AS BIGINT) AS m_score
        FROM rfm, cuts
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           CAST(sum(monetary_cents) // count(*) AS BIGINT) AS avg_monetary_cents
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary aggregate,
    quartile-scored against exact-percentile cutoffs broadcast back, rolled
    up to segment sizes.  Plan shape: one groupBy shuffle, one percentile
    aggregate over the per-customer frame (map-side partial count-maps, a
    merge — NO global sort; the previous ntile formulation funneled the
    whole frame through a single-partition WindowExec), a 1-row broadcast
    cross join, then a map-side rollup.  Spark's exact ``percentile`` and
    DuckDB's ``quantile_cont`` both linearly interpolate at (n-1)*p, and on
    bigint inputs the interpolated doubles are bit-identical (verified at
    sf0.001/0.01), so the cutoff comparisons are engine-exact.  At true
    100 TB scale swap ``percentile`` for ``approx_percentile`` (mergeable
    sketch, bounded state) — that trades the cross-engine determinism this
    oracle needs, so the exact form stays here."""
    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max(F.unix_seconds(F.col("o_orderdate").cast("timestamp"))).alias("last_s"),
        F.count("*").alias("frequency"),
        F.sum(cents(F.col("o_totalprice"))).alias("monetary_cents"),
    )
    cuts = rfm.agg(
        F.percentile("last_s", [0.25, 0.5, 0.75]).alias("rq"),
        F.percentile("frequency", [0.25, 0.5, 0.75]).alias("fq"),
        F.percentile("monetary_cents", [0.25, 0.5, 0.75]).alias("mq"),
    )

    def score(v: str, q: str):
        return (
            F.lit(1)
            + (F.col(v) > F.get(q, 0)).cast("long")
            + (F.col(v) > F.get(q, 1)).cast("long")
            + (F.col(v) > F.get(q, 2)).cast("long")
        )

    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        "monetary_cents",
        score("last_s", "rq").alias("r_score"),
        score("frequency", "fq").alias("f_score"),
        score("monetary_cents", "mq").alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            # integer division keeps the average engine-exact (Spark round()
            # on doubles uses the shortest decimal repr, DuckDB the true
            # binary value — they disagree at half-cent boundaries)
            F.expr("sum(monetary_cents) div count(*)").alias("avg_monetary_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "orders_market_basket",
    "X52",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, count(*) AS support
    FROM pairs GROUP BY part_a, part_b
    HAVING count(*) >= 3
    ORDER BY support DESC, part_a, part_b
    LIMIT 50
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in >= 3
    orders, top 50 by support.  Plan shape: the basket-local pair build
    (operators/graph.py — group each order's part set once, explode
    ordered pairs in codegen) is bounded by (basket size)^2 per order —
    ~10 items/order means <=45 pairs/order, linear in orders — never a
    global parts x parts cross join, and two shuffles total vs three for
    the distinct+self-join spelling.  Exact integer counts."""
    from debias_spark.operators.graph import basket_pair_support, order_baskets

    return (
        basket_pair_support(order_baskets(spark, sf_dir))
        .filter(F.col("support") >= 3)
        .select(
            F.col("pa").alias("part_a"), F.col("pb").alias("part_b"), "support"
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(50)
    )


@register(
    "orders_basket_lift",
    "X54",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
        SELECT count(DISTINCT l_orderkey) AS n FROM items
    ), item_n AS (
        SELECT l_partkey, count(*) AS n_item FROM items GROUP BY l_partkey
    ), pair_n AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_pair
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b HAVING count(*) >= 3
    )
    SELECT part_a, part_b, n_pair,
           round(n_pair * 1.0 / ia.n_item, 4) AS confidence_a_to_b,
           round(n_pair * 1.0 * (SELECT n FROM n_orders)
                 / (ia.n_item * ib.n_item), 4) AS lift
    FROM pair_n
    JOIN item_n ia ON ia.l_partkey = part_a
    JOIN item_n ib ON ib.l_partkey = part_b
    ORDER BY lift DESC, part_a, part_b
    LIMIT 50
    """,
)
def orders_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket pairs: support count, confidence
    P(b|a), and lift P(ab)/(P(a)P(b)) for pairs in >= 3 orders, top 50 by
    lift.  Plan shape: pairs, per-item frequencies AND the order count all
    derive from ONE basket frame (operators/graph.py — a single lineitem
    shuffle, checkpointed so the three aggregates read it instead of
    re-grouping lineitem each): pair generation is basket-local
    (basket^2 per order, linear overall); item frequency is a map-side
    explode + partkey aggregate; the order count is a plain count.  At
    scale the item-frequency join stays partkey-keyed and never
    broadcasts a fact-scaled table by force.  All ratios divide exact
    bigint counts (single fp op per output value, engine-deterministic);
    ties in lift break on the part keys."""
    from debias_spark.operators.graph import basket_pair_support, order_baskets

    baskets = order_baskets(spark, sf_dir).localCheckpoint(eager=True)
    n_orders = baskets.agg(F.count("*").alias("n"))
    item_n = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_item"))
    )
    pair_n = (
        basket_pair_support(baskets)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("support").alias("n_pair"),
        )
        .filter(F.col("n_pair") >= 3)
    )
    ia = item_n.select(
        F.col("l_partkey").alias("ka"), F.col("n_item").alias("n_a")
    )
    ib = item_n.select(
        F.col("l_partkey").alias("kb"), F.col("n_item").alias("n_b")
    )
    return (
        pair_n.join(ia, F.col("ka") == F.col("part_a"))
        .join(ib, F.col("kb") == F.col("part_b"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            F.round(F.col("n_pair") * 1.0 / F.col("n_a"), 4).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("n_pair") * 1.0 * F.col("n") / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


@register(
    "orders_pareto_share",
    "X62",
    oracle=f"""
    WITH pc AS (
        SELECT o_custkey,
               CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY o_custkey
    ), c AS (
        SELECT o_custkey, rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_cents,
               CAST(sum(rev_cents) OVER () AS BIGINT) AS total
        FROM pc
    )
    SELECT o_custkey, rev_cents, cum_cents,
           CAST((cum_cents * 10000) // total AS BIGINT) AS cum_share_bp,
           cum_cents * 5 <= total * 4 AS in_top80
    FROM c
    """,
)
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto revenue concentration: customers ranked by revenue with
    their cumulative share (basis points) and an 80/20 flag.  The global
    running total uses operators/prefixsum.bucketed_cumsum — percentile
    range-bucketing + per-bucket windows + a 16-row offset scan — NOT a
    single-partition ORDER-BY window over the per-customer frame (the
    oracle uses that naive spelling, which is exactly the equivalence
    being hash-checked).  Share math stays in BIGINT basis points:
    ``cum*10000 // total`` and ``cum*5 <= total*4`` are engine-exact
    where a double division could straddle a rounding boundary."""
    from debias_spark.operators.prefixsum import bucketed_cumsum

    o = table(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("rev_cents")
    )
    c = bucketed_cumsum(
        pc, value_col="rev_cents", order_col="rev_cents",
        tiebreak_col="o_custkey", descending=True,
    )
    return c.select(
        "o_custkey",
        "rev_cents",
        F.col("cum").alias("cum_cents"),
        F.expr("(cum * 10000) div total").alias("cum_share_bp"),
        (F.col("cum") * 5 <= F.col("total") * 4).alias("in_top80"),
    )


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


# Temporal split point: 5 years of history train, the final ~1.6 years
# eval (orders span 1995-01-01 .. 2001-08-01 at every SF)
_SPLIT_TS = "2000-01-01"


@register(
    "orders_temporal_split_leakage",
    "Y63",
    oracle=f"""
    WITH o AS MATERIALIZED (
        SELECT o_custkey, o_orderkey,
               {cents_sql("o_totalprice")} AS cents,
               CASE WHEN o_orderdate < TIMESTAMP '{_SPLIT_TS}'
                    THEN 'train' ELSE 'eval' END AS split
        FROM orders
    ), leaky AS (
        SELECT o_custkey FROM o GROUP BY 1
        HAVING count(DISTINCT split) = 2
    )
    SELECT split,
           count(*) AS n_orders,
           count(DISTINCT o.o_custkey) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS rev_cents,
           CAST(sum(CASE WHEN l.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaked_orders,
           CAST(count(DISTINCT l.o_custkey) AS BIGINT) AS n_leaky_customers
    FROM o LEFT JOIN leaky l ON l.o_custkey = o.o_custkey
    GROUP BY split ORDER BY split
    """,
)
def orders_temporal_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEMPORAL counterpart of Y62's stratified split: train on the
    past, evaluate on the future (the only split that is honest for
    forecasting models), plus the entity-leakage audit — customers with
    orders on BOTH sides of the boundary make the eval split
    warm-start for per-customer models, so the key reports per split
    the order/customer/revenue accounting, how many orders belong to
    leaky (both-sides) customers, and the leaky-entity count itself;
    eval minus leaked is the cold-start eval set a per-entity model
    must be graded on.

    Scale shape: the split is a pure date-predicate projection (pruned
    at the scan when the table is date-partitioned); everything reduces
    through ONE per-(split, custkey) pre-aggregation, after which both
    the leaky-entity set and the final rollup are counts over that
    already-distinct frame — no exact-distinct ever mixes into a
    groupBy with other aggregates, so no Expand replicates the fact
    rows through the shuffle (measured rule 7).  The leaky set joins
    back broadcast-sized relative to the per-customer frame (at 100 TB:
    a bloom-filter semi-join on the same key).  All emitted values are
    exact integers."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        cents(F.col("o_totalprice")).alias("cents"),
        F.when(
            F.col("o_orderdate") < F.expr(f"TIMESTAMP_NTZ '{_SPLIT_TS} 00:00:00'"),
            "train",
        )
        .otherwise("eval")
        .alias("split"),
    )
    # one shuffle on (split, custkey); every later aggregate is a count
    # or sum over this distinct-by-construction frame
    per_cust = o.groupBy("split", "o_custkey").agg(
        F.count("*").alias("n_o"), F.sum("cents").alias("c")
    )
    leaky = (
        per_cust.groupBy("o_custkey")
        .agg(F.count("*").alias("ns"))  # rows are distinct splits already
        .filter(F.col("ns") == 2)
        .select("o_custkey", F.lit(True).alias("leaky"))
    )
    j = per_cust.join(F.broadcast(leaky), "o_custkey", "left").withColumn(
        "leaky", F.coalesce(F.col("leaky"), F.lit(False))
    )
    return (
        j.groupBy("split")
        .agg(
            F.sum("n_o").alias("n_orders"),
            F.count("*").alias("n_customers"),
            F.sum("c").alias("rev_cents"),
            F.sum(F.when(F.col("leaky"), F.col("n_o")).otherwise(F.lit(0))).alias(
                "n_leaked_orders"
            ),
            F.sum(F.col("leaky").cast("long")).alias("n_leaky_customers"),
        )
        .orderBy("split")
    )
