"""Round-7 wave 1 (X37-X39, X49): Kendall tau-b, consecutive-day order
streaks, Poisson hourly anomaly screen, and hourly OHLC candles.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no statistics or time-series surface; north-star extensions per
SURVEY §2.H / §8, rounding out the correlation family (Pearson X_regr,
Spearman X139) with the rank-concordance member and the events family
with run-length and candle primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.registry import register



@register(
    "stats_kendall_tau",
    "X37",
    oracle=f"""
    WITH nat AS MATERIALIZED (
        SELECT c.c_nationkey AS nk,
               count(DISTINCT c.c_custkey) AS x,
               sum({cents_sql("o.o_totalprice")}) AS y
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ), p AS (
        SELECT sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END) AS c,
               sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END) AS d,
               sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS tx,
               sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS ty,
               count(*) AS n0
        FROM nat a JOIN nat b ON a.nk < b.nk
    )
    SELECT CAST((SELECT count(*) FROM nat) AS BIGINT) AS n_nations,
           CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           {floor_eps_sql("CAST(c - d AS DOUBLE)"
                          " / (sqrt(CAST(n0 - tx AS DOUBLE))"
                          " * sqrt(CAST(n0 - ty AS DOUBLE)))", 1000000)} AS tau_b_e6
    FROM p
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank concordance between per-nation customer count
    and total order revenue — the third member of the correlation family
    (Pearson = regr_price_vs_quantity, Spearman = stats_spearman_corr):
    robust to monotone transforms AND interpretable as a probability of
    concordance.  tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)) with n1/n2
    the x/y-tied pair counts; every count is an exact integer and the
    only floats are the final correctly-rounded casts/sqrts/divide —
    bit-identical on both engines, floor-eps e6 emission (expression
    rule 18, no transcendentals).

    Scale shape: the fact tables collapse to the 25-row nation dimension
    first (map-side-combined aggregates); the O(n^2) pair join is 300
    rows on a broadcast self-join — pair counting is quadratic ONLY in
    the bounded dimension, never in fact rows.  (For an unbounded
    dimension the 100 TB plan is merge-sort inversion counting over a
    range-partitioned sort; documented, not needed at nation grain.)"""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    nat = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.countDistinct("c_custkey").alias("x"),
            F.sum(cents(F.col("o_totalprice"))).alias("y"),
        )
        .localCheckpoint(eager=True)  # 25 rows, read by pairs AND the count
    )
    a = nat.select(
        F.col("nk").alias("nka"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = nat.select(
        F.col("nk").alias("nkb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    p = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("nka") < F.col("nkb"))
        .agg(
            F.sum((sgn > 0).cast("long")).alias("c"),
            F.sum((sgn < 0).cast("long")).alias("d"),
            F.sum((F.col("xa") == F.col("xb")).cast("long")).alias("tx"),
            F.sum((F.col("ya") == F.col("yb")).cast("long")).alias("ty"),
            F.count("*").alias("n0"),
        )
    )
    n_nat = nat.agg(F.count("*").cast("long").alias("n_nations"))
    return p.crossJoin(F.broadcast(n_nat)).select(
        "n_nations",
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        floor_eps(
            (F.col("c") - F.col("d")).cast("double")
            / (
                F.sqrt((F.col("n0") - F.col("tx")).cast("double"))
                * F.sqrt((F.col("n0") - F.col("ty")).cast("double"))
            ),
            1000000,
        )
        .cast("long")
        .alias("tau_b_e6"),
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
    "events_poisson_anomaly",
    "X39",
    oracle="""
    WITH h AS MATERIALIZED (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT event_type,
               count(*) AS n_hours,
               sum(c) AS total
        FROM h GROUP BY 1
    )
    SELECT h.event_type,
           CAST(max(s.n_hours) AS BIGINT) AS n_hours,
           CAST(max(s.total) AS BIGINT) AS total_events,
           CAST(sum(CASE WHEN CAST(h.c * s.n_hours - s.total AS DOUBLE)
                              > 4 * sqrt(CAST(s.total * s.n_hours AS DOUBLE))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous_hours,
           CAST(max(h.c) AS BIGINT) AS max_hour_count
    FROM h JOIN s ON s.event_type = h.event_type
    GROUP BY h.event_type ORDER BY h.event_type
    """,
)
def events_poisson_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-anomaly screen over the hourly event series: an hour
    is anomalous when its count exceeds lambda + 4*sqrt(lambda) (lambda =
    the series' mean hourly rate) — the first-pass burst detector an
    operations pipeline runs before heavier changepoint models (CUSUM =
    events_cusum_changepoint).  The test multiplies through by n_hours so
    the left side (c*n - total) stays an exact integer; the right side is
    4*sqrt of one exact integer product — both engines call sqrt on the
    identical double (expression rule 18), so the > comparison can never
    split them.

    Scale shape: events collapse to (series, hour) counts first; the
    5-row per-series stats join back broadcast; output is one row per
    series.  Everything is a mergeable aggregate."""
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("c"))
    s = h.groupBy("event_type").agg(
        F.count("*").alias("n_hours"), F.sum("c").alias("total")
    )
    joined = h.join(F.broadcast(s), "event_type")
    anom = (
        (F.col("c") * F.col("n_hours") - F.col("total")).cast("double")
        > 4 * F.sqrt((F.col("total") * F.col("n_hours")).cast("double"))
    ).cast("long")
    return (
        joined.groupBy("event_type")
        .agg(
            F.max("n_hours").cast("long").alias("n_hours"),
            F.max("total").cast("long").alias("total_events"),
            F.sum(anom).cast("long").alias("n_anomalous_hours"),
            F.max("c").cast("long").alias("max_hour_count"),
        )
        .orderBy("event_type")
    )


@register(
    "events_hourly_ohlc",
    "X49",
    oracle=f"""
    WITH r AS (
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
               value, ts, event_id,
               row_number() OVER w AS rn,
               count(*) OVER (PARTITION BY event_type,
                              date_trunc('hour', ts)) AS n
        FROM events
        WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
                     ORDER BY ts, event_id)
    )
    SELECT event_type, hr,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(CASE WHEN rn = 1 THEN
                {floor_eps_sql("value", 1000000)}
                END) AS BIGINT) AS open_e6,
           CAST(max({floor_eps_sql("value", 1000000)})
                AS BIGINT) AS high_e6,
           CAST(min({floor_eps_sql("value", 1000000)})
                AS BIGINT) AS low_e6,
           CAST(min(CASE WHEN rn = n THEN
                {floor_eps_sql("value", 1000000)}
                END) AS BIGINT) AS close_e6
    FROM r GROUP BY event_type, hr
    ORDER BY event_type, hr
    """,
)
def events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event series (open/high/low/close of the
    `value` measure) — the downsampling primitive every metrics store
    runs before charting.  Open/close are selected by row_number over
    (ts, event_id) WITHIN each (series, hour) partition — a total order
    (event_id breaks ts ties), so both engines pick the same rows; the
    doubles are untouched parquet values and quantize to the same
    floor-eps e6 integers.

    Scale shape: the window partitions by (series, hour) — thousands of
    small independent partitions, embarrassingly parallel; one grouped
    aggregate emits 4 candle values per partition.  At 100 TB the same
    plan holds because partition count grows with data while per-
    partition size stays one hour of one series."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.date_trunc("hour", "ts")).orderBy(
        "ts", "event_id"
    )
    e6 = floor_eps(F.col("value"), 1000000).cast("long")
    r = ev.select(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hr"),
        e6.alias("v6"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("n"),
    )
    return (
        r.groupBy("event_type", "hr")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(F.when(F.col("rn") == 1, F.col("v6"))).alias("open_e6"),
            F.max("v6").alias("high_e6"),
            F.min("v6").alias("low_e6"),
            F.min(F.when(F.col("rn") == F.col("n"), F.col("v6"))).alias("close_e6"),
        )
        .orderBy("event_type", "hr")
    )
