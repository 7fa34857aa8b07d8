"""Window keys: rank / lag frames, range and interval frames,
distribution and IGNORE NULLS packs, tumbling and sliding event-time
windows.

The reference has no windows (SURVEY §2.G); north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps_sql
from debias_spark.registry import register
from debias_spark.streaming import tumbling_counts


@register(
    "window_interval_range_frame",
    "X131",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_24h,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
               AS cents_24h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
    QUALIFY event_id % 20 = 0
    ORDER BY event_id
    """,
)
def window_interval_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-INTERVAL range frame: per-user trailing-24-hour event count
    and centi-value sum, computed by the engine's RANGE frame over the
    event-time ORDER BY — the rolling-window rate limiter / velocity
    feature spelled as one window instead of a self-join (the numeric
    RANGE sibling is X44; this is the temporal one).  Peers at the same
    timestamp aggregate together on both engines by RANGE semantics.

    Output samples every 20th event so the checked frame stays bounded
    while every user's full history still feeds the frames.

    Plan shape: ONE shuffle on user_id + per-partition sort — the frame
    is a sliding pointer over the sorted run, no replication, no
    self-join; at 100 TB this is the canonical "velocity feature"
    plan."""
    return spark.sql(
        """
        SELECT event_id, user_id, n_24h, cents_24h
        FROM (
            SELECT event_id, user_id,
                   CAST(count(*) OVER w AS BIGINT) AS n_24h,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w
                        AS BIGINT) AS cents_24h
            FROM {events}
            WINDOW w AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 24 HOURS PRECEDING
                               AND CURRENT ROW)
        )
        WHERE event_id % 20 = 0
        ORDER BY event_id
        """,
        events=table(spark, sf_dir, "events"),
    )


# Same computation, two IGNORE NULLS spellings: Spark puts the modifier
# after the call (lag(m) IGNORE NULLS), DuckDB inside it (lag(m IGNORE
# NULLS)).  The window only MOVES stored doubles (no arithmetic), so the
# carried values are bit-identical and the floor-e6 checksums exact.
_IGNORE_NULLS_SQL = f"""
    WITH m AS (
        SELECT user_id,
               ts, event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS m
        FROM {{events}}
    ), w AS (
        SELECT user_id, m,
               last_value({{ff_arg}}) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
               lag({{lag_arg}}) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM m
    )
    SELECT user_id,
           count(*) AS n_rows,
           CAST(count(*) - count(m) AS BIGINT) AS n_gaps,
           CAST(sum({floor_eps_sql("coalesce(ff, 0)", 1000000)}) AS BIGINT) AS ff_checksum_e6,
           CAST(sum({floor_eps_sql("coalesce(prev, 0)", 1000000)}) AS BIGINT) AS prev_checksum_e6
    FROM w GROUP BY user_id ORDER BY user_id
"""


@register(
    "window_ignore_nulls_pack",
    "X144",
    oracle=_IGNORE_NULLS_SQL.format(
        events="events",
        ff_arg="m IGNORE NULLS",
        lag_arg="m IGNORE NULLS",
    ),
)
def window_ignore_nulls_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window modifiers — the gap-fill primitive: error
    events carry no metric (NULL), and last_value(... IGNORE NULLS)
    forward-fills each user's series while lag(... IGNORE NULLS) reads
    the previous OBSERVED value (sensor/telemetry semantics, distinct
    from plain lag which would return the NULL itself).  Checksums over
    the filled series pin every carried value without emitting one row
    per event.

    Scale shape: one window pass partitioned by user (parallel), then a
    grouped aggregate — no unpartitioned window, no second scan."""
    return spark.sql(
        f"""
    WITH m AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS m
        FROM {{ev}}
    ), w AS (
        SELECT user_id, m,
               last_value(m) IGNORE NULLS OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
               lag(m) IGNORE NULLS OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM m
    )
    SELECT user_id,
           count(*) AS n_rows,
           CAST(count(*) - count(m) AS BIGINT) AS n_gaps,
           CAST(sum({floor_eps_sql("coalesce(ff, 0)", 1000000)}) AS BIGINT) AS ff_checksum_e6,
           CAST(sum({floor_eps_sql("coalesce(prev, 0)", 1000000)}) AS BIGINT) AS prev_checksum_e6
    FROM w GROUP BY user_id ORDER BY user_id
    """,
        ev=table(spark, sf_dir, "events"),
    )


@register(
    "window_tumbling_event_time",
    "H14",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) + 0.0 AS sum_val
    FROM events GROUP BY window_start, event_type
    """,
)
def window_tumbling_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows, batch mode.  The identical plan
    (streaming.tumbling_counts) runs under Structured Streaming; the
    batch-vs-stream equivalence test proves result parity."""
    return tumbling_counts(table(spark, sf_dir, "events"))


@register(
    "window_sliding",
    "H15",
    oracle="""
    WITH b AS (
        SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS w1, value
        FROM events
    ), w AS (
        SELECT w1 AS ws, value FROM b
        UNION ALL
        SELECT w1 - 1800 AS ws, value FROM b
    )
    SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n,
           round(sum(value), 2) + 0.0 AS sum_val
    FROM w GROUP BY ws
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour every 30 minutes): each event lands in two
    overlapping windows — Spark's window() generates both rows; the oracle
    states the same as a two-bucket UNION."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), (F.round(F.sum("value"), 2) + 0.0).alias("sum_val"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "sum_val",
        )
    )


@register(
    "window_distribution_pack",
    "X12",
    oracle="""
    SELECT event_id,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(percent_rank() OVER w, 6) + 0.0 AS pct_rank,
           round(cume_dist() OVER w, 6) + 0.0 AS cume,
           first_value(event_id) OVER w AS first_id,
           nth_value(event_id, 2) OVER (PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_id
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
    """,
)
def window_distribution_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile/percent_rank/cume_dist/
    first_value/nth_value) over a unique ordering key — one shuffle serves
    all five."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        F.ntile(4).over(w).alias("quartile"),
        (F.round(F.percent_rank().over(w), 6) + 0.0).alias("pct_rank"),
        (F.round(F.cume_dist().over(w), 6) + 0.0).alias("cume"),
        F.first("event_id").over(w).alias("first_id"),
        F.nth_value("event_id", 2).over(wf).alias("second_id"),
    )


# --- windows (H6) ------------------------------------------------------------
@register(
    "window_rank_lag_frame",
    "H6",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           rank() OVER w AS rk,
           lag(l_quantity) OVER w AS prev_qty,
           round(sum(l_quantity) OVER (
                 PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_quantity, l_extendedprice, l_suppkey, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey
                 ORDER BY l_linenumber, l_quantity, l_extendedprice, l_suppkey, l_partkey)
    """,
)
def window_rank_lag_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + analytic + running-frame window functions in one pass:
    one shuffle on the partition key serves all three (same window spec).

    (l_orderkey, l_linenumber) is NOT unique in the testdata, so the window
    orders by enough columns for a total order — any remaining ties are
    between fully identical rows, making lag/rank output well-defined."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_quantity", "l_extendedprice", "l_suppkey", "l_partkey"
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).cast("long").alias("rk"),
        F.lag("l_quantity").over(w).alias("prev_qty"),
        F.round(F.sum("l_quantity").over(frame), 2).alias("running_qty"),
    )


@register(
    "window_range_frame",
    "X11",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty,
           round(sum(l_extendedprice) OVER (
               PARTITION BY l_returnflag ORDER BY l_quantity
               RANGE BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS range_sum
    FROM lineitem
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-based window frame (value range, peers included): sum of
    prices over quantities within 5 units below the current row's.  Range
    frames are tiebreak-free by construction — the frame depends only on
    the ORDER BY value, so duplicate keys cannot destabilize it.

    Scale rewrite (round 4): the naive ``sum().over(range_window)`` plan
    partitions by ``l_returnflag`` — 3 distinct values, so 3 tasks sort
    the ENTIRE table regardless of cluster size.  Because a RANGE frame
    depends only on the ORDER BY *value*, the frame sum is a function of
    (flag, quantity) alone: partial-aggregate per (flag, qty) with full
    parallelism and map-side combine, run the range window over the tiny
    ≤ 3×50-row aggregate, and broadcast-join the result back.  Identical
    output (A/B'd exceptAll-empty at sf0.1), but the 100 TB plan has no
    global sort and no 3-task bottleneck."""
    from pyspark.sql.window import Window

    li = table(spark, sf_dir, "lineitem")
    per_qty = li.groupBy("l_returnflag", "l_quantity").agg(
        F.sum("l_extendedprice").alias("qty_price")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rangeBetween(-5, Window.currentRow)
    )
    ranged = per_qty.select(
        "l_returnflag",
        "l_quantity",
        F.sum("qty_price").over(w).alias("range_sum_raw"),
    )
    return li.join(F.broadcast(ranged), ["l_returnflag", "l_quantity"]).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 2).alias("qty"),
        F.round("range_sum_raw", 2).alias("range_sum"),
    )
