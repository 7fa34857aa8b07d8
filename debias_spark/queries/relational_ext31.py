"""Round-7 wave 3 (X144-X145): IGNORE NULLS window pack and the map
higher-order-function pack.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps_sql
from debias_spark.registry import register

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
    "sql_map_funcs_pack",
    "X145",
    oracle="""
    WITH d AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n
        FROM events GROUP BY 1, 2
    ), thr AS (
        SELECT event_type, CAST(avg(n) AS DOUBLE) AS avg_n
        FROM d GROUP BY 1
    )
    SELECT d.event_type,
           strftime(d.day, '%Y-%m-%d') AS day,
           CAST(d.n AS BIGINT) AS n,
           CAST(d.n * 2 AS BIGINT) AS doubled,
           CAST(d.n * 3 AS BIGINT) AS zipped,
           d.n > thr.avg_n AS above_avg
    FROM d JOIN thr ON thr.event_type = d.event_type
    ORDER BY d.event_type, day
    """,
)
def sql_map_funcs_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions end-to-end: daily counts roll up into
    one map<date,count> PER SERIES (map_from_entries), flow through
    transform_values (x2), map_zip_with (m + doubled = x3), and
    map_filter (above the series mean), then explode back to rows.  The
    map column is the state a per-entity feature store keeps; this key
    pins that the build/transform/zip/filter/explode cycle loses
    nothing (the relational oracle replays the same values with no maps
    at all).

    Scale shape: maps are bounded per series (<= 31 days); the build is
    one grouped collect, everything after is per-row expression work —
    no extra shuffle.  map_zip_with/transform_values run interpreted
    (expression rule 1), acceptable on dimension-sized frames like this;
    a fact-sized map column would flatten to rows first."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    m = d.groupBy("event_type").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("day", "n")))
        ).alias("m1"),
        F.avg("n").alias("avg_n"),
    )
    m = (
        m.withColumn("m2", F.transform_values("m1", lambda _, v: v * 2))
        .withColumn("m3", F.map_zip_with("m1", "m2", lambda _, a, b: a + b))
        # the filter member of the HOF family, for real: keep only the
        # above-mean days, then membership in m4 IS the above_avg flag
        .withColumn(
            "m4", F.map_filter("m1", lambda _, v: v > F.col("avg_n"))
        )
    )
    ex = m.select(
        "event_type",
        "avg_n",
        "m4",
        F.explode(
            F.map_zip_with(
                "m1",
                F.map_zip_with("m2", "m3", lambda _, b, c: F.struct(b.alias("b"), c.alias("c"))),
                lambda _, a, bc: F.struct(
                    a.alias("n"), bc["b"].alias("doubled"), bc["c"].alias("zipped")
                ),
            )
        ).alias("day", "v"),
    )
    return ex.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v.n").cast("long").alias("n"),
        F.col("v.doubled").cast("long").alias("doubled"),
        F.col("v.zipped").cast("long").alias("zipped"),
        F.map_contains_key("m4", F.col("day")).alias("above_avg"),
    ).orderBy("event_type", "day")
