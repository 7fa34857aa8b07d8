"""Round-6 relational wave 4 (X123-X124): bitmap-based exact distinct
aggregation (the mergeable exact-distinct-at-scale surface) and the
timestamp arithmetic function pack.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from debias_spark.catalog import table
from debias_spark.registry import register


@register(
    "agg_bitmap_distinct",
    "X123",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via BITMAPS (Spark 3.5 bitmap_* aggregate
    family): ids group into fixed-width buckets (bitmap_bucket_number),
    each bucket builds a 32 KiB bitmap of bit positions, and the distinct
    count is the sum of per-bucket popcounts.  Unlike count(DISTINCT) —
    whose state is the value set itself — bitmap state is FIXED-SIZE per
    bucket and mergeable with OR, which is what makes exact distinct
    feasible as stored, incrementally-maintained state at 100 TB (the
    exact-counting sibling of the HLL sketch keys Z21/H13; this is also
    how Databricks materializes exact distincts in gold tables).

    The oracle is a plain count(DISTINCT): a hash match proves the
    bucket/position round-trip loses no id and double-counts none.

    Plan shape: GROUP BY (event_type, bucket) hash aggregate with
    map-side partials, then a tiny rollup per type — two shuffles of
    bucket-sized rows, never the raw ids twice."""
    return spark.sql(
        """
        SELECT event_type,
               sum(cnt) AS n_users,
               sum(n) AS n_events
        FROM (
            SELECT event_type,
                   bitmap_bucket_number(user_id) AS bkt,
                   bitmap_count(bitmap_construct_agg(
                       bitmap_bit_position(user_id))) AS cnt,
                   count(*) AS n
            FROM {events}
            GROUP BY event_type, bkt
        )
        GROUP BY event_type ORDER BY event_type
        """,
        events=table(spark, sf_dir, "events"),
    )


@register(
    "sql_timestamp_arith_pack",
    "X124",
    oracle="""
    SELECT event_id,
           strftime(ts + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS plus_2h,
           CAST(date_diff('minute', date_trunc('day', ts), ts) AS BIGINT)
               AS min_into_day,
           CAST(last_day(CAST(ts AS DATE)) AS VARCHAR) AS month_end,
           CAST(quarter(ts) AS INTEGER) AS q,
           CAST(weekofyear(ts) AS INTEGER) AS iso_week
    FROM events WHERE event_id % 25 = 0
    """,
)
def sql_timestamp_arith_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp arithmetic pack: ANSI timestampadd/timestampdiff, month
    boundary (last_day), quarter, and ISO week — the calendar surface a
    reporting layer leans on, spelled once in each engine (Spark
    timestampdiff(MINUTE, ...) == DuckDB date_diff('minute', ...);
    Spark weekofyear is ISO-week like DuckDB's).  Every emitted value is
    a string or integer — no raw temporal types cross the driver-hash
    boundary (repo discipline).

    Plan shape: pure projection over a pushed sampling filter — one
    scan, no shuffle, whole-stage codegen end to end."""
    return spark.sql(
        """
        SELECT event_id,
               date_format(timestampadd(HOUR, 2, ts), 'yyyy-MM-dd HH:mm:ss')
                   AS plus_2h,
               CAST(timestampdiff(MINUTE, date_trunc('day', ts), ts) AS BIGINT)
                   AS min_into_day,
               CAST(last_day(CAST(ts AS DATE)) AS STRING) AS month_end,
               CAST(quarter(ts) AS INT) AS q,
               CAST(weekofyear(ts) AS INT) AS iso_week
        FROM {events} WHERE event_id % 25 = 0
        """,
        events=table(spark, sf_dir, "events"),
    )
