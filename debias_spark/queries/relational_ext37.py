"""Round-7 waves 9-10 (X155, X157): native from_xml parsing and
cumulative distinct users.

(A TIME-type pack was probed and dropped: Spark 4.1.2 parses TIME
literals but gates every constructor/cast/extractor — make_time,
to_time, CAST(ts AS TIME), hour(TIME) all raise UNSUPPORTED_TIME_TYPE —
so the type is unusable on real columns in this build; recorded as an
availability probe in tests/test_availability_probes.py.)

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no XML or time surface; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


@register(
    "sql_from_xml_nested",
    "X155",
    oracle=f"""
    SELECT o_orderpriority AS prio,
           count(*) AS n,
           CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS cents_sum,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def sql_from_xml_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML parsing (from_xml, Spark 4): each order serializes to a
    nested XML document (two levels of nested elements), and from_xml
    with an explicit schema recovers typed columns — the inverse pair of
    Z44's XML sink (which roundtrips through FILES; this key pins the
    COLUMN-level parse a pipeline uses on XML payloads embedded in a
    feed).  The grouped aggregate over the PARSED values hash-matches
    the source table, so types and nesting both survived.

    Scale shape: serialize + parse are per-row codegen'd expressions; the
    aggregate is the only shuffle.  fan_out (r14): the serialize+parse
    chain is the whole cost and runs above a single-row-group scan —
    spread the base rows first (no join ever reshuffles this key, so the
    r13 relational-cohort counterexample does not apply)."""
    from debias_spark.operators.skew import fan_out

    o = fan_out(table(spark, sf_dir, "orders"))
    xml = F.concat(
        F.lit("<order><k>"),
        F.col("o_custkey"),
        F.lit("</k><p>"),
        cents(F.col("o_totalprice")),
        F.lit("</p><meta><prio>"),
        F.col("o_orderpriority"),
        F.lit("</prio><flags><f>"),
        (F.col("o_orderstatus") == "F").cast("int"),
        F.lit("</f></flags></meta></order>"),
    )
    parsed = o.select(xml.alias("x")).select(
        F.from_xml(
            "x",
            "k BIGINT, p BIGINT, meta STRUCT<prio: STRING, "
            "flags: STRUCT<f: INT>>",
        ).alias("v")
    )
    return (
        parsed.groupBy(F.col("v.meta.prio").alias("prio"))
        .agg(
            F.count("*").alias("n"),
            F.sum("v.k").cast("long").alias("cust_sum"),
            F.sum("v.p").cast("long").alias("cents_sum"),
            F.sum("v.meta.flags.f").cast("long").alias("n_f"),
        )
        .orderBy("prio")
    )


@register(
    "events_cumulative_distinct_users",
    "X157",
    oracle="""
    WITH fs AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1
    ), days AS MATERIALIZED (
        SELECT first_day AS day, count(*) AS n_new FROM fs GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(n_new AS BIGINT) AS n_new_users,
           CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_distinct_users
    FROM days ORDER BY day
    """,
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users to date — the growth-curve metric that
    is famously expensive when spelled naively (a running COUNT(DISTINCT)
    re-deduplicates the entire history per day).  The scale-correct
    identity: a user contributes to the cumulative count exactly once,
    on their FIRST-SEEN day — so one user-grain aggregate (min day per
    user), one day-grain count of first-sightings, and a prefix sum over
    the bounded day dimension reproduce the exact running distinct count
    with no day-over-day re-scan and no sketch.

    Scale shape: one map-side-combined groupBy(user), one tiny day
    aggregate, one window over ~30 day rows (bounded domain; the
    two-pass prefixsum drops in if days were unbounded).  This is THE
    pattern for distinct-to-date at 100 TB."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    days = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    # ~30-row frame: the single partition is intentional; non-foldable
    # constant partition key avoids the WindowExec degradation warning
    w = (
        Window.partitionBy(F.unix_date("day") * 0)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return days.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_new").cast("long").alias("n_new_users"),
        F.sum("n_new").over(w).cast("long").alias("cum_distinct_users"),
    ).orderBy("day")
