"""Fifth relational wave (X30-X31): customer RFM segmentation and event
dwell-time — two everyday product-analytics workloads, each a distinct
plan shape (agg -> global quantile bucketing; per-key lead window).

Reference parity note: the reference app has no joins/windows at all
(SURVEY §2.G); these extend the §2.H mandate and are DuckDB-oracled like
every other key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.registry import register


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
    "tpch_q17_small_quantity",
    "X32",
    oracle="""
    WITH li12 AS (
        SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_brand = 'Brand#12')
    ), part_avg AS (
        SELECT l_partkey AS pk, 0.5 * avg(l_quantity) AS half_avg_qty
        FROM li12 GROUP BY l_partkey
    )
    SELECT round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 / 700.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM li12 JOIN part_avg ON pk = l_partkey
    WHERE l_quantity < half_avg_qty
    """,
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar aggregate (each line compared to
    ITS part's average quantity).  Decorrelated the way Catalyst would, with
    the reduction ordered for scale: lineitem is first semi-joined to the
    Brand#12 part set (~1/25 of parts), the per-part average is computed
    over only that reduced set, and the average joins back on l_partkey —
    the partitioning from the semi join is reused by both the groupBy and
    the join-back, so the brand's lines shuffle once.  NO forced broadcast
    anywhere: part_avg is keyed by partkey, which scales with SF (~20 B
    rows at 100 TB) — broadcasting it OOMs the driver at scale.  AQE picks
    broadcast at small SF on its own.  Revenue is per-row integer cents
    (floor(x*100+0.5)) so the sum is order-independent; /700.0 of a bigint
    cannot land on a half-cent boundary, so the final round is engine-exact.
    (The naive correlated form re-aggregates per probe row — quadratic; the
    decorrelated form is two linear passes over the reduced set.)"""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p12 = table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#12"
    ).select("p_partkey")
    li12 = li.join(p12, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
    part_avg = li12.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    return (
        li12.join(part_avg, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum(cents) / 700.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_q21_sole_late_shipper",
    "X33",
    oracle="""
    WITH late AS (
        SELECT l_orderkey, l_suppkey FROM lineitem JOIN orders
          ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, count(*) AS numwait
    FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name ORDER BY numwait DESC, s_name
    """,
)
def tpch_q21_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: double-correlated EXISTS + NOT EXISTS — suppliers
    who were the ONLY late shipper on a multi-supplier order.  Both
    correlations run as semi/anti joins on the order key: one left-semi
    against other-supplier lines, one left-anti against other-supplier
    LATE lines; the late set is computed once and reused for probe and
    anti sides.  Every join is key-partitioned — no per-row re-scan, which
    is what the correlated subquery would naively do."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        # the late set feeds BOTH the probe (l1) and anti (l3) sides —
        # materialize the lineitem-orders join once (1.59 -> 1.48 s sf0.1)
        .localCheckpoint(eager=True)
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    others = l1.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    sole = others.join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
        "left_anti",
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@register(
    "event_dwell_time",
    "X31",
    oracle=f"""
    WITH nexted AS (
        -- ORDER BY truncates ts to µs so the tie-break matches Spark's
        -- µs-resolution timestamps even if a testdata regeneration brings
        -- back TIMESTAMP(NANOS) (two events distinct only below 1 µs must
        -- pair identically in both engines)
        SELECT event_type,
               floor(epoch(lead(ts) OVER (PARTITION BY user_id
                                          ORDER BY date_trunc('microseconds', ts),
                                                   event_id)))
                   - floor(epoch(ts)) AS dwell_s
        FROM events
    )
    SELECT event_type,
           count(dwell_s) AS n_dwells,
           CAST(sum(dwell_s) AS BIGINT) AS total_dwell_s,
           {floor_eps_sql("avg(dwell_s)", 10000)} AS avg_dwell_e4
    FROM nexted WHERE dwell_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time: per user, seconds until that user's next event (lead
    over the user/time window — each user's LAST event has no dwell and is
    excluded), averaged per event type.  One shuffle on user_id for the
    window, map-side combine for the rollup — the canonical event-analytics
    plan at any scale."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    dwell = F.lead(sec).over(w) - sec
    return (
        ev.select("event_type", dwell.alias("dwell_s"))
        .filter(F.col("dwell_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_dwells"),
            F.sum("dwell_s").cast("long").alias("total_dwell_s"),
            floor_eps(F.avg("dwell_s"), 10000).cast("long").alias("avg_dwell_e4"),
        )
        .orderBy("event_type")
    )
