"""Round-7 wave 8 (T14, X153, X154): nearest-direction as-of join,
cohort LTV curve, and neighbor-Jaccard link prediction.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no temporal/graph surface; extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.registry import register


@register(
    "join_asof_nearest",
    "T14",
    oracle="""
    WITH w AS (
        SELECT event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               max(CASE WHEN event_type = 'view'
                        THEN CAST(floor(epoch(ts)) AS BIGINT) END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_view,
               min(CASE WHEN event_type = 'view'
                        THEN CAST(floor(epoch(ts)) AS BIGINT) END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS next_view
        FROM events
    )
    SELECT event_id,
           CASE WHEN prev_view IS NULL AND next_view IS NULL THEN NULL
                WHEN next_view IS NULL THEN 'backward'
                WHEN prev_view IS NULL THEN 'forward'
                WHEN sec - prev_view <= next_view - sec THEN 'backward'
                ELSE 'forward' END AS direction,
           CASE WHEN prev_view IS NULL AND next_view IS NULL THEN NULL
                WHEN next_view IS NULL THEN sec - prev_view
                WHEN prev_view IS NULL THEN next_view - sec
                ELSE least(sec - prev_view, next_view - sec) END AS gap_s
    FROM w WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of: for every purchase, the CLOSER of the
    last view before it and the first view after it (same user),
    backward winning exact ties — pandas merge_asof(direction='nearest')
    semantics, completing the trio (T1 backward, T13 forward).  Two
    window passes over one user-partitioned sort deliver both candidates
    in a single shuffle; gaps compare as whole-second integers.

    Scale shape: identical to T1/T13 — one shuffle on user_id, windows
    per user partition, never a range join."""
    ev = table(spark, sf_dir, "events")
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    view_sec = F.when(F.col("event_type") == "view", sec)
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_view = F.max(view_sec).over(base.rowsBetween(Window.unboundedPreceding, -1))
    next_view = F.min(view_sec).over(base.rowsBetween(1, Window.unboundedFollowing))
    w = ev.select(
        "event_id",
        "event_type",
        sec.alias("sec"),
        prev_view.alias("pv"),
        next_view.alias("nv"),
    ).filter(F.col("event_type") == "purchase")
    back_gap = F.col("sec") - F.col("pv")
    fwd_gap = F.col("nv") - F.col("sec")
    direction = (
        F.when(F.col("pv").isNull() & F.col("nv").isNull(), F.lit(None))
        .when(F.col("nv").isNull(), F.lit("backward"))
        .when(F.col("pv").isNull(), F.lit("forward"))
        .when(back_gap <= fwd_gap, F.lit("backward"))
        .otherwise(F.lit("forward"))
    )
    gap = (
        F.when(F.col("pv").isNull() & F.col("nv").isNull(), F.lit(None))
        .when(F.col("nv").isNull(), back_gap)
        .when(F.col("pv").isNull(), fwd_gap)
        .otherwise(F.least(back_gap, fwd_gap))
    )
    return w.select(
        "event_id", direction.alias("direction"), gap.cast("long").alias("gap_s")
    ).orderBy("event_id")


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


_NJ_CAP = 1200  # probe subgraph: parts below this id
_NJ_MIN_JACC_E4 = 2000


@register(
    "graph_neighbor_jaccard",
    "X154",
    oracle=f"""
    WITH b AS MATERIALIZED (
        SELECT l_orderkey, l_partkey AS p
        FROM lineitem WHERE l_partkey < {_NJ_CAP}
        GROUP BY 1, 2
    ), edges AS MATERIALIZED (
        SELECT DISTINCT a.p AS src, b2.p AS dst
        FROM b a JOIN b b2 ON b2.l_orderkey = a.l_orderkey AND b2.p <> a.p
    ), deg AS MATERIALIZED (
        SELECT src, count(*) AS d FROM edges GROUP BY 1
    ), inter AS (
        SELECT e1.src AS pa, e2.src AS pb, count(*) AS i
        FROM edges e1 JOIN edges e2
          ON e2.dst = e1.dst AND e1.src < e2.src
        GROUP BY 1, 2
    )
    SELECT i.pa, i.pb,
           CAST(i.i AS BIGINT) AS n_common,
           {floor_eps_sql("CAST(i.i AS DOUBLE) * 10000 / (da.d + db.d - i.i)")}
               AS jaccard_e4
    FROM inter i
    JOIN deg da ON da.src = i.pa
    JOIN deg db ON db.src = i.pb
    WHERE {floor_eps_sql("CAST(i.i AS DOUBLE) * 10000 / (da.d + db.d - i.i)")}
          >= {_NJ_MIN_JACC_E4}
    ORDER BY pa, pb
    """,
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity — the classic link-prediction /
    item-item collaborative-filtering feature: two parts are similar
    when they share co-purchase neighbors, and the candidate pairs come
    from an INVERTED POSTINGS JOIN on the shared neighbor (exactly the
    LSH-bucket idea: only pairs with >= 1 common neighbor are ever
    scored, never all |V|^2).  Jaccard = i / (da + db - i) on exact
    integer counts, emitted floor-eps e4 and thresholded on the INTEGER.

    Scale shape: the postings join fans out by neighbor degree — at
    100 TB the standard cap is dropping super-connector neighbors (a DF
    cap like Z24's containment index); the bounded probe subgraph here
    keeps the demo exact while the docstring names the production cap.
    One basket distinct, one postings self-join, two degree joins."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < _NJ_CAP)
    b = li.select("l_orderkey", F.col("l_partkey").alias("p")).distinct()
    e1 = b.select(F.col("l_orderkey").alias("k"), F.col("p").alias("src"))
    e2 = b.select(F.col("l_orderkey").alias("k"), F.col("p").alias("dst"))
    edges = (
        e1.join(e2, "k")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)  # read 3x: postings x2 + degrees
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    l_ = edges.select(F.col("src").alias("pa"), F.col("dst").alias("n"))
    r_ = edges.select(F.col("src").alias("pb"), F.col("dst").alias("n"))
    inter = (
        l_.join(r_, "n")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("i"))
    )
    da = deg.select(F.col("src").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("src").alias("pb"), F.col("d").alias("db"))
    j = inter.join(da, "pa").join(db, "pb")
    jacc_e4 = floor_eps(
        F.col("i").cast("double") * 10000
        / (F.col("da") + F.col("db") - F.col("i"))
    ).cast("long")
    return (
        j.select(
            "pa",
            "pb",
            F.col("i").cast("long").alias("n_common"),
            jacc_e4.alias("jaccard_e4"),
        )
        .filter(F.col("jaccard_e4") >= _NJ_MIN_JACC_E4)
        .orderBy("pa", "pb")
    )
