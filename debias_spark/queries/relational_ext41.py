"""Round-8 wave 2 (Z66): the skew diagnostic feeding the salting remedy —
an advisor-driven salted aggregation whose salt count is DERIVED from the
measured key profile instead of a cargo-culted constant.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
is single-process and never shuffles; extension per SURVEY §2.H (r7
verdict growth item 6c: "a skew-profile -> advisor -> salted-execution
A/B key ... proving the diagnostic feeds the remedy").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.registry import register
from debias_spark.session import pinned_confs

# per-reducer row budget: a key whose row count exceeds this gets split
# across ceil(rows/budget) salt shards, capped at the shuffle width.
# The budget is deliberately small at test SFs so the derived salt is
# >= 2 from sf0.001 up (the degenerate k=1 path would prove nothing);
# production budgets are memory-derived (rows_per_task ~ spill threshold)
_ROW_BUDGET = 1024
_SALT_CAP = 32


@register(
    "diag_skew_salt_autotune",
    "Z66",
    oracle=f"""
    WITH c AS MATERIALIZED (
        SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1
    ), adv AS (
        SELECT CAST(max(n) AS BIGINT) AS max_key_rows,
               CAST(greatest(1, least({_SALT_CAP},
                    ceil(CAST(max(n) AS DOUBLE) / {_ROW_BUDGET})))
                    AS BIGINT) AS salt_k
        FROM c
    )
    SELECT l.l_returnflag AS flag,
           count(*) AS n,
           CAST(sum({floor_eps_sql("l_extendedprice * (1 - l_discount)", 100)}) AS BIGINT)
               AS rev_cents,
           a.salt_k, a.max_key_rows
    FROM lineitem l CROSS JOIN adv a
    GROUP BY 1, a.salt_k, a.max_key_rows
    ORDER BY 1
    """,
)
def diag_skew_salt_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisor-driven salting: the key profile (diag_key_skew_profile's
    measurement) is reduced to max-rows-per-key, the advisor sizes the
    salt as ceil(max_rows / per-reducer row budget) capped at the
    shuffle width — the production rule that bounds per-task state even
    for UNIFORM keys once each key outgrows one task — and the revenue
    aggregate then actually EXECUTES through a two-stage salted plan
    with that derived k.  The oracle recomputes both the advisor
    arithmetic and the aggregate directly, so a salting bug (lost shard,
    double merge) or a drifted advisor formula both break the hash:
    the diagnostic demonstrably feeds the remedy (Z58/Z4 closed-loop).

    The 1-row advisor frame is collected to drive the salt literal —
    a control-flow scalar (same bounded-collect class as the BPE merge
    table), not a data path.

    Scale shape: profile = one mergeable count aggregate; salted exec =
    partial agg on (key, salt) fanning each key across k reducers, then
    a k-rows-per-key final merge.  Values are exact integer cents per
    row BEFORE aggregation, so the salted re-association is bit-safe."""
    li = table(spark, sf_dir, "lineitem")
    prof = (
        li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("max_key_rows"))
        .first()
    )
    max_key_rows = int(prof["max_key_rows"])
    salt_k = max(1, min(_SALT_CAP, -(-max_key_rows // _ROW_BUDGET)))
    cents = floor_eps(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 100
    ).cast("long")
    salted = li.withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(salt_k))
    )
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count("*").alias("pn"), F.sum(cents).alias("pc")
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(F.sum("pn").alias("n"), F.sum("pc").alias("rev_cents"))
        .select(
            F.col("l_returnflag").alias("flag"),
            "n",
            "rev_cents",
            F.lit(salt_k).cast("long").alias("salt_k"),
            F.lit(max_key_rows).cast("long").alias("max_key_rows"),
        )
        .orderBy("flag")
    )


def build_cbo_star_tables(spark: SparkSession, sf_dir: str, prefix: str) -> dict[str, str]:
    """Shared X161 scaffold (also imported by the reorder wave test so
    the pinned plan diff and the oracled key can never desynchronize):
    stage fact/mid/small projections as managed tables and ANALYZE the
    join-key columns.  Caller drops the returned tables."""
    app = spark.sparkContext.applicationId.replace("-", "_")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    names = {t: f"{prefix}_{t}_{app}" for t in ("lineitem", "orders", "customer")}
    for df, t in ((li, "lineitem"), (o, "orders"), (c, "customer")):
        spark.sql(f"DROP TABLE IF EXISTS {names[t]}")
        df.write.saveAsTable(names[t])
    spark.sql(f"ANALYZE TABLE {names['lineitem']} COMPUTE STATISTICS FOR COLUMNS l_orderkey")
    spark.sql(f"ANALYZE TABLE {names['orders']} COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_custkey")
    spark.sql(f"ANALYZE TABLE {names['customer']} COMPUTE STATISTICS FOR COLUMNS c_custkey")
    return names


CBO_CONFS = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")


@register(
    "join_cbo_reorder_stats",
    "X161",
    # bench=False for the Y61 reason: ~3s of the key is saveAsTable x3 +
    # ANALYZE scaffolding whose cost the bench already prices via
    # sink_managed_table_insert and sql_analyze_table_stats; the query
    # itself is the H5 star shape benched there
    bench=False,
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_lines,
           CAST(sum({floor_eps_sql("l.l_extendedprice * (1 - l.l_discount)", 100)}) AS BIGINT)
               AS rev_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1 ORDER BY 1
    """,
)
def join_cbo_reorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering, fed by ANALYZE statistics (the X149
    catalog stats actually DOING something): three managed tables —
    fact (lineitem), mid (orders), small (customer) — get table+column
    stats, CBO and joinReorder are enabled, and the 3-way join is
    WRITTEN in the worst syntactic order (fact joined first, the small
    dimension last).  With stats the optimizer re-orders the inner-join
    cluster so the small side reduces the intermediate early; the wave
    test pins the reorder by diffing the optimized plans with CBO on vs
    off, while this key hash-checks that the reordered execution is
    value-identical to the declarative join.  At 100 TB this rule is
    the difference between shuffling the fact table once or twice —
    and it only exists if ANALYZE ran, which is the operational point.

    Scale: ANALYZE = one scan per table with mergeable sketches; the
    query itself is the H5 star shape.  Tables are applicationId-
    suffixed and dropped in the finally."""
    names: dict[str, str] = {}
    try:
        names = build_cbo_star_tables(spark, sf_dir, "x161")
        with pinned_confs(spark, dict.fromkeys(CBO_CONFS, "true")):
            cents = floor_eps_sql("l_extendedprice * (1 - l_discount)", 100)
            out = spark.sql(
                f"""
                SELECT c_mktsegment AS segment,
                       count(*) AS n_lines,
                       CAST(sum({cents}) AS BIGINT) AS rev_cents
                FROM {names['lineitem']} l
                JOIN {names['orders']} o ON o.o_orderkey = l.l_orderkey
                JOIN {names['customer']} c ON c.c_custkey = o.o_custkey
                GROUP BY 1 ORDER BY 1
                """
            )
            # materialize WHILE the stats/confs are live; the returned frame
            # must not depend on tables the finally drops
            rows = out.collect()
            return spark.createDataFrame(
                rows, "segment string, n_lines bigint, rev_cents bigint"
            )
    finally:
        for t in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@register(
    "events_decayed_engagement",
    "X162",
    oracle="""
    WITH ref AS MATERIALIZED (
        SELECT max(CAST(ts AS DATE)) AS rd FROM events
    ), d AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT)
                   >> least(CAST(datediff('day', CAST(ts AS DATE), ref.rd)
                                 // 7 AS INT), 62) AS dec_cents
        FROM events, ref
    )
    SELECT user_id,
           CAST(sum(dec_cents) AS BIGINT) AS score_cents,
           count(*) AS n_events
    FROM d GROUP BY user_id
    ORDER BY score_cents DESC, user_id LIMIT 10
    """,
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement scoring (the feature-store freshness
    counter): each event's value halves per 7-day half-life behind the
    corpus reference date, implemented as an INTEGER RIGHT SHIFT of the
    cent value by the half-life count — bit-exact on both engines, no
    exp()/pow() transcendental to drift a ulp (the rule-18/27 doctrine
    applied to decay).  Top-10 users by decayed score; a user's old
    burst ranks below a smaller recent streak, which is the point of
    decay.

    Scale shape: the reference date is a 1-row broadcast aggregate; the
    decay is a pure projection; one groupBy(user) with mergeable sums;
    the top-10 is TakeOrdered (per-partition heads, no global sort).
    At 100 TB the same shift-decay folds into incremental maintenance:
    yesterday's state shifts right when the day ticks, today's partial
    adds — exactly the X90 base/delta contract."""
    ev = table(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.to_date("ts")).alias("rd"))
    d = ev.crossJoin(F.broadcast(ref)).select(
        "user_id",
        # SQL form: the Python F.shiftright helper only takes a literal
        # shift count; the SQL function accepts a column expression
        F.expr(
            "shiftright(CAST(round(value * 100) AS BIGINT), "
            "least(CAST(datediff(rd, CAST(ts AS DATE)) DIV 7 AS INT), 62))"
        ).alias("dec_cents"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.sum("dec_cents").alias("score_cents"),
            F.count("*").alias("n_events"),
        )
        .orderBy(F.desc("score_cents"), "user_id")
        .limit(10)
    )
