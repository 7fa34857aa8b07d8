"""Lakehouse maintenance keys: snapshot diffs, SCD2 dimensions, upserts,
Z-order clustering keys, and incremental aggregate / join-view
maintenance.

The reference rewrites whole output files per run; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


@register(
    "incremental_agg_maintenance",
    "X90",
    oracle=f"""
    SELECT o_custkey % 100 AS cust_bucket,
           count(*) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents,
           max({cents_sql("o_totalprice")}) AS max_cents,
           round(sum({cents_sql("o_totalprice")})::DOUBLE
                 / count(*), 4) AS avg_cents
    FROM orders GROUP BY o_custkey % 100
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the fact table
    arrives as a BASE snapshot plus a DELTA batch (split here on
    o_orderdate at 2000-01-01), each is aggregated independently, and the
    two partial states merge into the exact full-table aggregate — the
    pattern that lets a 100 TB pipeline refresh a rollup from the day's
    partition instead of re-scanning history.

    The merge rules are the textbook decomposable-aggregate
    classification: count and sum re-aggregate with SUM, max with MAX,
    and avg is ALGEBRAIC — never merged directly, always recomputed from
    the merged (sum, count) pair.  The oracle aggregates the whole table
    flat; the hash match proves base+delta merge == full recompute."""
    o = table(spark, sf_dir, "orders")
    with_cols = o.select(
        (F.col("o_custkey") % 100).alias("cust_bucket"),
        cents(F.col("o_totalprice")).alias("cents"),
        F.col("o_orderdate"),
    )
    base = with_cols.filter(F.col("o_orderdate") < "2000-01-01")
    delta = with_cols.filter(F.col("o_orderdate") >= "2000-01-01")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("cust_bucket").agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s"),
            F.max("cents").alias("m"),
        )

    merged = (
        partial(base)
        .unionAll(partial(delta))
        .groupBy("cust_bucket")
        .agg(
            F.sum("n").alias("n_orders"),
            F.sum("s").alias("rev_cents"),
            F.max("m").alias("max_cents"),
        )
    )
    return merged.select(
        "cust_bucket",
        "n_orders",
        "rev_cents",
        "max_cents",
        F.round(
            F.col("rev_cents").cast("double") / F.col("n_orders").cast("double"), 4
        ).alias("avg_cents"),
    )


@register(
    "incremental_join_maintenance",
    "X122",
    oracle="""
    SELECT n_name,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance, the delta algebra executed:
    with A = orders and B = customer each split into (old, delta), the
    new view is the union of join(A_old, B_old), join(A_old, B_delta),
    join(A_delta, B_old) and join(A_delta, B_delta) — every term past
    the first joins a DELTA against an old/full side, never old-x-old
    re-joined.  This key computes the maintained union and rolls it up;
    the oracle computes the monolithic join — a hash match proves the
    maintenance identity covers every row exactly once.

    Scale shape: the expensive term at 100 TB is join(delta, big), an
    equi-join whose cost scales with the DELTA, while join(A_old, B_old)
    is the stored view state that is never recomputed — that asymmetry
    is the entire point of incremental view maintenance (X90 does the
    aggregate-state version; this is the join-state version)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    a_old = orders.filter(F.col("o_orderkey") % 10 < 8)
    a_delta = orders.filter(F.col("o_orderkey") % 10 >= 8)
    b_old = cust.filter(F.col("c_custkey") % 7 < 6)
    b_delta = cust.filter(F.col("c_custkey") % 7 >= 6)

    def j(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.join(b, a["o_custkey"] == b["c_custkey"]).select(
            "c_nationkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )

    maintained = (
        j(a_old, b_old)          # stored view state (never recomputed at scale)
        .unionByName(j(a_old, b_delta))
        .unionByName(j(a_delta, b_old))
        .unionByName(j(a_delta, b_delta))
    )
    return (
        maintained.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
        .orderBy("n_name")
    )


@register(
    "snapshot_diff_full_outer",
    "X29",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, round(o_totalprice, 2) AS price
        FROM orders WHERE o_orderkey % 10 <> 0
    ), new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0
                    THEN round(o_totalprice * 1.1, 2)
                    ELSE round(o_totalprice, 2) END AS price
        FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN old.price <> new.price THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n,
           CAST(sum(coalesce(old.o_orderkey, new.o_orderkey)) AS BIGINT)
               AS key_checksum
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    GROUP BY status ORDER BY status
    """,
)
def snapshot_diff_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (CDC-style): FULL OUTER join of two table versions on
    the primary key, each row classified added / removed / changed /
    unchanged, rolled up to counts + a key checksum.  The two 'versions'
    are deterministic views of the same orders table (drop o_orderkey%10
    from old, drop %7 from new, reprice %3), so the diff is exactly
    reproducible.  At 100 TB both sides shuffle once on the join key — the
    same single-shuffle co-partitioning as any equi-join, and the classify +
    rollup is map-side after it; with bucketed snapshot layout even that
    shuffle disappears."""
    base = table(spark, sf_dir, "orders")
    old = base.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("k_old"),
        F.round("o_totalprice", 2).alias("price_old"),
    )
    new = base.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k_new"),
        F.when(
            F.col("o_orderkey") % 3 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        )
        .otherwise(F.round("o_totalprice", 2))
        .alias("price_new"),
    )
    status = (
        F.when(F.col("k_old").isNull(), "added")
        .when(F.col("k_new").isNull(), "removed")
        .when(F.col("price_old") != F.col("price_new"), "changed")
        .otherwise("unchanged")
    )
    return (
        old.join(new, F.col("k_old") == F.col("k_new"), "full_outer")
        .select(
            status.alias("status"),
            F.coalesce("k_old", "k_new").alias("k"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("key_checksum"),
        )
        .orderBy("status")
    )


@register(
    "scd2_user_status",
    "X58",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type,
               epoch_us(date_trunc('microseconds', ts)) AS us, event_id
        FROM events
    ), marked AS (
        SELECT user_id, event_type, us, event_id,
               CASE WHEN event_type IS DISTINCT FROM
                         lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), grouped AS (
        -- event_id tie-break matches the Spark window: same-microsecond
        -- events would make a us-only ROWS frame order-nondeterministic
        SELECT user_id, event_type, us,
               sum(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS grp
        FROM marked
    ), islands AS (
        SELECT user_id, event_type, grp,
               min(us) AS valid_from_us, count(*) AS n_events
        FROM grouped GROUP BY user_id, event_type, grp
    )
    SELECT user_id, event_type, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY valid_from_us) AS valid_to_us,
           n_events,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY valid_from_us) IS NULL
               AS is_current
    FROM islands
    """,
)
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build: collapse each user's event stream into
    validity intervals [valid_from, valid_to) per consecutive run of the
    same event_type — the gaps-and-islands shape behind every
    slowly-changing-dimension pipeline.

    Plan: ONE shuffle on user_id; the change-flag lag, the running
    island-id sum, and (after the island rollup) the lead for valid_to
    all reuse that partitioning.  Island ids come from a running sum of
    change flags (lag-based) rather than the two-row_number trick, which
    would need a second shuffle on (user_id, event_type).  Timestamps are
    exported as epoch MICROS bigints so the oracle comparison is exact
    regardless of the parquet generation's physical timestamp unit."""
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    marked = ev.select("user_id", "event_type", us.alias("us"), "event_id").withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.col("event_type") != F.lag("event_type").over(w)),
            1,
        ).otherwise(0),
    )
    grouped = marked.withColumn("grp", F.sum("chg").over(run))
    islands = grouped.groupBy("user_id", "event_type", "grp").agg(
        F.min("us").alias("valid_from_us"), F.count("*").alias("n_events")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us")
    return islands.select(
        "user_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
        "n_events",
        F.lead("valid_from_us").over(w2).isNull().alias("is_current"),
    )


def _interleave_terms(xe: str, ye: str, bits: int, div: str) -> str:
    """Bit-interleave SQL (portable arithmetic: div/% only — Spark spells
    integer division ``div``, DuckDB ``//``; everything else is shared)."""
    terms = []
    for k in range(bits):
        terms.append(f"(({xe} {div} {1 << k}) % 2) * {1 << (2 * k)}")
        terms.append(f"(({ye} {div} {1 << k}) % 2) * {1 << (2 * k + 1)}")
    return " + ".join(terms)


@register(
    "zorder_cluster_key",
    "X60",
    oracle=f"""
    SELECT o_orderkey,
           {_interleave_terms('o_custkey',
                              'CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400',
                              16, '//')} AS zkey
    FROM orders
    """,
)
def zorder_cluster_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave 16 bits of customer
    key with 16 bits of epoch-day into one 32-bit layout key.  Sorting a
    table by zkey before writing gives multi-dimensional data skipping —
    range predicates on EITHER o_custkey or o_orderdate prune files, the
    trick behind Delta/Iceberg Z-ordering.  Pure per-row bit arithmetic:
    no shuffle, whole-stage codegen end to end (the writer's global sort
    by zkey is the consumer's range-exchange, not part of key
    computation)."""
    o = table(spark, sf_dir, "orders")
    day = "CAST(floor(unix_seconds(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)"
    return o.selectExpr(
        "o_orderkey",
        f"{_interleave_terms('o_custkey', f'({day})', 16, 'div')} AS zkey",
    )


_MERGE_KEY_OFFSET = 100_000_000  # synthetic insert keys, collision-free


@register(
    "merge_upsert_snapshot",
    "X73",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey AS k,
               {cents_sql("o_totalprice")} AS cents
        FROM orders
    ), changes AS (
        SELECT o_orderkey AS k,
               {cents_sql("o_totalprice")} + 500 AS cents
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + {_MERGE_KEY_OFFSET} AS k,
               {cents_sql("o_totalprice")} AS cents
        FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT coalesce(c.k, b.k) AS o_orderkey,
           coalesce(c.cents, b.cents) AS cents,
           CASE WHEN b.k IS NULL THEN 'insert'
                WHEN c.k IS NULL THEN 'keep'
                ELSE 'update' END AS op
    FROM base b FULL OUTER JOIN changes c ON c.k = b.k
    """,
)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE (upsert) semantics: apply a CDC change batch to a
    snapshot with change-wins resolution, tagging every output row
    keep/update/insert — the apply step that pairs with
    snapshot_diff_full_outer's diff step.  The change batch is derived
    deterministically from the snapshot (key%7 updates with a price
    bump, key%13 inserts under a collision-free offset) so the oracle
    replays it exactly; a real pipeline swaps in its CDC source
    unchanged.

    Plan: ONE full-outer join on the key — at scale both sides bucket by
    key, so MERGE is a co-partitioned join plus a projection; nothing
    driver-side.  All values are BIGINT cents."""
    o = table(spark, sf_dir, "orders")
    c = cents(F.col("o_totalprice"))
    base = o.select(F.col("o_orderkey").alias("k"), c.alias("cents"))
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(F.col("o_orderkey").alias("ck"), (c + 500).alias("ccents"))
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .select(
            (F.col("o_orderkey") + _MERGE_KEY_OFFSET).alias("ck"),
            c.alias("ccents"),
        )
    )
    changes = updates.unionAll(inserts)
    return (
        base.join(changes, base.k == changes.ck, "full_outer")
        .select(
            F.coalesce("ck", "k").alias("o_orderkey"),
            F.coalesce("ccents", "cents").alias("cents"),
            F.when(F.col("k").isNull(), F.lit("insert"))
            .when(F.col("ck").isNull(), F.lit("keep"))
            .otherwise(F.lit("update"))
            .alias("op"),
        )
    )
