"""Planner and skew diagnostics that feed their own remedies: key-skew
profiles, shuffle-partition and encoding advisors, salt-factor and
join-strategy autotune with physical-plan assertions, the reused-exchange
proof, Observation metrics and the referential-integrity audit.

The reference is single-process and has no planner; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.registry import register


# Stats-driven join-strategy selection with a physical-plan assertion —
# completes the autotune family started by Z66 salt autotune and X161 CBO
# reorder.

# ---------------------------------------------------------------------------
# X164: stats-driven join-strategy autotune (diagnose -> remedy loop 3)
# ---------------------------------------------------------------------------
_BROADCAST_ROW_TH = 100  # dims under this many rows broadcast; others SMJ


@register(
    "diag_join_strategy_autotune",
    "X164",
    oracle=f"""
    WITH cc AS (SELECT count(*) AS n FROM customer),
    nc AS (SELECT count(*) AS n FROM nation)
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) AS rev_cents,
           CASE WHEN (SELECT n FROM cc) < {_BROADCAST_ROW_TH}
                THEN 'broadcast' ELSE 'smj' END AS customer_path,
           CASE WHEN (SELECT n FROM nc) < {_BROADCAST_ROW_TH}
                THEN 'broadcast' ELSE 'smj' END AS nation_path
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def diag_join_strategy_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third diagnose->remedy loop (after Z66's salt autotune and
    X161's CBO reorder): MEASURE each dimension's row count, CHOOSE the
    join strategy from the measurement (under {_BROADCAST_ROW_TH} rows
    -> broadcast hash join; at/over -> sort-merge with an explicit merge
    hint so neither the static threshold nor AQE second-guesses the
    advisor), EXECUTE the chosen plan, and ASSERT the physical plan
    actually contains the chosen operators — the same closed loop a
    100 TB planner service runs off table statistics instead of counts.
    The chosen path is emitted as a data column so the oracle re-derives
    the decision from the same counts the advisor measured.

    The two dim counts are bounded control-flow scalars (the X161/Z67
    pattern — they choose the plan, they are not the result).  At the
    test SFs nation (25 rows) always broadcasts and customer (>= 150
    rows) always sort-merges, so both branches stay exercised."""
    from debias_spark.plans import join_strategies

    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def pick(dim: DataFrame, rows: int) -> tuple[DataFrame, str, str]:
        if rows < _BROADCAST_ROW_TH:
            return F.broadcast(dim), "broadcast", "BroadcastHashJoin"
        return dim.hint("merge"), "smj", "SortMergeJoin"

    d_cust, cust_path, cust_node = pick(cust, cust.count())
    d_nat, nat_path, nat_node = pick(nat, nat.count())

    result = (
        orders.join(d_cust, orders.o_custkey == d_cust.c_custkey)
        .join(d_nat, F.col("c_nationkey") == d_nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"),
        )
        .select(
            "n_name",
            "n_orders",
            "rev_cents",
            F.lit(cust_path).alias("customer_path"),
            F.lit(nat_path).alias("nation_path"),
        )
    )
    # close the loop: the REMEDY must be visible in the physical plan
    got = join_strategies(result)
    for node in {cust_node, nat_node}:
        # raise, not assert: in-key proof guards must survive python -O
        if node not in got:
            raise RuntimeError(f"autotune chose {node} but the plan has {got}")
    return result


# ---------------------------------------------------------------------------
# X166: reused-exchange proof — one shuffle feeds both sides of a self-join
# ---------------------------------------------------------------------------
def _x166_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("q")
    )
    a = agg.select(F.col("l_suppkey").alias("k"), F.col("q").alias("qa"))
    b = agg.select((F.col("l_suppkey") + 1).alias("k2"), F.col("q").alias("qb"))
    return (
        a.join(b, F.col("k") == F.col("k2"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.expr("qa * qb")).alias("qq_sum"),
        )
    )


@register(
    "diag_reused_exchange_proof",
    "X166",
    oracle="""
    WITH agg AS MATERIALIZED (
        SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(a.q * b.q) AS BIGINT) AS qq_sum
    FROM agg a JOIN agg b ON a.l_suppkey = b.l_suppkey + 1
    """,
)
def diag_reused_exchange_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange REUSE, proven on the executed plan: a per-supplier
    aggregate self-joined against its own shifted key (adjacent-supplier
    quantity products) references the identical aggregation subtree
    twice — Spark must shuffle the lineitem scan ONCE and wire the
    second branch to a ReusedExchange, not re-scan and re-shuffle.  The
    key executes a probe instance of the frame to force the adaptive
    final plan, asserts the ReusedExchange marker, and returns a fresh
    frame for the value oracle (adjacent-key self-products are exact
    integers).

    At 100 TB exchange reuse halves the widest shuffle of every
    self-comparison report; losing it (e.g. by spelling the two sides
    with divergent projections) doubles scan AND shuffle, which is why
    the marker deserves a pinned proof alongside X148's runtime bloom
    filter and X161's CBO reorder."""
    from debias_spark.plans import executed_plan

    probe = _x166_frame(spark, sf_dir)
    probe.collect()  # bounded: 1 row; forces the adaptive final plan
    plan = executed_plan(probe)
    # raise, not assert: in-key proof guards must survive python -O
    if "ReusedExchange" not in plan:
        raise RuntimeError(
            "expected the self-join to reuse the aggregate's exchange; plan:\n"
            + plan[:2000]
        )
    return _x166_frame(spark, sf_dir)


# ---------------------------------------------------------------------------
# X167: physical-encoding advisor (dictionary / RLE / plain per column)
# ---------------------------------------------------------------------------
_ENC_COLS = ["o_orderpriority", "o_orderstatus", "o_custkey", "o_orderkey"]


_SEG = 1000  # run-length is measured within orderkey segments (scan-local)


_DICT_MAX_BP = 100  # <=1% distinct -> dictionary


_RLE_MIN_RUN_E2 = 300  # avg run >= 3.0 values -> RLE


def _enc_oracle() -> str:
    parts = []
    for c in _ENC_COLS:
        parts.append(f"""
        SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(sum(chg) AS BIGINT) AS n_runs,
               CAST(count(*) * 100 // sum(chg) AS BIGINT) AS avg_run_len_e2,
               CAST(count(DISTINCT {c}) * 10000 // count(*) AS BIGINT)
                   AS distinct_bp,
               CASE WHEN count(DISTINCT {c}) * 10000 // count(*)
                         <= {_DICT_MAX_BP} THEN 'dict'
                    WHEN count(*) * 100 // sum(chg) >= {_RLE_MIN_RUN_E2}
                         THEN 'rle'
                    ELSE 'plain' END AS encoding
        FROM (
            SELECT {c},
                   CASE WHEN lag({c}) OVER w IS DISTINCT FROM {c}
                        THEN 1 ELSE 0 END AS chg
            FROM orders
            WINDOW w AS (PARTITION BY o_orderkey // {_SEG} ORDER BY o_orderkey)
        )""")
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


@register("diag_encoding_advisor", "X167", oracle=_enc_oracle())
def diag_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-encoding advisor: per candidate column, measure distinct
    ratio and average run length along the natural key order — run
    lengths counted WITHIN orderkey segments (1000-key windows), the way
    an encoder sees data one row-group at a time, so no global sort or
    single-partition window exists anywhere — then recommend dictionary
    (<= 1% distinct), RLE (average run >= 3), or plain.  The same
    decision table a columnar writer consults; pinned as data so the
    oracle re-derives the advice from the same measurements.

    At 100 TB encoding choice is storage cost: a dictionary-encodable
    status column stored plain is a ~10x scan tax on every query that
    touches it.  Exact integers throughout (run starts counted with
    IS DISTINCT FROM so NULL runs count too)."""
    from pyspark.sql.window import Window

    orders = table(spark, sf_dir, "orders")
    seg = F.expr(f"o_orderkey div {_SEG}")
    w = Window.partitionBy(seg).orderBy("o_orderkey")
    # ONE pass computes every column's run-start flag over the shared
    # window (4 separate passes would re-scan + re-shuffle identically);
    # checkpointed because 4 per-column aggregates re-read it (rule 5:
    # the recomputed stage contains a shuffle)
    chgs = orders.select(
        *[
            (~F.lag(F.col(c)).over(w).eqNullSafe(F.col(c)))
            .cast("long")
            .alias(f"chg_{c}")
            for c in _ENC_COLS
        ]
    ).localCheckpoint(eager=True)
    out = None
    for c in _ENC_COLS:
        # distinct count in its OWN aggregate: mixing countDistinct with
        # plain aggregates plans an Expand (rule 7 — one row replica per
        # aggregate family through the shuffle).  NULLs are filtered
        # BEFORE the distinct so this matches the oracle's
        # count(DISTINCT c), which never counts the NULL group (r9
        # advice: a NULL-bearing column would otherwise diverge by +1).
        nd = (
            orders.select(F.col(c).alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
            .agg(F.count("*").alias("n_distinct"))
        )
        stats = (
            chgs.agg(
                F.lit(c).alias("col_name"),
                F.count("*").alias("n_rows"),
                F.sum(f"chg_{c}").alias("n_runs"),
            )
            .crossJoin(F.broadcast(nd))
            .select(
                "col_name",
                "n_rows",
                "n_distinct",
                "n_runs",
                F.expr("n_rows * 100 div n_runs").alias("avg_run_len_e2"),
                F.expr("n_distinct * 10000 div n_rows").alias("distinct_bp"),
                F.expr(
                    f"CASE WHEN n_distinct * 10000 div n_rows <= {_DICT_MAX_BP}"
                    f" THEN 'dict'"
                    f" WHEN n_rows * 100 div n_runs >= {_RLE_MIN_RUN_E2}"
                    f" THEN 'rle' ELSE 'plain' END"
                ).alias("encoding"),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out.orderBy("col_name")


# The reference trusts its inputs blindly (call-debias.py reads whatever
# the folder holds); this is the constraint audit a lakehouse runs because
# nothing enforces foreign keys at 100 TB.

# ---------------------------------------------------------------------------
# X168: referential-integrity / constraint audit
# ---------------------------------------------------------------------------
@register(
    "diag_referential_integrity_audit",
    "X168",
    oracle="""
    SELECT 'lineitem_orphans' AS constraint_name,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'orders_childless',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders o LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders_bad_custkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem_dup_pk',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
    FROM (SELECT count(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_linenumber)
    ORDER BY constraint_name
    """,
)
def diag_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over the star schema: orphaned lineitems (no
    parent order), childless orders, orders pointing at missing
    customers, and duplicated lineitem primary keys — each as one row of
    (checked, violations).  Nothing at lake scale enforces these; a
    pipeline that joins on them silently drops or duplicates rows, so
    the audit runs BEFORE the joins do, and zero-violation rows are the
    evidence (the oracle hash proves the zeros are computed, not
    assumed).

    Scale shape: three left joins on their natural keys (the same
    shuffles the production joins pay — auditing is a dry run of the
    join graph) and one groupBy for the key-uniqueness census; exact
    integer output."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")

    def audit(name: str, left: DataFrame) -> DataFrame:
        miss = F.col("_rk").isNull()
        return left.agg(
            F.lit(name).alias("constraint_name"),
            F.count("*").alias("n_checked"),
            F.sum(miss.cast("long")).alias("n_violations"),
        )

    a1 = audit(
        "lineitem_orphans",
        li.select("l_orderkey").join(
            orders.select(F.col("o_orderkey").alias("_rk")),
            F.col("l_orderkey") == F.col("_rk"),
            "left",
        ),
    )
    a2 = audit(
        "orders_childless",
        orders.select("o_orderkey").join(
            li.select(F.col("l_orderkey").alias("_rk")).distinct(),
            F.col("o_orderkey") == F.col("_rk"),
            "left",
        ),
    )
    a3 = audit(
        "orders_bad_custkey",
        orders.select("o_custkey").join(
            cust.select(F.col("c_custkey").alias("_rk")),
            F.col("o_custkey") == F.col("_rk"),
            "left",
        ),
    )
    pk = li.groupBy("l_orderkey", "l_linenumber").agg(F.count("*").alias("n"))
    a4 = pk.agg(
        F.lit("lineitem_dup_pk").alias("constraint_name"),
        F.count("*").alias("n_checked"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0))).alias(
            "n_violations"
        ),
    )
    return a1.unionByName(a2).unionByName(a3).unionByName(a4).orderBy(
        "constraint_name"
    )


@register(
    "diag_key_skew_profile",
    "X105",
    oracle=f"""
    WITH counts AS MATERIALIZED (
        SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total_rows,
               count(*) AS n_keys
        FROM counts
    )
    SELECT l_suppkey, n,
           {floor_eps_sql("n * t.n_keys / t.total_rows", 100)} AS x_mean_centi
    FROM counts, tot t
    ORDER BY n DESC, l_suppkey
    LIMIT 10
    """,
)
def diag_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostic (operators/skew.py key_skew_profile): the 10
    hottest join keys with their row counts and multiple-of-mean ratio —
    the measurement that decides between AQE-only, salting, or broadcast.
    x_mean near 1.0 everywhere = uniform (leave AQE alone); a key at
    10-100x mean = salt that join.

    Plan: one groupBy(key) count, a broadcast 1-row total, and a top-10
    TakeOrdered — no global sort, scales as a plain aggregate."""
    from debias_spark.operators.skew import key_skew_profile

    li = table(spark, sf_dir, "lineitem")
    return key_skew_profile(li, "l_suppkey", top=10)


@register(
    "diag_observe_metrics",
    "X130",
    oracle=f"""
    SELECT count(*) AS n_rows,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS total_cents,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_fulfilled
    FROM orders
    """,
)
def diag_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API as a first-class diagnostic operator: metrics
    (row count, integer-cents revenue, fulfilled count) accumulate on the
    SAME pass that scans the data — df.observe() rides the existing job
    as accumulators instead of scheduling a second aggregate scan, which
    is how a production pipeline audits every batch for free (and the
    only metrics mechanism that also works mid-stream in Structured
    Streaming).  The observed values are re-emitted as a 1-row DataFrame
    and hash-checked against a plain SQL aggregate of the source.

    Integer discipline: the observed sum is over pre-rounded BIGINT
    cents — accumulator merge order never touches a float.

    Plan shape: one scan + CollectMetrics node (no extra shuffle); the
    1-row re-emit is driver-side by definition of the API."""
    orders = table(spark, sf_dir, "orders")
    obs = Observation("x130")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(F.col("o_totalprice"))).alias("total_cents"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_fulfilled"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["total_cents"]), int(m["n_fulfilled"]))],
        "n_rows bigint, total_cents bigint, n_fulfilled bigint",
    )


# deterministic per-column width model (bytes): fixed 8 for numerics and
# timestamps, exact octet length for strings.  The SAME formula runs in
# both engines, so the advisor's outputs are exact integers.
_ADVISOR_TABLES = {
    "orders": (
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"],
        ["o_orderstatus", "o_orderpriority"],
    ),
    "events": (
        ["event_id", "ts", "user_id", "value"],
        ["event_type", "props"],
    ),
}


_TARGET_PART_BYTES = 64 * 1024 * 1024


@register(
    "diag_shuffle_partition_advisor",
    "Z58",
    oracle=f"""
    WITH w AS (
        SELECT 'events' AS tbl, count(*) AS n_rows,
               CAST(sum(8 * 4 + strlen(event_type)
                        + strlen(props)) AS BIGINT) AS est_bytes
        FROM events
        UNION ALL
        SELECT 'orders', count(*),
               CAST(sum(8 * 4 + strlen(o_orderstatus)
                        + strlen(o_orderpriority)) AS BIGINT)
        FROM orders
    )
    SELECT tbl, n_rows, est_bytes,
           CAST(greatest(1, ceil(CAST(est_bytes AS DOUBLE)
                                 / {_TARGET_PART_BYTES})) AS BIGINT)
               AS rec_shuffle_partitions
    FROM w ORDER BY tbl
    """,
)
def diag_shuffle_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle sizing advisor: per table, an exact-integer byte estimate
    (8 bytes per numeric/timestamp column + exact string byte lengths (octet_length / DuckDB strlen) —
    the in-memory row model, NOT compressed file size) and the shuffle
    partition count that keeps each partition near the 64 MB target.
    This is the arithmetic behind `spark.sql.shuffle.partitions` and
    `maxPartitionBytes` tuning: at sf0.1 it recommends 1 (the data is
    tiny), at 100 TB the same formula recommends ~1.5M — which is the
    point: the advisor makes the sizing decision data-derived instead of
    a cargo-culted constant.  Pairs diag_key_skew_profile (which grades
    key DISTRIBUTION; this key grades VOLUME).

    Scale: one mergeable aggregate per table; ceil division on exact
    integers (cast to double only for the correctly-rounded ceil)."""
    frames = []
    for tbl in sorted(_ADVISOR_TABLES):
        num_cols, str_cols = _ADVISOR_TABLES[tbl]
        t = table(spark, sf_dir, tbl)
        width = F.lit(8 * len(num_cols))
        for c in str_cols:
            width = width + F.octet_length(c)
        frames.append(
            t.agg(
                F.count("*").alias("n_rows"),
                F.sum(width).cast("long").alias("est_bytes"),
            ).select(F.lit(tbl).alias("tbl"), "n_rows", "est_bytes")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(
        "tbl",
        "n_rows",
        "est_bytes",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("est_bytes").cast("double") / _TARGET_PART_BYTES),
        )
        .cast("long")
        .alias("rec_shuffle_partitions"),
    ).orderBy("tbl")


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
