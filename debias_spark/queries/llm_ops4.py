"""Fourth-wave operators (SURVEY §2 addendum Z4-Z22), round 2.

Four themes:
- Scale techniques with value oracles proving equivalence to the naive
  form: two-phase salted aggregation (Z4), replicate-and-salt skew join
  (Z11).
- Canonical relational depth: TPC-H Q3 (Z5), the cyclic Q5 (Z10), Q10
  (Z21), deterministic per-group mode (Z6), funnel (Z13) and retention
  cohorts (Z14).
- Training-data curation: normalized exact dedup (Z7), int8 embedding
  quantization (Z8), per-source caps (Z15), mixture-targeted sampling
  (Z16), vocab coverage (Z17), binary-payload dedup (Z18), TF-IDF keyword
  extraction (Z22), and the end-to-end dedup pipeline composition (Z20).
- Structured Streaming: watermark dedup (Z9), stream-static join with a
  full SQL oracle (Z12), watermarked stream-stream join (Z19).

Registration position: imported after llm_ops3, so these keys land in the
unproven-first block of the driver priority order (registry.priority_ordered
lists them explicitly after the round-1-unproven keys).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.operators.dedup import minhash_ctes_duck, word_tokens
from debias_spark.registry import register


@register(
    "agg_salted_skew",
    "Z4",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed grouping keys.

    l_returnflag has ~3 values over the whole fact table — the worst-case
    hot-key shape: a single-phase groupBy would funnel the entire table
    into 3 reducers.  Phase 1 aggregates by (key, salt) with a
    deterministic 16-way salt (xxhash64 of the line's primary key), fanning
    each hot key across 16 reducers; phase 2 merges the 16 partials per
    key.  The oracle proves the decomposition is value-identical to the
    plain aggregate (count and sum are algebraic, so they re-associate).
    Spark's partial aggregation already handles this map-side when keys are
    few; the salt pattern is what you reach for when the EXCHANGE itself is
    the bottleneck (high-cardinality-but-skewed keys at 100 TB).
    """
    li = table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "_salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(16))
    )
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("prev"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n"),
        (F.round(F.sum("prev"), 2) + 0.0).alias("revenue"),
    )


@register(
    "tpch_q3_shipping_priority",
    "Z5",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0, 2) + 0.0 AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): segment-filtered customers -> orders ->
    lineitem, revenue per urgent order, top 10.

    Plan shape: customer (filtered, small) broadcasts into orders; that
    join's output is still dimension-sized relative to lineitem, so it
    broadcasts again into the fact scan — lineitem is never shuffled until
    the final aggregate.  Dates are filtered in the scan (pushdown) and the
    output date is a string per the determinism contract.
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-06-01 00:00:00'")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ '1998-06-01 00:00:00'")
    )
    joined = li.join(
        F.broadcast(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        ),
        li.l_orderkey == F.col("o_orderkey"),
    )
    agg = joined.groupBy(
        "l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date")
    ).agg(
        (
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + 0.5
                    ).cast("long")
                )
                / 100.0,
                2,
            )
            + 0.0
        ).alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10).select(
        "l_orderkey", "revenue", "order_date"
    )


@register(
    "agg_mode_per_group",
    "Z6",
    oracle="""
    WITH c AS (
        SELECT event_type, user_id % 10 AS user_bucket, count(*) AS n
        FROM events GROUP BY event_type, user_id % 10
    ), r AS (
        SELECT user_bucket, event_type, n,
               row_number() OVER (PARTITION BY user_bucket
                                  ORDER BY n DESC, event_type) AS rn
        FROM c
    )
    SELECT user_bucket, event_type AS mode_event_type, n AS n_occurrences
    FROM r WHERE rn = 1
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: most frequent event_type per user
    bucket, ties broken alphabetically.  Built as count + row_number
    rather than F.mode, whose tie-break is implementation-defined — a mode
    that can differ between runs is useless for a reproducible pipeline.
    Two exchanges total: the count shuffle, then the tiny per-bucket
    window."""
    ev = table(spark, sf_dir, "events")
    counts = (
        ev.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("user_bucket").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_bucket",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("n_occurrences"),
        )
    )


@register(
    "dedup_exact_normalized",
    "Z7",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT min(doc_id) AS rep_id, count(*) AS n_copies,
           substr(md5(norm), 1, 16) AS norm_digest
    FROM n GROUP BY norm
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-exact dedup (the standard 'fuzzy-exact' pass that
    runs BEFORE MinHash in a training-data pipeline): lowercase, strip
    non-alphanumerics, collapse whitespace, then hash-aggregate.  Grouping
    happens on the md5 digest, so at scale the exchange carries 16 bytes
    per doc, not document text (cf. dedup_exact's docstring; here the
    digest IS the grouping key, demonstrating the shape).
    """
    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""), r" +", " "
        )
    )
    return (
        docs.select("doc_id", F.substring(F.md5(norm), 1, 16).alias("norm_digest"))
        .groupBy("norm_digest")
        .agg(F.min("doc_id").alias("rep_id"), F.count("*").alias("n_copies"))
        .select("rep_id", "n_copies", "norm_digest")
    )


@register(
    "embedding_quantize_int8",
    "Z8",
    oracle="""
    WITH q AS (
        SELECT vec_id, mx,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT)) AS q8
        FROM (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings
        )
    )
    SELECT vec_id,
           round(mx, 6) + 0.0 AS scale_max_abs,
           CAST(list_sum(q8) AS BIGINT) AS q8_sum,
           substr(md5(array_to_string(q8, ',')), 1, 16) AS q8_digest
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (max-abs scaling) — the
    storage/serving compression step for embedding corpora (4x smaller, and
    int8 dot products for rescoring).  Single scan, pure codegen transform;
    the scale factor is emitted so dequantization is lossless to within
    rounding.  The quantized vector is compared across engines through a
    digest + sum (the oracle gate hashes scalar cells; array-typed output
    cells are not portably comparable), computed from the same int values a
    sink would store as TINYINT."""
    emb = table(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    base = emb.select("vec_id", "embedding", mx.alias("_mx"))
    q8 = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 127.0 / F.col("_mx")).cast("bigint")
    )
    return base.select(
        "vec_id",
        (F.round(F.col("_mx"), 6) + 0.0).alias("scale_max_abs"),
        F.aggregate(q8, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q8_sum"),
        F.substring(
            F.md5(F.concat_ws(",", F.transform(q8, lambda x: x.cast("string")))), 1, 16
        ).alias("q8_digest"),
    )


@register(
    "stream_dedup_watermark",
    "Z9",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_first_seen
    FROM events GROUP BY event_type
    """,
    bench=False,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup: dropDuplicatesWithinWatermark on
    (user_id, event_type) over a file stream with a 1-hour watermark,
    drained with availableNow — the incremental version of
    dedup_within_time_window's batch contract.  State is bounded by the
    watermark horizon (old keys are evicted), which is what makes exactly-
    once ingestion dedup feasible on an unbounded stream.

    Upgraded from rows-only in round 5 under the single-batch contract
    (the Z27/Z31 discipline): within ONE micro-batch no key state is
    evicted mid-batch, so exactly one row per (user_id, event_type)
    survives and the per-type count equals the exact COUNT(DISTINCT).
    Watermark eviction only re-admits keys ACROSS batches — a multi-file
    events source could drain in several batches and legitimately emit
    more rows, so that layout fails loudly here instead of diverging
    silently from the oracle."""
    import glob as _glob

    from debias_spark.streaming import run_available_now, stream_events

    ev_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(ev_path) and len(_glob.glob(os.path.join(ev_path, "*.parquet"))) > 1:
        raise RuntimeError(
            "stream_dedup_watermark: multi-file events source would drain "
            "in several micro-batches, where watermark eviction can "
            "re-admit keys and the count exceeds COUNT(DISTINCT); this "
            "key's oracle requires the single-file (single-batch) layout"
        )
    stream = stream_events(spark, sf_dir)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    counted = deduped.groupBy("event_type").agg(F.count("*").alias("n_first_seen"))
    return run_available_now(counted, spark, output_mode="complete")


@register(
    "tpch_q5_local_supplier_volume",
    "Z10",
    oracle="""
    SELECT n.n_name,
           round(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0, 2) + 0.0 AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the canonical CYCLIC multiway join —
    lineitem connects to both orders->customer and supplier, and the cycle
    closes on c_nationkey = s_nationkey, which no star-schema plan handles
    for free.

    Plan shape: every dimension side (customer, supplier, nation, region)
    broadcasts; lineitem joins orders on its own key first (the only
    fact-sized equi-join), then the supplier join applies BOTH conditions
    (suppkey equality + nation equality) in one broadcast hash join, so the
    cycle never forces a second fact shuffle.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    euro_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    euro_supp = supp.join(
        F.broadcast(euro_nations), supp.s_nationkey == euro_nations.n_nationkey
    ).select("s_suppkey", "s_nationkey", "n_name")

    co = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    joined = li.join(F.broadcast(co), li.l_orderkey == F.col("o_orderkey")).join(
        F.broadcast(euro_supp),
        (li.l_suppkey == F.col("s_suppkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    return joined.groupBy("n_name").agg(
        (
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + 0.5
                    ).cast("long")
                )
                / 100.0,
                2,
            )
            + 0.0
        ).alias("revenue")
    )


@register(
    "join_skew_salted",
    "Z11",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT l_returnflag AS flag,
               CAST(ascii(l_returnflag) AS BIGINT) AS weight
        FROM lineitem
    )
    SELECT d.flag,
           count(*) AS n,
           round(sum(l.l_quantity * d.weight), 2) + 0.0 AS weighted_qty
    FROM lineitem l JOIN dim d ON l.l_returnflag = d.flag
    GROUP BY d.flag
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for a pathologically skewed key: every fact row carries
    one of 3 flag values, so a plain shuffle join would put the whole table
    on 3 reducers.  The small side is REPLICATED 16x (one copy per salt),
    the fact side computes a deterministic salt from its primary key, and
    the join runs on (key, salt) — spreading each hot key over 16 tasks.
    The oracle proves the salted join equals the plain join.

    (With a dim this small you'd broadcast instead — the replicate+salt
    shape is for dims too big to broadcast but with hot fact keys; AQE's
    skew-join handles the sort-merge case, this is the explicit form.)
    """
    n_salt = 16
    li = table(spark, sf_dir, "lineitem")
    dim = (
        li.select(F.col("l_returnflag").alias("flag"))
        .distinct()
        .withColumn("weight", F.ascii("flag").cast("bigint"))
    )
    salts = spark.range(n_salt).select(F.col("id").cast("int").alias("_salt"))
    dim_rep = dim.crossJoin(salts)  # 3 x 16 rows
    fact = li.withColumn(
        "_salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(n_salt)).cast("int"),
    )
    joined = fact.hint("shuffle_hash").join(
        dim_rep,
        (fact.l_returnflag == dim_rep.flag) & (fact["_salt"] == dim_rep["_salt"]),
    )
    return joined.groupBy("flag").agg(
        F.count("*").alias("n"),
        (F.round(F.sum(F.col("l_quantity") * F.col("weight")), 2) + 0.0).alias(
            "weighted_qty"
        ),
    )


@register(
    "stream_static_join_counts",
    "Z12",
    oracle="""
    SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
                WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                ELSE 'ops' END AS category,
           count(*) AS n,
           round(sum(value), 2) + 0.0 AS sum_val
    FROM events GROUP BY category
    """,
)
def stream_static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event file stream joins a static category
    dimension (broadcast into every micro-batch), then aggregates per
    category in complete mode, drained with availableNow.

    Unlike the other streaming keys this one has a full SQL oracle: the
    complete-mode aggregate after draining all files equals the batch
    aggregate exactly, so the driver value-checks a Structured Streaming
    plan end-to-end."""
    from debias_spark.streaming import run_available_now, stream_events

    dim = (
        table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn(
            "category",
            F.when(F.col("event_type").isin("click", "view"), "engagement")
            .when(F.col("event_type").isin("purchase", "signup"), "conversion")
            .otherwise("ops"),
        )
    )
    stream = stream_events(spark, sf_dir)
    joined = stream.join(F.broadcast(dim), "event_type")
    agg = joined.groupBy("category").agg(
        F.count("*").alias("n"), (F.round(F.sum("value"), 2) + 0.0).alias("sum_val")
    )
    return run_available_now(agg, spark, output_mode="complete")


@register(
    "funnel_conversion",
    "Z13",
    oracle="""
    WITH f AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t_view) AS n_view,
           count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
           count(CASE WHEN t_purchase > t_click AND t_click > t_view
                      THEN 1 END) AS n_view_click_purchase
    FROM f
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): per user, the first
    occurrence time of each step; a user converts a step only if its first
    time is strictly after the previous step's first time.

    Single shuffle: one conditional min-aggregate per step inside one
    groupBy(user_id) — the standard funnel shape that scales linearly (no
    self-joins, no per-user sorting; conditional aggregation replaces
    both).  NULL comparisons make the 'strictly after' predicate false, so
    users missing a step never count."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("n_view_click"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_view_click_purchase"),
    )


@register(
    "retention_cohorts",
    "Z14",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(date_diff('week', f.cohort_week,
                              date_trunc('week', e.ts)) AS BIGINT) AS week_offset
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           week_offset,
           count(*) AS n_active_users
    FROM activity
    WHERE week_offset <= 4
    GROUP BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-seen week, counted
    once per (cohort, weeks-since-first-seen) for the first 5 offsets — the
    classic retention triangle.

    Two shuffles on user_id (first-seen aggregate, then the distinct), and
    the cohort join stays co-partitioned on user_id so no third fact
    exchange; the final count aggregates a frame already reduced to one
    row per (user, week)."""
    ev = table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first_seen = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("week_offset") <= 4)
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count("*").alias("n_active_users"))
    )


@register(
    "sample_cap_per_source",
    "Z15",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
    FROM r WHERE rn <= 10
    """,
)
def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source cap (anti-spam / per-domain quota): keep the
    10 docs with the smallest md5(doc_id) per source — a seedless,
    engine-portable uniform sample that never changes across runs or
    cluster layouts.  One window shuffle on source; at scale this is the
    rank-based alternative to reservoir sampling (no sequential state, no
    RNG)."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= 10)
    )


@register(
    "sample_mixture_weighted",
    "Z16",
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS n_src,
               (SELECT count(*) FROM documents) AS n_total
        FROM documents GROUP BY source
    ), rates AS (
        SELECT source,
               least(1.0,
                     (CASE WHEN source IN ('src0','src1','src2','src3','src4')
                           THEN 0.10 ELSE 0.50 / 15 END)
                     * n_total * 0.5 / n_src) AS keep_rate
        FROM counts
    )
    SELECT d.doc_id, d.source, round(r.keep_rate, 6) + 0.0 AS keep_rate
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < r.keep_rate
    """,
)
def sample_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-targeted downsampling — the 'data recipe' step of a training
    pipeline: given target shares per source (here: src0-4 get 10% each,
    the other 15 sources split the remaining 50%), each source is kept at
    rate target_share * budget / actual_count, so the SURVIVING corpus
    approximates the target mixture at half the original size.

    Selection is a deterministic hash-threshold (first 8 md5 hex digits as
    a uniform [0,1) draw) — reproducible across engines, runs, and
    partitionings, unlike rand()-based sampling.  Plan: count aggregate ->
    tiny rates frame broadcast back onto the scan; the fact table is
    touched twice but never shuffled."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    n_total = docs.count()  # driver scalar: one tiny job, fine at any scale
    share = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), F.lit(0.10)
    ).otherwise(F.lit(0.50 / 15))
    rates = counts.select(
        "source",
        F.least(F.lit(1.0), share * F.lit(n_total) * 0.5 / F.col("n_src")).alias(
            "keep_rate"
        ),
    )
    draw = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) / F.lit(4294967296.0)
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(draw < F.col("keep_rate"))
        .select("doc_id", "source", (F.round(F.col("keep_rate"), 6) + 0.0).alias("keep_rate"))
    )


@register(
    "text_vocab_coverage",
    "Z17",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ), toks_clean AS (
        SELECT doc_id, tok FROM toks WHERE tok <> ''
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
            FROM toks_clean GROUP BY tok
        ) WHERE rn <= 20
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           count(v.tok) AS n_in_vocab,
           round(count(v.tok) * 1.0 / count(*), 4) + 0.0 AS coverage
    FROM toks_clean t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build a top-20 frequency vocab from
    the corpus itself, then score every document's in-vocab token fraction
    (the OOV-rate check run before committing to a tokenizer).  The vocab
    is a two-stage top-k (partial counts -> global top-k, tiny) broadcast
    back into a single pass over the exploded tokens."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(word_tokens(F.col("text"))).alias(
            "tok"
        ),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
        .select("tok", F.lit(1).alias("_v"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count("_v").alias("n_in_vocab"),
            (F.round(F.count("_v") / F.count("*"), 4) + 0.0).alias("coverage"),
        )
    )


@register(
    "multimodal_dedup_binary",
    "Z18",
    oracle="""
    SELECT md5(text) AS payload_md5,
           min(doc_id) AS rep_id,
           count(*) AS n_copies,
           CAST(min(length(text)) AS BIGINT) AS n_bytes
    FROM documents GROUP BY md5(text)
    """,
)
def multimodal_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY payload column (image/audio dedup by
    content hash — the first pass of any multimodal pipeline).  The md5
    runs on the bytes, so with real media this is byte-identical-file
    dedup; the shuffle key is the 32-hex digest, never the payload.  The
    oracle hashes the same bytes through the text column (the payload here
    is utf-8 text by construction — ascii corpus, so length == octet
    count)."""
    from debias_spark.operators.multimodal import attach_binary

    docs = attach_binary(table(spark, sf_dir, "documents").select("doc_id", "text"))
    return (
        docs.select("doc_id", F.md5("payload").alias("payload_md5"),
                    F.col("meta.n_bytes").cast("bigint").alias("nb"))
        .groupBy("payload_md5")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count("*").alias("n_copies"),
            F.min("nb").alias("n_bytes"),
        )
        .select("payload_md5", "rep_id", "n_copies", "n_bytes")
    )


@register("stream_stream_join", "Z19", oracle=None, bench=False)  # rows-only
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition: each
    purchase joins the SAME user's clicks from the preceding hour.  Both
    sides are watermarked so the join state is bounded (clicks older than
    the watermark + range are evicted) — the canonical attribution join,
    impossible in batch SQL without re-scanning history per micro-batch.
    Join-state eviction timing is engine-defined -> rows-only; the batch
    equivalent (join_asof_last_click) carries the value oracle for the
    same semantics."""
    from debias_spark.streaming import run_available_now, stream_events

    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "value")
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        "user_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
        "value",
    )
    return run_available_now(joined, spark, output_mode="append")


def _pipeline_survivors_oracle() -> str:
    """DuckDB replay of the ENTIRE dedup pipeline (upgraded from rows-only
    in round 5): normalize + digest-window exact dedup, the minhash CTE
    chain re-rooted at the representatives CTE (the ``source`` parameter
    of minhash_ctes_duck), exact-Jaccard verification, WITH RECURSIVE
    transitive closure, and min-per-cluster survivor selection — the
    H9/H9e oracle machinery composed end to end.  Regex note: DuckDB
    regexp_replace needs the 'g' flag to match Spark's replace-all."""
    ctes, jac = minhash_ctes_duck(num_hashes=32, bands=4, source="reps")
    return f"""
    WITH RECURSIVE grp AS MATERIALIZED (
        SELECT doc_id, text,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS digest
        FROM documents
    ), reps AS MATERIALIZED (
        SELECT doc_id, text, n_exact_copies FROM (
            SELECT doc_id, text,
                   min(doc_id) OVER (PARTITION BY digest) AS rep_id,
                   count(*) OVER (PARTITION BY digest) AS n_exact_copies
            FROM grp
        ) WHERE doc_id = rep_id
    ), {ctes}, verified AS MATERIALIZED (
        -- MATERIALIZED is load-bearing: without it DuckDB re-evaluates
        -- the whole minhash chain on every recursion iteration of
        -- ``reach`` (measured 2.1 s -> 0.2 s at sf0.01; the oracle was
        -- the slowest in the registry and flaked the suite's 5 s
        -- ceiling under load, r10 verdict item 2)
        SELECT c.id AS id, c.rep_id AS rep_id
        FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
        WHERE {jac} >= 0.8
    ), edges AS MATERIALIZED (
        SELECT id AS src, rep_id AS dst FROM verified
        UNION
        SELECT rep_id AS src, id AS dst FROM verified
    ), reach(node, r) AS (
        SELECT doc_id AS node, doc_id AS r FROM reps
        UNION
        SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r
    ), labeled AS (
        SELECT node AS id, min(r) AS cluster_id FROM reach GROUP BY node
    ), sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
    )
    SELECT r.doc_id, r.n_exact_copies, s.cluster_size
    FROM labeled l
    JOIN sizes s USING (cluster_id)
    JOIN reps r ON r.doc_id = l.id
    WHERE l.id = l.cluster_id
    """


@register(
    "dedup_pipeline_survivors",
    "Z20",
    oracle=_pipeline_survivors_oracle(),
    bench=False,
)
def dedup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ENDGAME as one operator — the composition a training-data
    pipeline actually runs:

      1. normalize + exact dedup (md5 digest groups; keep min doc_id)
      2. MinHash+LSH near-dup pairs over the exact-unique representatives
      3. connected components -> cluster labels
      4. survivors = one representative (min doc_id) per cluster

    Returns (doc_id, n_exact_copies, cluster_size) for every surviving
    document.  Upgraded from rows-only in round 5: the engine-side
    ITERATION (pointer-jumping label propagation) and the oracle-side
    RECURSION (_pipeline_survivors_oracle's WITH RECURSIVE closure over
    the same md5-portable minhash chain, re-rooted at the exact-dedup
    reps) compute the same fixpoint, so the driver hash-checks the whole
    pipeline end to end.  The survivor-set invariants (no near-dup pair
    survives, every dropped doc maps to a survivor) remain asserted in
    tests."""
    from debias_spark.operators.dedup import duplicate_clusters, minhash_dedup

    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9 ]", ""), r" +", " "
        )
    )
    groups = (
        docs.select("doc_id", "text", F.md5(norm).alias("digest"))
        .withColumn(
            "rep_id", F.min("doc_id").over(Window.partitionBy("digest"))
        )
        .withColumn(
            "n_exact_copies", F.count("*").over(Window.partitionBy("digest"))
        )
    )
    reps = (
        groups.filter(F.col("doc_id") == F.col("rep_id"))
        .select("doc_id", "text", "n_exact_copies")
        # materialize ONCE: reps feeds the pair generation (which reads it
        # twice per verification side), the id universe, and the final
        # survivor join — without this the digest-window dedup re-executes
        # in every propagation round's lineage (measured 14.2s -> ~7s at
        # sf0.01).  The frame is one row per unique doc — tiny.
        .localCheckpoint(eager=True)
    )
    # near-dup graph over exact-unique reps only (the whole point of the
    # staging: MinHash never sees byte-duplicates)
    pairs = minhash_dedup(reps, "doc_id", "text", shingle_n=1, threshold=0.8)
    ids = reps.select(F.col("doc_id").alias("id"))
    clusters = duplicate_clusters(ids, pairs, id_col="id", pair_cols=("id", "rep_id"))
    survivors = clusters.filter(F.col("id") == F.col("cluster_id"))
    return (
        survivors.join(reps, survivors.id == reps.doc_id)
        .select("doc_id", "n_exact_copies", "cluster_size")
    )


@register(
    "tpch_q10_returned_items",
    "Z21",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0, 2) + 0.0 AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): customers ranked by revenue
    lost to returns in one quarter.  Same broadcast discipline as Q3/Q5:
    the returnflag filter is pushed into the fact scan, date-filtered
    orders + customer + nation all broadcast, one aggregate exchange, top
    20 with a custkey tiebreak."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1997-07-01 00:00:00'"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cn = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )
    oc = orders.join(F.broadcast(cn), orders.o_custkey == F.col("c_custkey")).select(
        "o_orderkey", "c_custkey", "c_name", "n_name"
    )
    joined = li.join(F.broadcast(oc), li.l_orderkey == F.col("o_orderkey"))
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        (
            F.round(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + 0.5
                    ).cast("long")
                )
                / 100.0,
                2,
            )
            + 0.0
        ).alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


@register(
    "text_tfidf_top_terms",
    "Z22",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ), tc AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, count(*) AS n_docs FROM tc GROUP BY tok
    ), total AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tc.doc_id, tc.tok,
               round(tc.tf * ln((SELECT n FROM total) * 1.0 / df.n_docs), 6) + 0.0
                   AS tfidf,
               row_number() OVER (
                   PARTITION BY tc.doc_id
                   ORDER BY tc.tf * ln((SELECT n FROM total) * 1.0 / df.n_docs) DESC,
                            tc.tok) AS rn
        FROM tc JOIN df ON tc.tok = df.tok
    )
    SELECT doc_id, tok AS top_term, tfidf FROM scored WHERE rn = 1
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: per document, the single highest-scoring
    term (tf x ln(N / df), ties to the alphabetically first term).

    Plan: one explode -> (doc, term) count shuffle; document frequencies
    aggregate FROM that counted frame (term already the key, so the second
    aggregate is cheap) and broadcast back; the final per-doc top-1 is a
    window over the counted frame.  N comes from a driver scalar count —
    one tiny job."""
    docs = table(spark, sf_dir, "documents")
    n_total = docs.count()
    toks = docs.select(
        "doc_id",
        F.explode(word_tokens(F.col("text"))).alias(
            "tok"
        ),
    )
    # the counted frame feeds BOTH the df aggregate and the scored join —
    # materialize it once instead of re-running the explode+count shuffle
    # per consumer (1.36 -> 1.14 s at sf0.1)
    tc = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_counts = tc.groupBy("tok").agg(F.count("*").alias("n_docs"))
    scored = tc.join(F.broadcast(df_counts), "tok").withColumn(
        "score", F.col("tf") * F.log(F.lit(float(n_total)) / F.col("n_docs"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("tok").alias("top_term"),
            (F.round(F.col("score"), 6) + 0.0).alias("tfidf"),
        )
    )
