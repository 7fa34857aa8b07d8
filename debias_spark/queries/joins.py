"""Join keys: broadcast / sort-merge / outer / semi-anti / multiway
star joins, salted and AQE-split skew joins, range-banded and grid
radius joins, as-of joins, dynamic partition pruning, runtime bloom and
hash-bucket prefilters, and CBO join reordering.

The reference maintains its file->record->tag correlation by
denormalization and never joins (SURVEY §2.G); north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.registry import register
from debias_spark.session import pinned_confs
from debias_spark.warehouse import scratch_dir


@register(
    "join_dpp_partitioned",
    "Z36",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT lang FROM documents
        WHERE substr(md5(lang), 1, 1) < '8'
    )
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN dim USING (lang)
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning, executed and value-proven: the corpus
    is laid out partitioned by lang (the 100 TB layout), the dim side's
    filter is OPAQUE to static analysis (md5 of the value), and the join
    still only READS the surviving partitions — Spark plans a
    dynamicpruning subquery that executes the dim first and turns its
    result into a partition filter on the fact scan.  This is the
    mechanism that makes fact-to-dim star joins feasible on partitioned
    100 TB tables: I/O scales with the dim selectivity, not the fact
    size (tests/test_plan_invariants.py asserts the dynamicpruning
    expression is really in the scan).

    The oracle computes the same join on the unpartitioned source —
    a hash match proves pruning dropped no rows."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = scratch_dir(spark, sf_dir, "dpp_docs")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        fact.select("lang")
        .distinct()
        .filter(F.substring(F.md5("lang"), 1, 1) < "8")
    )
    return (
        fact.join(dim, "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "join_salted_hotkey",
    "X104",
    oracle=f"""
    SELECT s.s_nationkey,
           count(*) AS n_items,
           CAST(sum({cents_sql("l.l_extendedprice")}) AS BIGINT)
               AS revenue_cents
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_nationkey
    """,
)
def join_salted_hotkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-dim join (operators/skew.py salted_join): the fact side
    sprays each join key across 8 salt sub-keys, the dim side replicates
    8x, and the join runs on (key, salt) — splitting any pathological hot
    key's rows across 8 reducers.  The oracle is the PLAIN join's
    aggregate: a hash match proves the salting transform is exactly
    semantics-preserving (the whole point — it must be safe to apply
    mechanically when the skew profile demands it).

    When to use at 100 TB: AQE's skew-join splitting handles most skew at
    runtime by splitting oversized partitions; explicit salting is for
    the case AQE can't fix — ONE key so hot that even its split
    partitions share a single build-side row group / stream. Cost is dim
    x salt replication, so only with a small dim.  The companion
    diagnostic (X105) is how you decide."""
    from debias_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(li, sup, "l_suppkey", "s_suppkey", salt=8)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        F.sum(cents(F.col("l_extendedprice"))).alias("revenue_cents"),
    )


# AQE skew-join tuning: thresholds low enough that the 5-key event_type
# join's partitions (tens of MB at sf0.1) register as skewed and split.
_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    # without force, OptimizeSkewedJoin declines any split that would add
    # a shuffle — and a join feeding an aggregation always re-shuffles, so
    # the rule never fires on this shape unless forced
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    # force a sort-merge join: a broadcast of the 5-row dim would bypass
    # the skewed shuffle this key exists to exercise
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def skewed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skewed SMJ this key proves: events (fact, 5-value join key =
    extreme skew) joined to a per-type dimension WITHOUT broadcast.
    Exposed for the plan-evidence test (asserts ``skew=true`` in the
    final adaptive plan).

    Two shape constraints make the split reachable (both discovered by
    bisection and worth recording):

    - The fact side is spread over 16 map tasks first: a skewed REDUCE
      partition is split at map-output-chunk granularity, so a shuffle
      fed by a single mapper (this small file is one input split on
      local[*]) is unsplittable no matter how skewed — production fact
      scans have thousands of mappers, which the repartition emulates.
    - The dim must arrive at the join through its OWN exchange:
      deriving it by aggregating the same table ON THE JOIN KEY leaves a
      final HashAggregate between the join's Sort and the (reused)
      shuffle stage, and OptimizeSkewedJoin's pattern
      (SMJ over Sort-over-ShuffleQueryStage on both sides) no longer
      matches — measured skew=true with a literal dim, never with the
      self-aggregated dim.  The category enum is a fixed 5-value mapping
      in this schema (TESTDATA), so the literal frame is also the honest
      model of a static dimension."""
    ev = table(spark, sf_dir, "events").repartition(16, "event_id")
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "conversion"),
            ("signup", "conversion"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    return ev.join(dim, "event_type")


@register(
    "join_aqe_skew_split",
    "Z53",
    oracle="""
    WITH dim AS (
        SELECT event_type,
               CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
                    WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                    ELSE 'ops' END AS category
        FROM events GROUP BY event_type
    )
    SELECT d.category,
           count(*) AS n,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY d.category ORDER BY d.category
    """,
)
def join_aqe_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native skew handling: the same hot-key join that
    join_salted_hotkey (Z11-era) handles with MANUAL salting, here left
    unsalted and handed to AQE's OptimizeSkewedJoin — the runtime splits
    the oversized shuffle partitions of the 5-value join key and
    replicates the matching dim rows, so no task drags the stage.  At
    100 TB this is the preferred first lever (zero query rewrite); the
    manual salt remains for engines/joins AQE can't split (e.g. the
    stream-static variant, Z50).

    The skew thresholds are tuned down so sf0.1 partitions register as
    skewed, and the result is eagerly materialized INSIDE the conf scope
    via localCheckpoint so the driver's later collect replays nothing
    under restored confs.
    Plan evidence (skew=true in the final adaptive plan) is asserted in
    tests/test_round7_wave.py over skewed_join_frame."""
    with pinned_confs(spark, _SKEW_CONFS):
        joined = skewed_join_frame(spark, sf_dir)
        out = (
            joined.groupBy("category")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("user_id").alias("n_users"),
            )
            .orderBy("category")
            .localCheckpoint(eager=True)
        )
    return out


_TOL_S = 1800  # 30-minute tolerance


@register(
    "join_asof_forward_tolerance",
    "T13",
    oracle=f"""
    WITH w AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               min(CASE WHEN event_type = 'view'
                        THEN CAST(floor(epoch(ts)) AS BIGINT) END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ) AS next_view_sec
        FROM events
    )
    SELECT event_id, user_id, sec AS purchase_sec,
           CASE WHEN next_view_sec - sec <= {_TOL_S}
                THEN next_view_sec END AS next_view_sec,
           CASE WHEN next_view_sec - sec <= {_TOL_S}
                THEN next_view_sec - sec END AS gap_s
    FROM w WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def join_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: for every purchase, the FIRST view
    event strictly after it by the same user, matched only within 30
    minutes (merge_asof direction='forward' semantics — the
    post-purchase-engagement counterpart of T1's backward last-click).
    Like T1, this is not a join at all: a min over the FOLLOWING window
    frame per user delivers the next-view time in one pass — one
    shuffle on user_id, no range self-join, which is how a forward
    as-of must execute at 100 TB.  Out-of-tolerance matches null out
    AFTER the window (the window finds the nearest; tolerance is a
    projection), and all comparisons are whole-second integers so both
    engines agree regardless of timestamp precision.

    Scale shape: one user-partitioned window + projection + filter —
    embarrassingly parallel across users."""
    ev = table(spark, sf_dir, "events")
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    next_view = F.min(
        F.when(F.col("event_type") == "view", sec)
    ).over(w)
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        sec.alias("sec"),
        next_view.alias("nv"),
    ).filter(F.col("event_type") == "purchase")
    in_tol = (F.col("nv") - F.col("sec")) <= _TOL_S
    return base.select(
        "event_id",
        "user_id",
        F.col("sec").alias("purchase_sec"),
        F.when(in_tol, F.col("nv")).alias("next_view_sec"),
        F.when(in_tol, F.col("nv") - F.col("sec")).alias("gap_s"),
    ).orderBy("event_id")


# `bloom_filter_agg` is NOT in the public function registry (SURVEY §7
# blocked-surface list), but the OPTIMIZER's InjectRuntimeFilter rule still
# plans it — the runtime bloom-filter surface is reachable through confs
# even though the function cannot be called by name.  This key pins that
# path.
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # force creation/application at bench scale: thresholds default to
    # sizes (10MB creation side) this test data never reaches
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # keep the join a shuffle join: a broadcast join would use its own
    # runtime filter mechanics and skip the bloom path
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join X148 proves (exposed for the plan-evidence test): a
    selective part-dim filter whose keys the optimizer turns into a
    bloom filter applied to the lineitem scan BEFORE the shuffle."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    return li.join(p, li["l_partkey"] == p["p_partkey"])


@register(
    "join_bloom_runtime_filter",
    "X148",
    oracle=f"""
    SELECT p_type,
           count(*) AS n,
           CAST(sum({cents_sql("l_extendedprice")}) AS BIGINT)
               AS rev_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 5
    GROUP BY p_type ORDER BY p_type
    """,
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native runtime bloom-filter join pruning: with the
    InjectRuntimeFilter thresholds forced, the optimizer aggregates the
    filtered dim's join keys into a bloom filter
    (bloom_filter_agg(xxhash64(p_partkey))) and applies might_contain to
    the FACT SCAN — fact rows that cannot join are dropped before the
    shuffle, the engine-native equivalent of the hand-rolled semi-join
    prefilter (X27 join_prefilter_hashbucket).  At 100 TB this is the
    difference between shuffling the whole fact table and shuffling the
    ~selectivity fraction that survives the filter.

    The result is materialized inside the conf scope via
    localCheckpoint.  Plan evidence (bloom_filter_agg in the optimized
    plan, might_contain on the fact side) is asserted in
    tests/test_round7_wave5.py."""
    with pinned_confs(spark, _BLOOM_CONFS):
        out = (
            bloom_filtered_join(spark, sf_dir)
            .groupBy("p_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(cents(F.col("l_extendedprice"))).alias("rev_cents"),
            )
            .orderBy("p_type")
            .localCheckpoint(eager=True)
        )
    return out


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


# The geospatial member of the bucketed-join family (LSH bands for text,
# sign-LSH for vectors, grid cells for coordinates: never all-pairs).
# Coordinates are synthesized deterministically from customer keys via the
# md5 idiom both engines share (the testdata has no geo columns), so the
# whole pipeline — projection, cell assignment, neighbor expansion,
# haversine verification — is value-oracled.
_CELL = 0.5  # degrees; at |lat| <= 2 a 3x3 neighborhood covers 50 km (0.45 deg)


_RADIUS_M = 50_000.0


_R_EARTH = 6_371_000.0


def _coords_sql(key: str) -> tuple[str, str]:
    """(lat, lon) DuckDB expressions: md5-derived uniform grid, lat/lon in
    [-2, 2) at 1e-6 degree resolution — a dense simulated metro region so
    every SF (including sf0.001, 150 points) yields real within-radius
    pairs instead of a vacuous empty result."""
    lat = (
        f"((('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT"
        f" % 4000000) / 1000000.0 - 2.0)"
    )
    lon = (
        f"((('0x' || substr(md5(CAST({key} AS VARCHAR)), 9, 8))::BIGINT"
        f" % 4000000) / 1000000.0 - 2.0)"
    )
    return lat, lon


def _coords_spark(key):
    lat = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
        % 4000000
    ) / 1000000.0 - 2.0
    lon = (
        F.conv(F.substring(F.md5(key.cast("string")), 9, 8), 16, 10).cast("long")
        % 4000000
    ) / 1000000.0 - 2.0
    return lat, lon


def _haversine_m_sql(lat1, lon1, lat2, lon2) -> str:
    return (
        f"(2.0 * {_R_EARTH} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


_LAT, _LON = _coords_sql("c_custkey")


@register(
    "geo_grid_radius_join",
    "X108",
    oracle=f"""
    WITH pts AS MATERIALIZED (
        SELECT c_custkey AS id, {_LAT} AS lat, {_LON} AS lon
        FROM customer
    ), cells AS MATERIALIZED (
        SELECT id, lat, lon,
               CAST(floor(lat / {_CELL}) AS BIGINT) AS cy,
               CAST(floor(lon / {_CELL}) AS BIGINT) AS cx
        FROM pts
    ), probe AS (
        SELECT * FROM cells WHERE id % 50 = 0
    ), cand AS (
        SELECT p.id AS probe_id, c.id AS cand_id,
               p.lat AS plat, p.lon AS plon, c.lat AS clat, c.lon AS clon
        FROM probe p
        CROSS JOIN range(-1, 2) dy(y)
        CROSS JOIN range(-1, 2) dx(x)
        JOIN cells c ON c.cy = p.cy + dy.y AND c.cx = p.cx + dx.x
        WHERE c.id <> p.id
    )
    SELECT probe_id, cand_id, dist_m FROM (
        SELECT probe_id, cand_id,
               {floor_eps_sql(_haversine_m_sql('plat', 'plon', 'clat', 'clon'))} AS dist_m
        FROM cand
    ) WHERE dist_m <= {int(_RADIUS_M)}
    """,
)
def geo_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join, grid-bucketed: find every point within 50 km
    of each probe point WITHOUT an all-pairs cross join.  Points hash
    into 0.5-degree grid cells; each probe expands to its 3x3 cell
    neighborhood (a 9-row generator, covering the radius at these latitudes)
    and equi-joins candidates on the cell key; exact haversine verifies
    survivors.  This is the same candidate-then-verify shape as MinHash
    bands (H9) and sign-LSH buckets (H8b) — grid cells are spatial LSH.

    Scale shape: candidate generation is an equi-join on cell ids (one
    shuffle, skew = densest cell — salt or split hot cells exactly like
    any hot join key); verification is a per-pair projection.  At 100 TB
    the cell size tunes the candidates-per-probe ratio the way band
    count tunes LSH.  Distance emits as integer meters via
    ``floor_eps`` so round-half ties cannot split the engines."""
    cust = table(spark, sf_dir, "customer")
    lat, lon = _coords_spark(F.col("c_custkey"))
    pts = cust.select(
        F.col("c_custkey").alias("id"), lat.alias("lat"), lon.alias("lon")
    ).withColumn("cy", F.floor(F.col("lat") / _CELL)).withColumn(
        "cx", F.floor(F.col("lon") / _CELL)
    )
    probe = pts.filter(F.col("id") % 50 == 0).select(
        F.col("id").alias("probe_id"),
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
        F.explode(
            F.expr("flatten(transform(sequence(-1, 1), y -> "
                   "transform(sequence(-1, 1), x -> struct(cy + y AS cy, cx + x AS cx))))")
        ).alias("cell"),
    ).select("probe_id", "plat", "plon", F.col("cell.cy").alias("cy"), F.col("cell.cx").alias("cx"))
    cand = probe.join(pts, ["cy", "cx"]).filter(F.col("id") != F.col("probe_id"))
    hav = (
        2.0
        * _R_EARTH
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat") - F.col("plat")) / 2), 2)
                + F.cos(F.radians("plat"))
                * F.cos(F.radians("lat"))
                * F.pow(F.sin(F.radians(F.col("lon") - F.col("plon")) / 2), 2)
            )
        )
    )
    # threshold applies AFTER integer-meter rounding (the same
    # threshold-after-rounding rule the cosine keys use) so an ulp of
    # cross-engine float difference at the radius boundary cannot flip a
    # pair's inclusion
    return (
        cand.withColumn(
            "dist_m", floor_eps(hav).cast("long")
        )
        .filter(F.col("dist_m") <= int(_RADIUS_M))
        .select("probe_id", F.col("id").alias("cand_id"), "dist_m")
    )


# The as-of join and gaps-and-islands sessionization (sessionize_batch) are
# the two canonical "Spark lacks the operator, compose it from windows"
# cases (SURVEY §2 custom-operator guidance): both are single-shuffle
# window plans, no UDFs.
@register(
    "join_asof_last_click",
    "T1",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           strftime(max(CASE WHEN event_type = 'click' THEN ts END) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    '%Y-%m-%d %H:%M:%S') AS last_click_s
    FROM events
    QUALIFY event_type = 'error'
    """,
)
def join_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every error event, the most recent click at-or-before
    it by the same user.  Not a join at all in Spark terms: a running max
    over a (user, time)-ordered window — ONE shuffle on user_id, no range
    explosion, which is exactly how an as-of join should execute at 100 TB
    (a naive range self-join is quadratic per user)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    return (
        ev.withColumn("last_click", last_click)
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.date_format("last_click", "yyyy-MM-dd HH:mm:ss").alias("last_click_s"),
        )
    )


@register(
    "join_range_banded",
    "X18",
    oracle="""
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           CAST(floor(epoch(b.ts)) - floor(epoch(a.ts)) AS BIGINT) AS dt_s
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) <= 300
    """,
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join, banded: pairs of same-user events within 300 s.

    The naive plan is an inequality join — O(n^2) per user.  The banded
    rewrite buckets time into 300 s bands and replicates ONE side into its
    adjacent bands, turning the range join into an equi join on
    (user_id, band) + a cheap residual filter: each candidate pair meets on
    exactly one band key, so no dedup is needed.  This is the standard
    scalable interval-join shape (and what a time-series as-of/range engine
    does under the hood)."""
    ev = table(spark, sf_dir, "events")
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    e = ev.select("user_id", "event_id", sec.alias("sec"))
    band = F.floor(F.col("sec") / 300)
    left = e.select("user_id", F.col("event_id").alias("id_a"), F.col("sec").alias("sec_a"), band.alias("band"))
    right = e.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("sec").alias("sec_b"),
        F.explode(F.array(band - 1, band, band + 1)).alias("band"),
    )
    return (
        left.join(right, ["user_id", "band"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("sec_a") - F.col("sec_b")) <= 300)
        )
        .select("id_a", "id_b", (F.col("sec_b") - F.col("sec_a")).alias("dt_s"))
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
    "join_prefilter_hashbucket",
    "X27",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO' AND p_size <= 10
    """,
)
def join_prefilter_hashbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join runtime prefilter: the selective dim's join keys are hashed
    into coarse buckets (a one-hash Bloom filter), broadcast, and applied to
    the fact BEFORE the real join — the hand-rolled form of Spark's runtime
    bloom-filter join pruning (spark.sql.optimizer.runtime.bloomFilter.*,
    which production enables instead of this).  The prefilter passes a
    superset, the exact broadcast join then decides membership, so the
    result is identical to the plain join the oracle states — at 100 TB the
    win is fact rows dropped at the scan instead of carried to the join."""
    dim = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "PROMO") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    buckets = dim.select(
        F.pmod(F.xxhash64("p_partkey"), F.lit(8192)).alias("b")
    ).distinct()
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    prefiltered = li.join(
        F.broadcast(buckets),
        F.pmod(F.xxhash64("l_partkey"), F.lit(8192)) == F.col("b"),
        "left_semi",
    )
    return prefiltered.join(
        F.broadcast(dim), F.col("l_partkey") == F.col("p_partkey")
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n"),
    )


# --- joins (H1-H5) -----------------------------------------------------------
@register(
    "join_broadcast_hash",
    "H1",
    oracle="""
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_broadcast_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join with an explicitly broadcast small dimension.

    part is tiny relative to lineitem at every scale; broadcasting removes
    the shuffle of the 100 TB fact side entirely — the join happens map-side
    inside the lineitem scan stage."""
    li = table(spark, sf_dir, "lineitem")
    pt = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "join_sortmerge_large",
    "H2",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           round(sum(l_quantity), 2) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_sortmerge_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi join: both sides too large to broadcast at target
    scale, so shuffle both on the join key (sort-merge; hinted so local-mode
    autoBroadcast doesn't mask the cluster-scale plan).  At 100 TB this is
    the case for bucketing both tables on orderkey to pre-co-locate."""
    o = table(spark, sf_dir, "orders").hint("merge")
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@register(
    "join_left_outer",
    "H3",
    oracle="""
    SELECT c_custkey,
           count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null handling: customers with zero orders keep a
    row (count of a null column = 0, sum coalesced to 0)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@register(
    "join_semi_anti",
    "H4",
    oracle="""
    SELECT c_custkey, 'has_orders' AS status FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT c_custkey, 'no_orders' AS status FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins: existence filters that never duplicate
    the probe side (the right side is only a filter, nothing is joined in)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cond = c.c_custkey == o.o_custkey
    semi = c.join(o, cond, "left_semi").select("c_custkey", F.lit("has_orders").alias("status"))
    anti = c.join(o, cond, "left_anti").select("c_custkey", F.lit("no_orders").alias("status"))
    return semi.unionAll(anti)


@register(
    "join_multiway_star",
    "H5",
    oracle="""
    SELECT l_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1996-01-01'
    GROUP BY l_orderkey, order_date
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-table star join, TPC-H Q3 shape: selective dimension filter,
    date-range fact filters (pushed to the scans), chained equi joins,
    agg + deterministic top-k.  Catalyst reorders; the customer side is
    broadcast-eligible after its segment filter."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
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
