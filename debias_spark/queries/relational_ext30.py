"""Round-7 wave 2 (Z51, Z53): HLL sketch set-INTERSECTION cardinality
with an error band, and an AQE skew-join split proof over a
deliberately skewed join key.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no sketches or joins; north-star extensions per SURVEY §2.H / §8
(r6 verdict item 8: sketch set-operations beyond X28's union, and
engine-native skew handling alongside the manual join_salted_hotkey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import register
from debias_spark.session import pinned_confs


@register(
    "agg_hll_intersection_banded",
    "Z51",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view')
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS exact_click_users,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS exact_view_users,
           CAST((SELECT count(*) FROM a JOIN b USING (user_id)) AS BIGINT)
               AS exact_both,
           TRUE AS intersection_in_band
    """,
)
def agg_hll_intersection_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set-intersection cardinality by inclusion-exclusion:
    |A∩B| ≈ est(A) + est(B) - est(A∪B), where A = click users, B = view
    users, and the union estimate comes from hll_union over the two
    per-set sketches (never a re-scan of raw ids).  This is the sketch
    algebra a 100 TB audience-overlap query runs: per-segment sketches
    are maintained incrementally (bytes each), and ANY pairwise overlap
    is three estimate reads — no id-list join at query time.

    Banded value oracle (the X28/X4c technique): the estimates never
    leave the query; emitted are the exact cardinalities plus whether
    the inclusion-exclusion estimate lands within ±10% of the exact
    intersection.  lgConfigK=14 gives ~0.8% standard error per sketch;
    inclusion-exclusion compounds three estimates, and the band covers
    that compounding — the margin documents the known weakness of I-E
    for SMALL intersections (here the overlap is a large fraction of
    either set, the regime where I-E is reliable; a production system
    switches to theta sketches for true set ops, which this Spark build
    does not expose).

    Scale shape: two filtered sketch aggregates + one exact-join check,
    all map-side-combined; output is one row."""
    ev = table(spark, sf_dir, "events")
    sk = ev.agg(
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id")), F.lit(14)
        ).alias("ska"),
        F.hll_sketch_agg(
            F.when(F.col("event_type") == "view", F.col("user_id")), F.lit(14)
        ).alias("skb"),
    ).select(
        F.hll_sketch_estimate("ska").alias("est_a"),
        F.hll_sketch_estimate("skb").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("ska", "skb")).alias("est_u"),
    )
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    exact = (
        a.agg(F.count("*").alias("exact_click_users"))
        .crossJoin(F.broadcast(b.agg(F.count("*").alias("exact_view_users"))))
        .crossJoin(
            F.broadcast(a.join(b, "user_id").agg(F.count("*").alias("exact_both")))
        )
    )
    est_i = F.col("est_a") + F.col("est_b") - F.col("est_u")
    return exact.crossJoin(F.broadcast(sk)).select(
        F.col("exact_click_users").cast("long").alias("exact_click_users"),
        F.col("exact_view_users").cast("long").alias("exact_view_users"),
        F.col("exact_both").cast("long").alias("exact_both"),
        (
            F.abs(est_i - F.col("exact_both"))
            <= F.col("exact_both") * F.lit(0.10)
        ).alias("intersection_in_band"),
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
