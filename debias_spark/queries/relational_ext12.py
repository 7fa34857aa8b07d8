"""Twelfth relational wave (X86-X89, X4c): operators the engine was still
missing as first-class keys — the skyline (Pareto-optimal set, standard
distributed local-skyline/merge), a variable-length interval-overlap
self-join (asymmetric banded replication, generalizing X18's fixed-band
point join), fixed-iteration PageRank over the co-purchase graph (with an
unrolled-CTE oracle), and the two banded sketch oracles that turn the
approx-percentile and distinct-count accuracy contracts into
driver-hash-checkable rows.

None has a reference citation: the reference (SirHooke/debias-batch-
processor) contains no joins, graphs, sketches, or multi-objective queries
at all (call-debias.py is scan->annotate->sink); all are north-star
extensions per SURVEY §2.H.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


_PR_ITERS = 5
_PR_DAMP = 0.85
_PR_TOPK = 20


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs — DuckDB replays
    the exact synchronous iteration the Spark loop performs, so the
    value-hash pins the iterative algorithm, not just one matmul."""
    ctes = [
        "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        "e0 AS (SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2)",
        """edges AS (SELECT pa AS src, pb AS dst FROM e0
                     UNION ALL SELECT pb, pa FROM e0)""",
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM deg)",
        "r0 AS (SELECT deg.src AS node, 1.0 / nn.n AS r FROM deg, nn)",
    ]
    for k in range(_PR_ITERS):
        ctes.append(f"""r{k + 1} AS (
            SELECT t.node, {1 - _PR_DAMP} / nn.n + {_PR_DAMP} * t.s AS r
            FROM (SELECT e.dst AS node, sum(rk.r / deg.d) AS s
                  FROM edges e
                  JOIN r{k} rk ON rk.node = e.src
                  JOIN deg ON deg.src = e.src
                  GROUP BY e.dst) t, nn)""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT node AS part, round(r, 6) AS pagerank
    FROM r{_PR_ITERS}
    ORDER BY round(r, 6) DESC, node
    LIMIT {_PR_TOPK}
    """
    )


@register("graph_pagerank_copurchase", "X89", oracle=_pagerank_oracle())
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph (same support>=2 edge set as
    the X67 triangles), 5 synchronous iterations at damping 0.85, top-20
    parts by rounded score — the iterative graph-analytics surface the
    engine otherwise delegates to dedup_clusters' label propagation,
    expressed as plain DataFrame joins (no graph library).

    Scale shape: the edge list materializes ONCE (localCheckpoint, same
    lineage-truncation discipline as operators/dedup.py's pointer
    jumping) with its degree pre-joined; every iteration is then one
    equi-join of edges with the current rank vector plus one dst-keyed
    aggregate — the canonical message-passing round, shuffling rank mass
    only, never the graph.  Node count enters as a broadcast 1-row
    aggregate, not a driver-side constant.  Edge construction is the
    shared basket-local build (operators/graph.py): two shuffles, no
    self-join."""
    from debias_spark.operators.graph import copurchase_edges

    und = copurchase_edges(spark, sf_dir, min_support=2)
    edges = und.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        und.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    edges_deg = edges.join(deg, "src").localCheckpoint(eager=True)
    # everything downstream reads ONLY the checkpointed edge list — deg/nn
    # spelled over `edges` would silently re-run the basket self-join every
    # iteration through the un-truncated lineage (measured 1.4-2.4 s/iter
    # on a 7k-edge graph, pure recompute)
    nodes = edges_deg.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count("*").cast("double").alias("n")).localCheckpoint(
        eager=True
    )
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for i in range(_PR_ITERS):
        inflow = (
            edges_deg.join(ranks, edges_deg["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("d")).alias("s"))
        )
        # checkpoint every SECOND round (plus the last): each eager
        # checkpoint is a full job, and per-iteration truncation measured
        # 3.15 s warm vs 2.30 s at stride 2 / 2.17 s end-only (min-of-3,
        # sf0.1); stride 2 keeps the lineage depth bounded for long
        # iteration counts — the same O(1)-depth discipline as
        # operators/dedup.py's pointer jumping — at ~6% over end-only
        ranks = inflow.crossJoin(F.broadcast(nn)).select(
            F.col("dst").alias("node"),
            (F.lit(1 - _PR_DAMP) / F.col("n") + F.lit(_PR_DAMP) * F.col("s")).alias("r"),
        )
        if i % 2 == 1 or i == _PR_ITERS - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return (
        ranks.select("node", F.round("r", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), F.asc("node"))
        .limit(_PR_TOPK)
        .select(F.col("node").alias("part"), "pagerank")
    )


def _skyline_batches(
    batches: Iterator[pd.DataFrame], candidate_cap: int | None = None
) -> Iterator[pd.DataFrame]:
    """Partition-local skyline of (price_cents minimize, p_size maximize).

    Sort by (price ascending, size descending); a point survives iff its
    size strictly exceeds the running max size of every earlier point —
    earlier means cheaper, or same price with larger-or-equal size, which
    is exactly the dominance order.  Duplicate value pairs collapse to one
    representative here; the caller re-expands via a value join, so
    dropping intra-partition duplicates is harmless.

    ``candidate_cap`` guards the PHASE-2 (single-task global merge) use:
    on random 2-D data each partition skyline is O(log n) survivors, but
    ADVERSARIAL anti-correlated data (price falling exactly as size
    rises) keeps every point on the frontier, silently turning the merge
    task into the bottleneck — fail fast with the remedy instead."""
    parts = [b for b in batches if len(b)]
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True)
    if candidate_cap is not None and len(pdf) > candidate_cap:
        raise ValueError(
            f"skyline merge received {len(pdf)} candidates (cap "
            f"{candidate_cap}): the data is heavily anti-correlated, so "
            "the single-task merge would be the scaling bottleneck — "
            "switch to a grid/angular-partitioned skyline for this input"
        )
    pdf = pdf.sort_values(["price_cents", "p_size"], ascending=[True, False])
    prev_max = pdf["p_size"].cummax().shift(1, fill_value=-1)
    yield pdf[pdf["p_size"] > prev_max]


@register(
    "part_skyline_pareto",
    "X86",
    oracle=f"""
    WITH p AS (
        SELECT p_partkey,
               {cents_sql("p_retailprice")} AS price_cents,
               p_size
        FROM part
    )
    SELECT a.p_partkey, a.price_cents, a.p_size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
          AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
    )
    """,
)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of parts: cheapest-for-their-size parts
    (minimize retail price, maximize size); a part is dominated if another
    is no worse on both axes and strictly better on one.

    Scale shape — the textbook two-phase distributed skyline: phase 1
    computes the skyline of each input partition independently (Arrow
    batch, no shuffle; a random partition's 2-D skyline is O(log n)
    points, so this is a massive reducer), phase 2 merges the surviving
    candidates on a single task — valid because the global skyline is a
    subset of every partition-skyline union, and the same strict-dominance
    sweep over the candidate set yields exactly the global frontier.  The
    tiny value frontier then broadcast-joins back to recover every part
    row carrying a frontier (price, size) pair, including exact ties.
    Never all-pairs: the oracle's NOT EXISTS spelling is the O(n^2)
    semantics, not the plan."""
    part = table(spark, sf_dir, "part")
    vals = part.select(
        cents(F.col("p_retailprice")).alias("price_cents"),
        F.col("p_size"),
    )
    schema = "price_cents long, p_size int"
    local = vals.mapInPandas(_skyline_batches, schema)
    # phase-2 cap: 2M candidates is far beyond any plausible partition-
    # skyline union for real 2-D data (32 partitions x O(log n) points)
    # while still comfortably single-task mergeable; anti-correlated
    # inputs that exceed it fail loudly (see _skyline_batches)
    frontier = local.repartition(1).mapInPandas(
        lambda it: _skyline_batches(it, candidate_cap=2_000_000), schema
    )
    return part.join(
        F.broadcast(frontier),
        (cents(F.col("p_retailprice")) == F.col("price_cents"))
        & (part["p_size"] == frontier["p_size"]),
    ).select("p_partkey", "price_cents", part["p_size"])


@register(
    "agg_percentiles_approx_banded",
    "X4c",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(floor(count(*) * 0.48) AS BIGINT) AS p50_lo_rank,
           CAST(ceiling(count(*) * 0.52) AS BIGINT) AS p50_hi_rank,
           CAST(floor(count(*) * 0.88) AS BIGINT) AS p90_lo_rank,
           CAST(ceiling(count(*) * 0.92) AS BIGINT) AS p90_hi_rank,
           TRUE AS p50_in_band,
           TRUE AS p90_in_band
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles_approx_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-banded oracle for the approx-percentile sketch (upgrades
    X4b's rows-only evidence to a value-hash row): the sketch estimate
    itself is engine-specific and never leaves the query; what IS emitted
    — and what DuckDB can assert — is whether the estimate's exact rank
    lands inside a ±2% rank band, which the GK sketch at accuracy=10000
    guarantees (rank error <= n/10000 << 0.02n) for any input.

    Two passes, both scale-clean: (1) per-group sketch aggregate (mergeable
    bounded state, map-side partials), (2) broadcast the tiny per-group
    estimates back over the fact table and count values strictly below /
    at-or-below each estimate — exact rank bounds, no sort.  In-band is
    count(v < est) <= hi_rank AND count(v <= est) >= lo_rank; the oracle
    states the band arithmetic from exact counts and TRUE literals, so a
    sketch regression (or a broken rank contract) breaks the hash."""
    li = table(spark, sf_dir, "lineitem")
    est = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("a50"),
        F.expr("approx_percentile(l_extendedprice, 0.9, 10000)").alias("a90"),
    )
    j = li.join(F.broadcast(est), "l_returnflag")
    counted = j.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("l_quantity") < F.col("a50")).cast("long")).alias("lt50"),
        F.sum((F.col("l_quantity") <= F.col("a50")).cast("long")).alias("le50"),
        F.sum((F.col("l_extendedprice") < F.col("a90")).cast("long")).alias("lt90"),
        F.sum((F.col("l_extendedprice") <= F.col("a90")).cast("long")).alias("le90"),
    )
    n = F.col("n_rows")
    # literal band factors, spelled identically to the oracle's so the two
    # engines floor/ceil the exact same doubles (0.5 - 0.02 in driver-side
    # Python is 0.48000000000000004 — NOT the double the SQL literal 0.48
    # denotes)
    bounds = {
        "p50_lo_rank": F.floor(n * 0.48),
        "p50_hi_rank": F.ceiling(n * 0.52),
        "p90_lo_rank": F.floor(n * 0.88),
        "p90_hi_rank": F.ceiling(n * 0.92),
    }
    return counted.select(
        "l_returnflag",
        "n_rows",
        *[v.alias(k) for k, v in bounds.items()],
        ((F.col("lt50") <= bounds["p50_hi_rank"]) & (F.col("le50") >= bounds["p50_lo_rank"])).alias("p50_in_band"),
        ((F.col("lt90") <= bounds["p90_hi_rank"]) & (F.col("le90") >= bounds["p90_lo_rank"])).alias("p90_in_band"),
    )


@register(
    "agg_distinct_sketch_banded",
    "X88",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS acd_in_band,
           TRUE AS hll_in_band
    FROM events GROUP BY event_type
    """,
)
def agg_distinct_sketch_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-oracle upgrade for the distinct-count sketches (H13's
    approx_count_distinct and X28's Datasketches HLL), same pattern as
    X4c: the estimates are engine-specific and stay inside the query;
    what's emitted is the exact per-group distinct count plus whether
    each estimate lands within ±5% of it — far outside the configured
    error (HLL++ at rsd=0.01 → 5 sigma; HLL sketch at lgK=14,
    rsd≈0.8% → 6 sigma), and deterministic for any fixed input, so the
    value-hash is stable however the driver regenerates the data.

    The exact count is itself the scale-honest spelling: count(DISTINCT)
    per group is a two-level hash aggregate (distinct pairs, then count),
    not a sort."""
    ev = table(spark, sf_dir, "events")
    # two aggregation passes joined on the group key: mixing countDistinct
    # with non-distinct aggregates forces Catalyst's Expand rewrite (every
    # input row replicated per aggregate family, sketches pushed onto the
    # expanded stream) — measured 2.4 s vs 1.0 s split at sf0.1
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("acd"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias(
            "hll"
        ),
    )
    agg = exact.join(sketches, "event_type")
    def in_band(est):
        return (
            F.abs(est - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.05)
        )
    return agg.select(
        "event_type",
        "exact_users",
        in_band(F.col("acd")).alias("acd_in_band"),
        in_band(F.col("hll")).alias("hll_in_band"),
    )


@register(
    "lineitem_interval_overlap",
    "X87",
    oracle="""
    WITH v AS (
        SELECT l_partkey,
               l_orderkey * 8 + l_linenumber AS tb,
               date_diff('day', DATE '1970-01-01', l_shipdate) AS s,
               date_diff('day', DATE '1970-01-01', l_shipdate)
                   + (CAST(l_quantity AS INT) % 7) AS e
        FROM lineitem
    )
    SELECT a.l_partkey,
           count(*) AS n_pairs,
           CAST(sum(least(a.e, b.e) - greatest(a.s, b.s) + 1) AS BIGINT)
               AS overlap_days_total
    FROM v a JOIN v b
      ON a.l_partkey = b.l_partkey AND a.tb < b.tb
     AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.l_partkey
    """,
)
def lineitem_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: pairs of shipments of the same part
    whose availability windows [shipdate, shipdate + (qty mod 7) days]
    overlap, aggregated per part (pair count + total overlapping days).

    This generalizes X18 (join_range_banded): there the joined objects are
    POINTS and a fixed band radius makes each pair meet in exactly one
    band; here the objects are VARIABLE-LENGTH intervals.  Asymmetric
    banding keeps the replication to ONE side: the "cover" side is
    replicated into every 7-day band its interval touches (bounded
    fan-out: max interval 6 days => at most 2 bands), the "start" side
    sits only in the band of its own start.  For an overlapping pair, the
    later start lies inside the earlier-starting interval, hence inside
    one of its cover bands — so requiring start >= cover-start (tb as the
    equal-start tiebreak) finds every unordered pair in exactly one
    (band, orientation), with no dedup residual and half the shuffled
    rows of the symmetric spelling.  An equi-join on (part, band)
    Catalyst can shuffle-partition, AQE handling part skew."""
    band_days = 7
    li = table(spark, sf_dir, "lineitem")
    s = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    v = li.select(
        "l_partkey",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("tb"),
        s.alias("s"),
        (s + F.col("l_quantity").cast("int") % band_days).alias("e"),
    )
    cover = v.select(
        "l_partkey",
        F.col("tb").alias("tb_c"), F.col("s").alias("s_c"), F.col("e").alias("e_c"),
        F.explode(
            F.sequence(
                F.floor(F.col("s") / band_days), F.floor(F.col("e") / band_days)
            )
        ).alias("band"),
    )
    start = v.select(
        "l_partkey",
        F.col("tb").alias("tb_s"), F.col("s").alias("s_s"), F.col("e").alias("e_s"),
        F.floor(F.col("s") / band_days).alias("band"),
    )
    # both join inputs are fact-table frames — at 100 TB neither side
    # broadcasts, so pin the shuffle-hash strategy the real cluster would
    # use instead of letting small-SF stats pick a broadcast
    pairs = (
        cover.join(start.hint("shuffle_hash"), ["l_partkey", "band"])
        .filter(
            # the start side is the LATER-starting interval of the pair
            # (tb breaks equal-start ties) and must begin inside the
            # cover interval — that IS the overlap test
            ((F.col("s_s") > F.col("s_c"))
             | ((F.col("s_s") == F.col("s_c")) & (F.col("tb_s") > F.col("tb_c"))))
            & (F.col("s_s") <= F.col("e_c"))
        )
    )
    overlap = F.least("e_c", "e_s") - F.col("s_s") + F.lit(1)
    return pairs.groupBy("l_partkey").agg(
        F.count("*").alias("n_pairs"),
        F.sum(overlap).cast("long").alias("overlap_days_total"),
    )


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
