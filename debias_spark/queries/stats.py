"""Statistical tests and estimators: A/B z-test, chi-square, KS and
Mann-Whitney two-sample tests, Spearman and Kendall correlation,
per-group regression and subsample confidence intervals.

The reference reports point estimates only (analytics/parser.py
aggregates); north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.operators.dedup import MINHASH_P
from debias_spark.registry import register


# The reference reports point estimates only (analytics/parser.py
# aggregates); this key adds the uncertainty a 100 TB report needs without
# RNG state.

# ---------------------------------------------------------------------------
# X165: deterministic subsample confidence interval (RNG-free bootstrap)
# ---------------------------------------------------------------------------
_N_REP = 32  # subsample replicas


_KEEP_MOD = 5  # each replica keeps ~80% of rows (hash % 5 != 0)


_LO_RANK, _HI_RANK = 2, 31  # order statistics of the 32 replica means


def _coin_rows() -> str:
    """(replica, a, bb) rows of the Carter-Wegman affine coin family —
    the same deterministic parameter family the MinHash permutations
    use, so the coin is exact integer arithmetic on both engines (the
    md5-per-row variant measured 5.1s at sf0.1; this one ~1s)."""
    from debias_spark.operators.dedup import minhash_params

    return ", ".join(
        f"({i}, {a}, {bb})" for i, (a, bb) in enumerate(minhash_params(_N_REP))
    )


@register(
    "stats_subsample_ci",
    "X165",
    oracle=f"""
    WITH dims(b, a, bb) AS (VALUES {_coin_rows()}),
    mem AS (
        SELECT CAST(b AS BIGINT) AS b, {cents_sql("o_totalprice")} AS cents
        FROM orders, dims
        WHERE ((o_orderkey % {MINHASH_P}) * a + bb) % {MINHASH_P}
              % {_KEEP_MOD} <> 0
    ), means AS (
        SELECT b, CAST(sum(cents) AS BIGINT) // count(*) AS m
        FROM mem GROUP BY b
    ), ranked AS (
        SELECT m, row_number() OVER (ORDER BY m) AS rn FROM means
    ), full_ AS (
        SELECT CAST(sum({cents_sql("o_totalprice")}) AS BIGINT) // count(*) AS mean_cents
        FROM orders
    )
    SELECT CAST({_N_REP} AS BIGINT) AS n_replicas,
           f.mean_cents,
           (SELECT m FROM ranked WHERE rn = {_LO_RANK}) AS ci_lo_cents,
           (SELECT m FROM ranked WHERE rn = {_HI_RANK}) AS ci_hi_cents,
           (SELECT m FROM ranked WHERE rn = {_HI_RANK})
               - (SELECT m FROM ranked WHERE rn = {_LO_RANK}) AS spread_cents
    FROM full_ f
    """,
)
def stats_subsample_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic subsample confidence interval for the mean order
    value: 32 replicas, each keeping the ~80% of orders whose
    Carter-Wegman affine coin ((key % P) * a_r + b_r) % P clears a
    modulus — an RNG-FREE bootstrap (hash coins instead of random
    state, the docs_importance_resample doctrine, but in pure integer
    arithmetic: the md5-per-(row,replica) variant cost 5.1s at sf0.1,
    this one ~1s for identical statistical purpose), so the interval is
    reproducible run-to-run, engine-to-engine, and under any
    partitioning.  The CI is the [2nd, 31st] order statistic of the 32
    replica means; everything is exact integer cents (means via integer
    division), so no float ever crosses the engines.

    Scale shape: the replica fan-out is a 32x map-side explode feeding
    ONE mergeable grouped aggregation onto 32 rows — the corpus is
    scanned once, never resampled or sorted; the order statistics run on
    a 32-row frame.  This is how a 100 TB report attaches uncertainty
    without a shuffle beyond its own rollup."""
    from debias_spark.operators.dedup import minhash_params

    orders = table(spark, sf_dir, "orders")
    coins = "array(" + ", ".join(
        f"struct({i} AS b, {a} AS a, {bb} AS bb)"
        for i, (a, bb) in enumerate(minhash_params(_N_REP))
    ) + ")"
    ex = orders.select(
        cents(F.col("o_totalprice")).alias("cents"),
        "o_orderkey",
        F.explode(F.expr(coins)).alias("c"),
    ).filter(
        F.expr(
            f"((o_orderkey % {MINHASH_P}) * c.a + c.bb) % {MINHASH_P}"
            f" % {_KEEP_MOD} != 0"
        )
    ).select("cents", F.col("c.b").alias("b"))
    means = ex.groupBy("b").agg(F.expr("sum(cents) div count(*)").alias("m"))
    stats = means.agg(
        F.sort_array(F.collect_list("m")).alias("ms")
    ).select(
        F.element_at("ms", _LO_RANK).alias("ci_lo_cents"),
        F.element_at("ms", _HI_RANK).alias("ci_hi_cents"),
    )
    full = orders.agg(
        F.expr(f"sum({cents_sql('o_totalprice')}) div count(*)").alias("mean_cents")
    )
    return full.crossJoin(F.broadcast(stats)).select(
        F.lit(_N_REP).cast("long").alias("n_replicas"),
        "mean_cents",
        "ci_lo_cents",
        "ci_hi_cents",
        (F.col("ci_hi_cents") - F.col("ci_lo_cents")).alias("spread_cents"),
    )


@register(
    "abtest_chi2_independence",
    "X116",
    oracle=f"""
    WITH cell AS MATERIALIZED (
        SELECT event_type, isodow(ts) AS dow, count(*)::DOUBLE AS o
        FROM events GROUP BY event_type, dow
    ), rt AS (SELECT event_type, sum(o) AS r FROM cell GROUP BY event_type),
    ct AS (SELECT dow, sum(o) AS c FROM cell GROUP BY dow),
    n AS (SELECT sum(o) AS n FROM cell),
    terms AS (
        SELECT (cell.o - rt.r * ct.c / n.n) * (cell.o - rt.r * ct.c / n.n)
               / (rt.r * ct.c / n.n) AS t
        FROM cell JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
    )
    SELECT {floor_eps_sql("sum(t)", 10000)} AS chi2_e4,
           (SELECT count(*) FROM rt) AS n_types,
           (SELECT count(*) FROM ct) AS n_dows,
           CAST(((SELECT count(*) FROM rt) - 1)
                * ((SELECT count(*) FROM ct) - 1) AS BIGINT) AS dof
    FROM terms
    """,
)
def abtest_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for event_type x ISO-weekday —
    the categorical complement of the z-test key (X_abtest): is traffic
    mix independent of weekday?  chi2 = sum (O-E)^2/E with E from the
    broadcast row/column marginals.

    Note the weekday spelling: Spark weekday() (0=Mon) + 1 equals
    DuckDB isodow() (1=Mon) — dayofweek() does NOT line up across the
    engines (Sunday=1 vs 0) and is avoided deliberately.

    Scale shape: one cell aggregation over the fact table (map-side
    combined), then every marginal is a tiny broadcast — the O(cells)
    term sum never re-touches the events.  Deterministic float path:
    each term is computed from identical doubles in both engines, summed
    over a handful of cells, emitted floor-eps."""
    ev = table(spark, sf_dir, "events")
    cell = ev.groupBy(
        "event_type", (F.weekday("ts") + 1).alias("dow")
    ).agg(F.count("*").cast("double").alias("o"))
    rt = cell.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cell.groupBy("dow").agg(F.sum("o").alias("c"))
    n = cell.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    terms = (
        cell.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .select(((F.col("o") - e) * (F.col("o") - e) / e).alias("t"))
    )
    n_types = rt.agg(F.count("*").alias("n_types"))
    n_dows = ct.agg(F.count("*").alias("n_dows"))
    return (
        terms.agg(
            floor_eps(F.sum("t"), 10000)
            .cast("long")
            .alias("chi2_e4")
        )
        .crossJoin(F.broadcast(n_types))
        .crossJoin(F.broadcast(n_dows))
        .select(
            "chi2_e4",
            "n_types",
            "n_dows",
            ((F.col("n_types") - 1) * (F.col("n_dows") - 1))
            .cast("long")
            .alias("dof"),
        )
    )


# per_x (one domain-bounded row per currency bin) is consumed by BOTH the
# cumulative window and the totals aggregate: the DuckDB oracle
# materializes it (memory rule 4), the Spark side localCheckpoints the
# tiny binned frame so the orders scan+aggregate runs once (rule 5:
# the recomputed stage contains a shuffle).
_KS_BINS_SQL = """
SELECT x, sum(g) AS c1, sum(1 - g) AS c2
FROM (
    SELECT CAST(floor(o_totalprice) AS BIGINT) AS x,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END AS g
    FROM {orders}
) GROUP BY x
"""


_KS_TAIL_SQL = f"""
WITH {{bins_cte}}cum AS (
    SELECT sum(c1) OVER (ORDER BY x) AS f1,
           sum(c2) OVER (ORDER BY x) AS f2
    FROM {{bins}}
), tot AS (
    SELECT sum(c1) AS n1, sum(c2) AS n2 FROM {{bins}}
)
SELECT CAST(n1 AS BIGINT) AS n1,
       CAST(n2 AS BIGINT) AS n2,
       {floor_eps_sql("max(abs(CAST(f1 AS DOUBLE) / n1"
                      " - CAST(f2 AS DOUBLE) / n2))", 1000000)} AS ks_micro
FROM cum, tot
GROUP BY n1, n2
"""


@register(
    "abtest_ks_statistic",
    "X125",
    oracle=_KS_TAIL_SQL.format(
        bins_cte=(
            "bins AS MATERIALIZED ("
            + _KS_BINS_SQL.format(orders="orders")
            + "), "
        ),
        bins="bins",
    ),
)
def abtest_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: does the order-value
    distribution of urgent-priority orders differ from the rest?
    D = max_x |F_urgent(x) - F_rest(x)| over the pooled empirical CDFs.

    Values are binned to whole currency units BEFORE the ECDF
    (floor(o_totalprice)) — that is the 100 TB design decision: the
    cumulative window then runs over at most `price-range` rows (a few
    hundred thousand, bounded by the DOMAIN, not the data volume), so the
    single-task global-order window is a constant-size reduction no matter
    how many orders feed it.  The per-bin group counts before it are an
    ordinary map-side-combinable hash aggregate.

    Float discipline: f1/n1 is an int/int IEEE division (deterministic on
    both engines), and the statistic is emitted as integer micro-units via
    ``floor_eps_sql`` — no raw double reaches the result hash.

    Plan shape: scan -> hash aggregate (shuffle on ~bounded bins) ->
    one-task window over bins -> broadcast 1-row total -> 1-row result."""
    bins = spark.sql(
        _KS_BINS_SQL, orders=table(spark, sf_dir, "orders")
    ).localCheckpoint(eager=True)
    return spark.sql(_KS_TAIL_SQL.format(bins_cte="", bins="{bins}"), bins=bins)


@register(
    "stats_spearman_corr",
    "X139",
    oracle=f"""
    WITH parts AS (
        SELECT l_partkey,
               sum(CAST(l_quantity AS BIGINT)) AS x,
               sum({cents_sql("l_extendedprice")}) AS y
        FROM lineitem GROUP BY 1
    ), ranked AS (
        SELECT 2 * rank() OVER (ORDER BY x)
                   + count(*) OVER (PARTITION BY x) - 1 AS rx,
               2 * rank() OVER (ORDER BY y)
                   + count(*) OVER (PARTITION BY y) - 1 AS ry
        FROM parts
    ), moments AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(rx AS HUGEINT)) AS sx,
               sum(CAST(ry AS HUGEINT)) AS sy,
               sum(CAST(rx AS HUGEINT) * rx) AS sxx,
               sum(CAST(ry AS HUGEINT) * ry) AS syy,
               sum(CAST(rx AS HUGEINT) * ry) AS sxy
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_parts,
           {floor_eps_sql("CAST(n * sxy - sx * sy AS DOUBLE)"
                          " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                          " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))", 1000000)}
               AS spearman_e6
    FROM moments
    """,
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-part total quantity and
    total revenue — the monotone-association check (Pearson on average
    ranks, the tie-aware definition).  Every rank is held in integer
    HALF-units (2*avg_rank = 2*rank_min + tie_count - 1, exact for any
    tie pattern), the five moments accumulate in exact decimal/hugeint
    arithmetic, and the only floats are the final correctly-rounded
    casts, sqrts, one multiply and one divide — IEEE-identical on both
    engines from identical exact integers, so the floor-eps e6 emission
    is bit-stable (no transcendentals anywhere).

    Scale shape: the fact scan collapses to the part dimension first
    (one map-side-combined groupBy, ~1/30 of fact rows); ranks come from
    the two-pass bucketed prefix-count over each column's DISTINCT-value
    frame (operators/prefixsum.bucketed_cumsum — bucket cutoffs from a
    mergeable percentile aggregate, cumulative counts within buckets,
    tiny per-bucket offset frame), so NO single-partition window touches
    a dimension-sized frame anywhere (r6 verdict item 3): for a distinct
    value v, cum = #rows with value <= v, hence the tie-aware half-rank
    2*rank_min + ties - 1 = 2*cum - ties + 1 exactly; the half-ranks
    join back to the parts frame on the value, and the moment aggregate
    is one row out."""
    from debias_spark.operators.prefixsum import bucketed_cumsum

    li = table(spark, sf_dir, "lineitem")
    parts = (
        li.select(
            "l_partkey",
            F.col("l_quantity").cast("bigint").alias("q"),
            cents(F.col("l_extendedprice")).alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("q").alias("x"), F.sum("cents").alias("y"))
    )

    def half_ranks(col: str, out: str):
        vals = parts.groupBy(col).agg(F.count("*").alias("_cnt"))
        c = bucketed_cumsum(
            vals, value_col="_cnt", order_col=col, tiebreak_col=col,
            descending=False,
        )
        return c.select(
            col, (2 * F.col("cum") - F.col("_cnt") + 1).alias(out)
        )

    ranked = (
        parts.join(half_ranks("x", "rx"), "x")
        .join(half_ranks("y", "ry"), "y")
        .select("rx", "ry")
    )

    def dec(c):
        return F.col(c).cast("decimal(19,0)")

    m = ranked.agg(
        F.count("*").cast("decimal(19,0)").alias("n"),
        F.sum(dec("rx")).alias("sx"),
        F.sum(dec("ry")).alias("sy"),
        F.sum(dec("rx") * dec("rx")).alias("sxx"),
        F.sum(dec("ry") * dec("ry")).alias("syy"),
        F.sum(dec("rx") * dec("ry")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    da = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    db = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        F.col("n").cast("long").alias("n_parts"),
        floor_eps(num / (F.sqrt(da) * F.sqrt(db)), 1000000)
        .cast("long")
        .alias("spearman_e6"),
    )


@register(
    "stats_kendall_tau",
    "X37",
    oracle=f"""
    WITH nat AS MATERIALIZED (
        SELECT c.c_nationkey AS nk,
               count(DISTINCT c.c_custkey) AS x,
               sum({cents_sql("o.o_totalprice")}) AS y
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ), p AS (
        SELECT sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END) AS c,
               sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END) AS d,
               sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS tx,
               sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS ty,
               count(*) AS n0
        FROM nat a JOIN nat b ON a.nk < b.nk
    )
    SELECT CAST((SELECT count(*) FROM nat) AS BIGINT) AS n_nations,
           CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           {floor_eps_sql("CAST(c - d AS DOUBLE)"
                          " / (sqrt(CAST(n0 - tx AS DOUBLE))"
                          " * sqrt(CAST(n0 - ty AS DOUBLE)))", 1000000)} AS tau_b_e6
    FROM p
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank concordance between per-nation customer count
    and total order revenue — the third member of the correlation family
    (Pearson = regr_price_vs_quantity, Spearman = stats_spearman_corr):
    robust to monotone transforms AND interpretable as a probability of
    concordance.  tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)) with n1/n2
    the x/y-tied pair counts; every count is an exact integer and the
    only floats are the final correctly-rounded casts/sqrts/divide —
    bit-identical on both engines, floor-eps e6 emission (expression
    rule 18, no transcendentals).

    Scale shape: the fact tables collapse to the 25-row nation dimension
    first (map-side-combined aggregates); the O(n^2) pair join is 300
    rows on a broadcast self-join — pair counting is quadratic ONLY in
    the bounded dimension, never in fact rows.  (For an unbounded
    dimension the 100 TB plan is merge-sort inversion counting over a
    range-partitioned sort; documented, not needed at nation grain.)"""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    nat = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.countDistinct("c_custkey").alias("x"),
            F.sum(cents(F.col("o_totalprice"))).alias("y"),
        )
        .localCheckpoint(eager=True)  # 25 rows, read by pairs AND the count
    )
    a = nat.select(
        F.col("nk").alias("nka"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = nat.select(
        F.col("nk").alias("nkb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    p = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("nka") < F.col("nkb"))
        .agg(
            F.sum((sgn > 0).cast("long")).alias("c"),
            F.sum((sgn < 0).cast("long")).alias("d"),
            F.sum((F.col("xa") == F.col("xb")).cast("long")).alias("tx"),
            F.sum((F.col("ya") == F.col("yb")).cast("long")).alias("ty"),
            F.count("*").alias("n0"),
        )
    )
    n_nat = nat.agg(F.count("*").cast("long").alias("n_nations"))
    return p.crossJoin(F.broadcast(n_nat)).select(
        "n_nations",
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        floor_eps(
            (F.col("c") - F.col("d")).cast("double")
            / (
                F.sqrt((F.col("n0") - F.col("tx")).cast("double"))
                * F.sqrt((F.col("n0") - F.col("ty")).cast("double"))
            ),
            1000000,
        )
        .cast("long")
        .alias("tau_b_e6"),
    )


@register(
    "regr_price_vs_quantity",
    "X63",
    oracle=f"""
    WITH j AS (
        SELECT p.p_brand,
               CAST(l.l_quantity AS BIGINT) AS x,
               {cents_sql("l.l_extendedprice")} AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), s AS (
        SELECT p_brand, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM j GROUP BY p_brand
    )
    SELECT p_brand, n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_cents,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
               AS intercept_cents
    FROM s
    """,
)
def regr_price_vs_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand least-squares fit of extended price (cents) on quantity
    — regr_slope/regr_intercept computed from the five exact BIGINT
    moment sums (n, Σx, Σy, Σxy, Σx²) instead of streaming covariance
    aggregates, so the partial-aggregation ORDER cannot perturb the fit:
    integer sums are associative-exact, and the one double division per
    group is the same IEEE expression in both engines.  Plan: broadcast
    part (dimension) into lineitem, map-side-combined moment aggregate.
    The BIGINT moments hold to ~sf100 of lineitem per brand; past that,
    swap Σxy/Σx² to DECIMAL(38,0) — same shape, still exact."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")).select(
        "p_brand",
        F.col("l_quantity").cast("long").alias("x"),
        cents(F.col("l_extendedprice")).alias("y"),
    )
    s = j.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)"
    return s.selectExpr(
        "p_brand",
        "n",
        f"round({slope}, 6) AS slope_cents",
        f"round((CAST(sy AS DOUBLE) - ({slope}) * CAST(sx AS DOUBLE))"
        " / CAST(n AS DOUBLE), 6) AS intercept_cents",
    )


@register(
    "abtest_conversion_ztest",
    "X64",
    oracle="""
    WITH ud AS (
        SELECT user_id % 2 AS v, user_id, CAST(ts AS DATE) AS day,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id % 2, user_id, CAST(ts AS DATE)
    ), s AS (
        SELECT v, count(*) AS n, CAST(sum(conv) AS BIGINT) AS c
        FROM ud GROUP BY v
    ), wide AS (
        SELECT max(CASE WHEN v = 0 THEN n END) AS n0,
               max(CASE WHEN v = 0 THEN c END) AS c0,
               max(CASE WHEN v = 1 THEN n END) AS n1,
               max(CASE WHEN v = 1 THEN c END) AS c1
        FROM s
    )
    SELECT n0, c0, n1, c1,
           round((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                  - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 - CAST(c0 + c1 AS DOUBLE)
                                 / CAST(n0 + n1 AS DOUBLE))
                        * (1.0 / CAST(n0 AS DOUBLE)
                           + 1.0 / CAST(n1 AS DOUBLE))), 4) AS z_score
    FROM wide
    """,
)
def abtest_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on purchase conversion between the two
    user-id-parity variants: the A/B readout every experimentation
    system computes.  The unit is a USER-DAY (did that user purchase
    that day) — per-user lifetime conversion saturates at ~100% over a
    month of data and degenerates the pooled variance to zero.  All
    inputs to the statistic are exact counts; the z expression is built
    with the identical double operation tree in both engines and rounded
    to 4 dp.  Plan: one aggregate on (user, day) with a max-flag, one
    rollup per variant, then a 2-row pivot."""
    ev = table(spark, sf_dir, "events")
    ud = (
        ev.select(
            (F.col("user_id") % 2).alias("v"),
            "user_id",
            F.to_date("ts").alias("day"),
            (F.col("event_type") == "purchase").cast("int").alias("p"),
        )
        .groupBy("v", "user_id", "day")
        .agg(F.max("p").alias("conv"))
    )
    s = ud.groupBy("v").agg(
        F.count("*").alias("n"), F.sum("conv").cast("long").alias("c")
    )
    wide = s.groupBy().agg(
        F.max(F.when(F.col("v") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("v") == 0, F.col("c"))).alias("c0"),
        F.max(F.when(F.col("v") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("v") == 1, F.col("c"))).alias("c1"),
    )
    p = "CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)"
    return wide.selectExpr(
        "n0",
        "c0",
        "n1",
        "c1",
        "round((CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
        " - CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
        f" / sqrt(({p}) * (1.0 - {p})"
        " * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 4)"
        " AS z_score",
    )
