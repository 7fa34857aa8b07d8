"""Round-6 relational wave 5 (X125-X126): two-sample distribution tests —
Kolmogorov-Smirnov statistic and Mann-Whitney U — the nonparametric
comparisons an experimentation/quality platform runs next to the z-test
(X89 `abtest_conversion_ztest`) and chi-square (X116) keys.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from debias_spark.catalog import table
from debias_spark.numeric import cents_sql, floor_eps_sql
from debias_spark.registry import register


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
    "orders_mannwhitney_u",
    "X126",
    oracle="""
    WITH s AS (
        SELECT CAST(floor(value * 100) AS BIGINT) AS x,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
        FROM events
        WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ), per_x AS (
        SELECT x, sum(g) AS c1, count(*) AS cnt FROM s GROUP BY x
    ), ranked AS (
        SELECT c1, cnt,
               coalesce(sum(cnt) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM per_x
    ), agg AS (
        SELECT sum(c1) AS n1,
               sum(cnt - c1) AS n2,
               sum(c1 * (2 * cum_before + cnt + 1)) AS r1_x2
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(n1 * n2 AS BIGINT) AS eu1_x2
    FROM agg
    """,
)
def orders_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between purchase-event and
    click-event values, with midrank tie handling — the standard
    nonparametric "is one group stochastically larger" test.

    Everything stays in INTEGER arithmetic: values bin to centi-units,
    midranks enter doubled (2R_1 = sum over bins of c1*(2*cum_before +
    cnt + 1), exact because the average rank of a tie group of size cnt
    starting after cum_before items is (2*cum_before + cnt + 1)/2), and
    the emitted statistic is 2*U_1 = 2*R_1 - n1*(n1+1) next to its null
    expectation 2*E[U_1] = n1*n2.  No floating point anywhere — the hash
    match is exact by construction.

    Scale: same bounded-bin ECDF design as X125 — the global-order window
    runs over domain-bounded bins, not rows; the raw scan reduces via an
    ordinary partial-aggregating groupBy.

    Plan shape: pushed IN filter -> hash aggregate on bins -> one-task
    window over bins -> single-row reduction."""
    return spark.sql(
        """
        WITH s AS (
            SELECT CAST(floor(value * 100) AS BIGINT) AS x,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g
            FROM {events}
            WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        ), per_x AS (
            SELECT x, sum(g) AS c1, count(*) AS cnt FROM s GROUP BY x
        ), ranked AS (
            SELECT c1, cnt,
                   coalesce(sum(cnt) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM per_x
        ), agg AS (
            SELECT sum(c1) AS n1,
                   sum(cnt - c1) AS n2,
                   sum(c1 * (2 * cum_before + cnt + 1)) AS r1_x2
            FROM ranked
        )
        SELECT CAST(n1 AS BIGINT) AS n1,
               CAST(n2 AS BIGINT) AS n2,
               CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
               CAST(n1 * n2 AS BIGINT) AS eu1_x2
        FROM agg
        """,
        events=table(spark, sf_dir, "events"),
    )


# Monthly revenue is consumed twice by the pair self-join: the oracle
# materializes it; the Spark side localCheckpoints the tiny (about 80-row)
# frame so the orders scan+aggregate runs once.
_THEILSEN_MONTHLY_SQL = f"""
SELECT ({{year}} - 1995) * 12 + {{month}} - 1 AS m,
       sum({cents_sql("o_totalprice")}) AS cents
FROM {{orders}}
GROUP BY m
"""

_THEILSEN_TAIL_SQL = f"""
WITH {{monthly_cte}}pairs AS (
    SELECT CAST(b.cents - a.cents AS DOUBLE) / (b.m - a.m) AS slope
    FROM {{monthly}} a JOIN {{monthly}} b ON b.m > a.m
), ranked AS (
    SELECT slope,
           row_number() OVER (ORDER BY slope) AS rn,
           count(*) OVER () AS n
    FROM pairs
)
SELECT CAST(max(n) AS BIGINT) AS n_pairs,
       {floor_eps_sql("max(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT)"
                      " THEN slope END)", 100)} AS theilsen_slope_centi
FROM ranked
"""


@register(
    "orders_theilsen_trend",
    "X127",
    oracle=_THEILSEN_TAIL_SQL.format(
        monthly_cte=(
            "monthly AS MATERIALIZED ("
            + _THEILSEN_MONTHLY_SQL.format(
                year="date_part('year', o_orderdate)",
                month="date_part('month', o_orderdate)",
                orders="orders",
            )
            + "), "
        ),
        monthly="monthly",
    ),
)
def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator over monthly revenue: the median
    of all pairwise slopes (cents/month) across the ~80-month order
    history — the outlier-immune complement to the OLS fit (X82
    regr_price_vs_quantity) and the EWMA forecast (Z28); one promotional
    spike month barely moves it where it would drag a least-squares line.

    Determinism: every slope is an int-difference / int-difference IEEE
    division (bit-identical on both engines), and the median is an exact
    order statistic (rank floor((n+1)/2) via row_number — the lower
    middle for even n), not an average of two doubles.  Emitted in
    integer centi-units per the repo floor rule.

    Scale: the pair join is over MONTHS, not orders — the raw scan
    reduces via an ordinary partial-aggregating groupBy to a domain-
    bounded ~80-row frame (localCheckpointed once, self-joined
    broadcast-style), so 100x more orders changes only the scan, never
    the O(months^2) = ~3.2k-row pair stage."""
    monthly = spark.sql(
        _THEILSEN_MONTHLY_SQL.format(
            year="year(o_orderdate)",
            month="month(o_orderdate)",
            orders="{orders}",
        ),
        orders=table(spark, sf_dir, "orders"),
    ).localCheckpoint(eager=True)
    return spark.sql(
        _THEILSEN_TAIL_SQL.format(monthly_cte="", monthly="{monthly}"),
        monthly=monthly,
    )
