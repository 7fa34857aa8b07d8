"""Ninth relational wave (X58-X64): warehouse/data-engineering shapes a
production lakehouse runs daily — SCD2 dimension building, small-file
compaction planning, Z-order layout keys, rolling active-user windows,
Pareto revenue concentration, per-group linear regression, and an A/B
proportion z-test.

Determinism doctrine (same as the RFM key): anything compared or rolled
up is computed in exact BIGINT arithmetic (cents, epoch micros, counts);
doubles appear only in final projections with a fixed rounding, built
from identical expression shapes in Spark and DuckDB so the IEEE results
are bit-equal.

Reference parity note: the reference app (SURVEY §2) has no relational
surface at all; these extend the §2.H mandate and are DuckDB-oracled
like every other key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


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


_COMPACT_TARGET = 8000  # chars per output file


@register(
    "docs_compaction_plan",
    "X59",
    oracle=f"""
    WITH c AS (
        SELECT source, doc_id, n_chars,
               CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_chars
        FROM documents
    )
    SELECT source, doc_id, cum_chars,
           CAST((cum_chars - n_chars) // {_COMPACT_TARGET} AS BIGINT) AS file_id
    FROM c
    """,
)
def docs_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning: assign documents to ~8 kB output
    files per source by bucketing each doc's starting byte offset
    (running total of sizes) — the bin-packing pass behind OPTIMIZE /
    compaction jobs, as a pure window + integer division (no driver
    loop).  A doc straddling a boundary belongs to the file its FIRST
    byte lands in, so file sizes may overshoot by at most one doc — the
    standard greedy contract.

    Plan: one shuffle on source, one in-partition sort by doc_id.
    Source cardinality is bounded (it is a dimension); a pathologically
    hot source would get a two-level split (date subkey) — same shape as
    operators/prefixsum.py."""
    d = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("cum_chars", F.sum("n_chars").over(w))
        .select(
            "source",
            "doc_id",
            "cum_chars",
            F.expr(f"(cum_chars - n_chars) div {_COMPACT_TARGET}").alias("file_id"),
        )
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


@register(
    "events_rolling_dau7",
    "X61",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), ex AS (
        SELECT user_id,
               CAST(unnest(generate_series(day, day + 6, INTERVAL 1 DAY))
                    AS DATE) AS wday
        FROM ud
    ), wau AS (
        SELECT wday, count(DISTINCT user_id) AS wau7 FROM ex GROUP BY wday
    ), dau AS (
        SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau7
    FROM dau d JOIN wau w ON w.wday = d.day
    """,
)
def events_rolling_dau7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (DAU + WAU), the canonical
    engagement metric.  COUNT(DISTINCT) OVER a sliding range window is
    unsupported (and would be quadratic anyway); instead each distinct
    (user, day) row is fanned out to the 7 window-end days it
    contributes to — constant 7x fanout of an already-deduplicated
    frame, then two plain distinct-aggregates.  Linear at any scale;
    trailing fan-out days beyond the data's horizon drop out in the join
    with the actual-DAU frame."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    ex = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("wday"),
    )
    wau = ex.groupBy("wday").agg(F.countDistinct("user_id").alias("wau7"))
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        dau.join(wau, dau.day == wau.wday)
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "dau", "wau7")
    )


@register(
    "orders_pareto_share",
    "X62",
    oracle=f"""
    WITH pc AS (
        SELECT o_custkey,
               CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY o_custkey
    ), c AS (
        SELECT o_custkey, rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_cents,
               CAST(sum(rev_cents) OVER () AS BIGINT) AS total
        FROM pc
    )
    SELECT o_custkey, rev_cents, cum_cents,
           CAST((cum_cents * 10000) // total AS BIGINT) AS cum_share_bp,
           cum_cents * 5 <= total * 4 AS in_top80
    FROM c
    """,
)
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto revenue concentration: customers ranked by revenue with
    their cumulative share (basis points) and an 80/20 flag.  The global
    running total uses operators/prefixsum.bucketed_cumsum — percentile
    range-bucketing + per-bucket windows + a 16-row offset scan — NOT a
    single-partition ORDER-BY window over the per-customer frame (the
    oracle uses that naive spelling, which is exactly the equivalence
    being hash-checked).  Share math stays in BIGINT basis points:
    ``cum*10000 // total`` and ``cum*5 <= total*4`` are engine-exact
    where a double division could straddle a rounding boundary."""
    from debias_spark.operators.prefixsum import bucketed_cumsum

    o = table(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("rev_cents")
    )
    c = bucketed_cumsum(
        pc, value_col="rev_cents", order_col="rev_cents",
        tiebreak_col="o_custkey", descending=True,
    )
    return c.select(
        "o_custkey",
        "rev_cents",
        F.col("cum").alias("cum_cents"),
        F.expr("(cum * 10000) div total").alias("cum_share_bp"),
        (F.col("cum") * 5 <= F.col("total") * 4).alias("in_top80"),
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
