"""Event and time-series analytics over ``events`` (and per-user
sequences): sessionization, dwell time, funnels, retention cohorts,
rolling and cumulative distinct users (exact and HLL), anomaly and
change-point screens, seasonality, OHLC candles, interpolation and gap
filling, k-anonymity and sequence patterns.

The reference has no event or time-series surface; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.registry import register


# ---------------------------------------------------------------------------
# X163: k-anonymity audit across generalization levels
# ---------------------------------------------------------------------------
_K_ANON = 5


# (level label, DuckDB QI exprs, Spark QI exprs) — coarser level = fewer,
# larger equivalence classes = less suppression
_QI_LEVELS = [
    (
        "L0_type_date_hour",
        ["event_type", "CAST(ts AS DATE)", "EXTRACT(hour FROM ts)"],
        ["event_type", "to_date(ts)", "hour(ts)"],
    ),
    (
        "L1_type_date",
        ["event_type", "CAST(ts AS DATE)"],
        ["event_type", "to_date(ts)"],
    ),
    ("L2_type", ["event_type"], ["event_type"]),
]


def _kanon_oracle() -> str:
    parts = []
    for label, duck_qi, _ in _QI_LEVELS:
        qi = ", ".join(duck_qi)
        parts.append(f"""
        SELECT '{label}' AS level,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN c < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_small_classes,
               CAST(sum(CASE WHEN c < {_K_ANON} THEN c ELSE 0 END) AS BIGINT)
                   AS n_rows_suppressed,
               CAST(sum(CASE WHEN c < {_K_ANON} THEN c ELSE 0 END) * 10000
                   // sum(c) AS BIGINT) AS suppress_bp
        FROM (SELECT {qi}, count(*) AS c FROM events GROUP BY {qi})""")
    return " UNION ALL ".join(parts) + " ORDER BY level"


@register("events_kanonymity_generalization", "X163", oracle=_kanon_oracle())
def events_kanonymity_generalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit for a release of the events table: at each
    quasi-identifier generalization level — (type, date, hour) ->
    (type, date) -> (type) — count the equivalence classes, the classes
    smaller than k=5, and the rows those classes would force to be
    suppressed (the k-anonymity release rule: a row is publishable only
    inside a class of >= k peers).  Reading the suppress_bp column down
    the levels is how a data steward picks the coarsest level that keeps
    suppression tolerable before sharing a corpus.

    Scale shape: one groupBy per level (map-side combine onto the class
    keys), each followed by a bounded class-histogram rollup — three
    linear shuffles over progressively coarser keys, exact integer
    output, no windows and no driver collection."""
    ev = table(spark, sf_dir, "events")
    outs = []
    for label, _, spark_qi in _QI_LEVELS:
        classes = ev.groupBy(*[F.expr(e) for e in spark_qi]).agg(
            F.count("*").alias("c")
        )
        small = F.col("c") < _K_ANON
        outs.append(
            classes.agg(
                F.lit(label).alias("level"),
                F.count("*").alias("n_classes"),
                F.sum(small.cast("long")).alias("n_small_classes"),
                F.sum(F.when(small, F.col("c")).otherwise(F.lit(0))).alias(
                    "n_rows_suppressed"
                ),
                F.expr(
                    f"sum(CASE WHEN c < {_K_ANON} THEN c ELSE 0 END) * 10000"
                    " div sum(c)"
                ).alias("suppress_bp"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("level")


@register(
    "events_sequence_pattern",
    "X98",
    oracle="""
    WITH seq AS MATERIALIZED (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(s) AS INTEGER) AS n_events,
           regexp_matches(s, 'v.*c.*p') AS funnel_vcp,
           regexp_matches(s, 'e{2}') AS double_error
    FROM seq
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (MATCH_RECOGNIZE-lite): encode each
    user's event history as an ordered initial-letter string (event types
    click/error/purchase/signup/view have distinct initials) and run regex
    patterns over it — did the user complete the view->click->purchase
    funnel in order?  did they ever hit two consecutive errors?  The
    (ts, event_id) sort key is a total order, so the encoding is
    deterministic and both engines agree exactly.

    The string encoding is the scalable trick: pattern state collapses
    into one groupBy + a per-row regex instead of k self-joins (the
    k-step funnel join explodes combinatorially; the regex scan is linear
    in history length).  Spark side sorts via array_sort over
    (ts, event_id, initial) structs — lexicographic struct order equals
    the SQL ORDER BY — then folds to a string.

    Scale shape: one shuffle (groupBy user), per-user state bounded by
    history length; a pathological mega-user would cap/split history
    upstream, same as any sessionization."""
    ev = table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "ts", "event_id", F.substring("event_type", 1, 1).alias("ini")
                )
            )
        ).alias("seq")
    )
    s = F.concat_ws("", F.transform("seq", lambda x: x["ini"]))
    return seq.select(
        "user_id",
        F.length(s).cast("int").alias("n_events"),
        s.rlike("v.*c.*p").alias("funnel_vcp"),
        s.rlike("e{2}").alias("double_error"),
    )


@register(
    "events_autocorr_lag",
    "X115",
    oracle=f"""
    WITH h AS MATERIALIZED (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
        FROM events GROUP BY event_type, hr
    ), l AS (
        SELECT event_type, n,
               lag(n, 1) OVER w AS l1,
               lag(n, 2) OVER w AS l2,
               lag(n, 3) OVER w AS l3
        FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr)
    )
    SELECT event_type,
           count(*) AS n_hours,
           {floor_eps_sql("corr(n, l1)", 10000)} AS acf1_e4,
           {floor_eps_sql("corr(n, l2)", 10000)} AS acf2_e4,
           {floor_eps_sql("corr(n, l3)", 10000)} AS acf3_e4
    FROM l GROUP BY event_type ORDER BY event_type
    """,
)
def events_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series autocorrelation (ACF at row-lags 1-3 of the hourly
    count series): the seasonality/burstiness diagnostic behind the
    forecast (X_ewma) and changepoint (CUSUM) keys — high acf1 means
    smooth load, acf24 spikes mean daily cycles (the hourly grain here
    keeps the key cheap; the lag unit is one OBSERVED hour, documented
    rather than gap-filled, identically in both engines).

    Scale shape: the aggregation collapses events to one row per
    (series, hour) FIRST, so the window sort runs on series-length
    frames partitioned by event_type — never on raw events; corr is a
    mergeable moment aggregate.  Emitted as floor-eps e4 integers per
    the rounding doctrine."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hourly.select(
        "event_type",
        F.col("n").cast("double").alias("n"),
        F.lag("n", 1).over(w).cast("double").alias("l1"),
        F.lag("n", 2).over(w).cast("double").alias("l2"),
        F.lag("n", 3).over(w).cast("double").alias("l3"),
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").alias("n_hours"),
            floor_eps(F.corr("n", "l1"), 10000).cast("long").alias("acf1_e4"),
            floor_eps(F.corr("n", "l2"), 10000).cast("long").alias("acf2_e4"),
            floor_eps(F.corr("n", "l3"), 10000).cast("long").alias("acf3_e4"),
        )
        .orderBy("event_type")
    )


@register(
    "events_sliding_distinct_users",
    "X119",
    oracle="""
    WITH b AS (
        SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS w1, user_id
        FROM events
    ), w AS (
        SELECT w1 AS ws, user_id FROM b
        UNION ALL
        SELECT w1 - 1800 AS ws, user_id FROM b
    )
    SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM w GROUP BY ws
    """,
)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation over SLIDING windows (1 hour every 30 min):
    each event lands in two overlapping windows and the per-window
    distinct-user count must dedup within each window independently —
    the audience-reach metric (unique viewers per rolling hour) that
    plain sliding counts (H15) cannot answer.

    Scale shape: the window explode doubles rows (slide ratio), then
    Spark plans the distinct as a two-phase aggregate — partial distinct
    per (window, user) then the final count — so the shuffle carries
    (window, user) pairs, not raw events.  At 100 TB the exact distinct
    swaps for approx_count_distinct or an HLL sketch column (H13/Z21
    machinery) at the same plan shape."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "n_users",
        )
    )


@register(
    "events_poisson_anomaly",
    "X39",
    oracle="""
    WITH h AS MATERIALIZED (
        SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS c
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT event_type,
               count(*) AS n_hours,
               sum(c) AS total
        FROM h GROUP BY 1
    )
    SELECT h.event_type,
           CAST(max(s.n_hours) AS BIGINT) AS n_hours,
           CAST(max(s.total) AS BIGINT) AS total_events,
           CAST(sum(CASE WHEN CAST(h.c * s.n_hours - s.total AS DOUBLE)
                              > 4 * sqrt(CAST(s.total * s.n_hours AS DOUBLE))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous_hours,
           CAST(max(h.c) AS BIGINT) AS max_hour_count
    FROM h JOIN s ON s.event_type = h.event_type
    GROUP BY h.event_type ORDER BY h.event_type
    """,
)
def events_poisson_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-anomaly screen over the hourly event series: an hour
    is anomalous when its count exceeds lambda + 4*sqrt(lambda) (lambda =
    the series' mean hourly rate) — the first-pass burst detector an
    operations pipeline runs before heavier changepoint models (CUSUM =
    events_cusum_changepoint).  The test multiplies through by n_hours so
    the left side (c*n - total) stays an exact integer; the right side is
    4*sqrt of one exact integer product — both engines call sqrt on the
    identical double (expression rule 18), so the > comparison can never
    split them.

    Scale shape: events collapse to (series, hour) counts first; the
    5-row per-series stats join back broadcast; output is one row per
    series.  Everything is a mergeable aggregate."""
    ev = table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("c"))
    s = h.groupBy("event_type").agg(
        F.count("*").alias("n_hours"), F.sum("c").alias("total")
    )
    joined = h.join(F.broadcast(s), "event_type")
    anom = (
        (F.col("c") * F.col("n_hours") - F.col("total")).cast("double")
        > 4 * F.sqrt((F.col("total") * F.col("n_hours")).cast("double"))
    ).cast("long")
    return (
        joined.groupBy("event_type")
        .agg(
            F.max("n_hours").cast("long").alias("n_hours"),
            F.max("total").cast("long").alias("total_events"),
            F.sum(anom).cast("long").alias("n_anomalous_hours"),
            F.max("c").cast("long").alias("max_hour_count"),
        )
        .orderBy("event_type")
    )


@register(
    "events_hourly_ohlc",
    "X49",
    oracle=f"""
    WITH r AS (
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
               value, ts, event_id,
               row_number() OVER w AS rn,
               count(*) OVER (PARTITION BY event_type,
                              date_trunc('hour', ts)) AS n
        FROM events
        WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
                     ORDER BY ts, event_id)
    )
    SELECT event_type, hr,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(CASE WHEN rn = 1 THEN
                {floor_eps_sql("value", 1000000)}
                END) AS BIGINT) AS open_e6,
           CAST(max({floor_eps_sql("value", 1000000)})
                AS BIGINT) AS high_e6,
           CAST(min({floor_eps_sql("value", 1000000)})
                AS BIGINT) AS low_e6,
           CAST(min(CASE WHEN rn = n THEN
                {floor_eps_sql("value", 1000000)}
                END) AS BIGINT) AS close_e6
    FROM r GROUP BY event_type, hr
    ORDER BY event_type, hr
    """,
)
def events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event series (open/high/low/close of the
    `value` measure) — the downsampling primitive every metrics store
    runs before charting.  Open/close are selected by row_number over
    (ts, event_id) WITHIN each (series, hour) partition — a total order
    (event_id breaks ts ties), so both engines pick the same rows; the
    doubles are untouched parquet values and quantize to the same
    floor-eps e6 integers.

    Scale shape: the window partitions by (series, hour) — thousands of
    small independent partitions, embarrassingly parallel; one grouped
    aggregate emits 4 candle values per partition.  At 100 TB the same
    plan holds because partition count grows with data while per-
    partition size stays one hour of one series."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.date_trunc("hour", "ts")).orderBy(
        "ts", "event_id"
    )
    e6 = floor_eps(F.col("value"), 1000000).cast("long")
    r = ev.select(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hr"),
        e6.alias("v6"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("n"),
    )
    return (
        r.groupBy("event_type", "hr")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(F.when(F.col("rn") == 1, F.col("v6"))).alias("open_e6"),
            F.max("v6").alias("high_e6"),
            F.min("v6").alias("low_e6"),
            F.min(F.when(F.col("rn") == F.col("n"), F.col("v6"))).alias("close_e6"),
        )
        .orderBy("event_type", "hr")
    )


@register(
    "events_cumulative_distinct_users",
    "X157",
    oracle="""
    WITH fs AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1
    ), days AS MATERIALIZED (
        SELECT first_day AS day, count(*) AS n_new FROM fs GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(n_new AS BIGINT) AS n_new_users,
           CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_distinct_users
    FROM days ORDER BY day
    """,
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users to date — the growth-curve metric that
    is famously expensive when spelled naively (a running COUNT(DISTINCT)
    re-deduplicates the entire history per day).  The scale-correct
    identity: a user contributes to the cumulative count exactly once,
    on their FIRST-SEEN day — so one user-grain aggregate (min day per
    user), one day-grain count of first-sightings, and a prefix sum over
    the bounded day dimension reproduce the exact running distinct count
    with no day-over-day re-scan and no sketch.

    Scale shape: one map-side-combined groupBy(user), one tiny day
    aggregate, one window over ~30 day rows (bounded domain; the
    two-pass prefixsum drops in if days were unbounded).  This is THE
    pattern for distinct-to-date at 100 TB."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    days = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    # ~30-row frame: the single partition is intentional; non-foldable
    # constant partition key avoids the WindowExec degradation warning
    w = (
        Window.partitionBy(F.unix_date("day") * 0)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return days.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_new").cast("long").alias("n_new_users"),
        F.sum("n_new").over(w).cast("long").alias("cum_distinct_users"),
    ).orderBy("day")


_GAP_S = 300


_CAP_S = 3600


@register(
    "sessionize_timeout_cap",
    "T15",
    oracle=f"""
    WITH RECURSIVE seq AS MATERIALIZED (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), walk AS (
        SELECT user_id, rn, sec,
               1::BIGINT AS sess_id,
               sec AS sess_start
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn, s.sec,
               CASE WHEN s.sec - w.sec > {_GAP_S}
                         OR s.sec - w.sess_start > {_CAP_S}
                    THEN w.sess_id + 1 ELSE w.sess_id END,
               CASE WHEN s.sec - w.sec > {_GAP_S}
                         OR s.sec - w.sess_start > {_CAP_S}
                    THEN s.sec ELSE w.sess_start END
        FROM walk w JOIN seq s
          ON s.user_id = w.user_id AND s.rn = w.rn + 1
    )
    SELECT user_id,
           CAST(max(sess_id) AS BIGINT) AS n_sessions,
           count(*) AS n_events,
           CAST(max(cnt) AS BIGINT) AS longest_session_events
    FROM (
        SELECT user_id, sess_id, sec,
               count(*) OVER (PARTITION BY user_id, sess_id) AS cnt
        FROM walk
    )
    GROUP BY user_id ORDER BY user_id
    """,
)
def sessionize_timeout_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH a 5-minute inactivity gap and a 1-hour
    hard duration cap — the refinement production sessionizers add so a
    steady drip of events can't stretch one session forever (T2 covers
    the gap-only form, whose islands are expressible declaratively; the
    CAP makes splits depend on the running session START, an inherently
    sequential fold).  Runs as a per-user python walk (applyInPandas —
    the per-partition-imperative escape hatch, same posture as Y55's
    packer), replayed decision-for-decision by a recursive-CTE oracle
    over the identical (ts, event_id) order (helper CTE JOINed, never
    correlated — X136 doctrine).

    Scale shape: users are independent (one shuffle on the user bucket),
    each a bounded sequential walk; output is one row per user.  Users
    are BUCKETED 64-per-Arrow-batch: one pandas invocation per user
    measured 8.2s at sf0.1 (per-group Arrow setup dominates tiny
    groups), the bucketed in-batch groupby runs the identical walks in
    1.25s — the general applyInPandas rule for small groups."""
    ev = table(spark, sf_dir, "events")
    # bucket users so each Arrow batch carries MANY users: one pandas
    # invocation per user measured 8.2s at sf0.1 (per-group Arrow setup
    # dominates); 64 buckets with an in-batch pandas groupby runs the
    # identical walks at a fraction of the overhead
    base = ev.select(
        "user_id",
        F.pmod(F.col("user_id"), F.lit(64)).alias("bucket"),
        F.unix_seconds(F.col("ts").cast("timestamp")).alias("sec"),
        "event_id",
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {
            "user_id": [],
            "n_sessions": [],
            "n_events": [],
            "longest_session_events": [],
        }
        pdf = pdf.sort_values(["user_id", "sec", "event_id"])
        for uid, grp in pdf.groupby("user_id", sort=False):
            sess, start, prev = 1, None, None
            counts = [0]
            for sec in grp["sec"]:
                sec = int(sec)
                if start is None:
                    start = sec
                elif sec - prev > _GAP_S or sec - start > _CAP_S:
                    sess += 1
                    start = sec
                    counts.append(0)
                prev = sec
                counts[-1] += 1
            out["user_id"].append(int(uid))
            out["n_sessions"].append(sess)
            out["n_events"].append(len(grp))
            out["longest_session_events"].append(max(counts))
        return pd.DataFrame(out)

    return (
        base.groupBy("bucket")
        .applyInPandas(
            walk,
            schema="user_id long, n_sessions long, n_events long, "
            "longest_session_events long",
        )
        .orderBy("user_id")
    )


@register(
    "events_sliding_distinct_hll_banded",
    "Z62",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS MATERIALIZED (
        SELECT DISTINCT day FROM du
    ), win AS (
        SELECT d.day,
               count(DISTINCT u.user_id) AS exact_users
        FROM days d
        JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(exact_users AS BIGINT) AS exact_users_7d,
           TRUE AS est_in_band
    FROM win ORDER BY day
    """,
)
def events_sliding_distinct_hll_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users via MERGEABLE SKETCHES: one HLL
    sketch per day (bytes, built incrementally), unioned over a 7-row
    window frame — so the rolling reach metric costs sketch merges, not
    a 7-day re-dedup per day.  This delivers the scale path X119's
    docstring promises: the exact sliding distinct shuffles (window,
    user) pairs whose volume multiplies with the slide ratio; the
    sketch version shuffles one ~10KB sketch per day regardless of
    user count, and ANY window length is the same merge.

    Banded value oracle (X28 technique): the estimate never leaves the
    query; emitted are the exact 7-day distinct counts plus whether the
    WINDOWED-UNION estimate lands within ±5% of each (lgConfigK=14,
    ~0.8% standard error — 6x margin covering the union path).  The
    tiny per-day frame makes the window sort intentional-single-
    partition (non-foldable constant key, no degradation warning).

    Scale shape: one map-side-combined daily sketch aggregate + one
    bounded-frame window union; the exact side (for the band) is the
    X119 two-phase distinct, computed once here as the yardstick."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    # ~31-row frame: intentional single partition, non-foldable key
    wconst = F.unix_date("day") * 0
    w = Window.partitionBy(wconst).orderBy("day").rowsBetween(-6, 0)
    est = daily.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("est"),
    )
    du = ev.select(F.to_date("ts").alias("uday"), "user_id").distinct()
    days = du.select(F.col("uday").alias("day")).distinct()
    exact = (
        days.join(
            du,
            (F.col("uday") >= F.date_sub(F.col("day"), 6))
            & (F.col("uday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        est.join(exact, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("exact_users").cast("long").alias("exact_users_7d"),
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= F.col("exact_users") * F.lit(0.05)
            ).alias("est_in_band"),
        )
        .orderBy("day")
    )


@register(
    "timeseries_linear_interp",
    "X110",
    oracle=f"""
    WITH src AS MATERIALIZED (
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_s,
               event_type,
               {cents_sql("value")} AS cents
        FROM events WHERE event_id % 7 = 0
    ), bounds AS (
        SELECT min(hour_s) AS start_s FROM src
    ), grid AS (
        SELECT unnest(generate_series(start_s, start_s + 23 * 3600, 3600)) AS hour_s
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM src
    ), pts AS (
        SELECT hour_s, event_type, avg(cents) AS v
        FROM src GROUP BY 1, 2
    ), dense AS MATERIALIZED (
        SELECT g.hour_s, t.event_type, p.v
        FROM grid g CROSS JOIN types t
        LEFT JOIN pts p ON p.hour_s = g.hour_s AND p.event_type = t.event_type
    ), anchored AS (
        SELECT hour_s, event_type, v,
               last_value(v IGNORE NULLS) OVER wb AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN hour_s END IGNORE NULLS)
                   OVER wb AS ph,
               first_value(v IGNORE NULLS) OVER wf AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN hour_s END IGNORE NULLS)
                   OVER wf AS nh
        FROM dense
        WINDOW wb AS (PARTITION BY event_type ORDER BY hour_s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY event_type ORDER BY hour_s
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT hour_s, event_type,
           (v IS NOT NULL) AS observed,
           {floor_eps_sql("CASE WHEN v IS NOT NULL THEN v"
                          " WHEN pv IS NULL THEN nv"
                          " WHEN nv IS NULL THEN pv"
                          " ELSE pv + (nv - pv) * (hour_s - ph) / (nh - ph)"
                          " END", 1000)} AS interp_millicents
    FROM anchored
    """,
)
def timeseries_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation — the semantic step past zero-fill (X26):
    a sparse hourly series (a deterministic ~14% event sample, so gaps are
    guaranteed at every SF) densifies onto the hour grid, and each missing
    point interpolates linearly between its nearest observed anchors
    (ends clamp to the nearest anchor).  Both engines compute anchors with
    the same IGNORE NULLS running windows — one backward, one forward —
    so the whole fill is two window passes, no self-join per gap.

    Scale shape: one aggregate over the (pushed-down) sample filter, a
    broadcast dense grid, and two window passes partitioned by series key
    — per-series state is O(1) (last/next anchor), the canonical
    streaming-friendly interpolation plan.  Output rounds to integer
    milli-cents via ``floor_eps``; `observed` marks real vs
    interpolated points."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    hour_s = (sec - F.pmod(sec, F.lit(3600))).alias("hour_s")
    src = ev.select(
        hour_s,
        "event_type",
        cents(F.col("value")).alias("cents"),
    )
    pts = src.groupBy("hour_s", "event_type").agg(F.avg("cents").alias("v"))
    bounds = src.agg(F.min("hour_s").alias("start_s"))
    grid = bounds.select(
        F.explode(
            F.sequence(F.col("start_s"), F.col("start_s") + 23 * 3600, F.lit(3600))
        ).alias("hour_s")
    )
    types = src.select("event_type").distinct()
    dense = F.broadcast(grid.crossJoin(types)).join(
        pts, ["hour_s", "event_type"], "left"
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hour_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour_s")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    vh = F.when(F.col("v").isNotNull(), F.col("hour_s"))
    anchored = dense.select(
        "hour_s",
        "event_type",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(vh, ignorenulls=True).over(wb).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(vh, ignorenulls=True).over(wf).alias("nh"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("hour_s") - F.col("ph"))
            / (F.col("nh") - F.col("ph"))
        )
    )
    return anchored.select(
        "hour_s",
        "event_type",
        F.col("v").isNotNull().alias("observed"),
        floor_eps(interp, 1000).cast("long").alias("interp_millicents"),
    )


@register(
    "sessionize_batch",
    "T2",
    oracle="""
    WITH o AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), flagged AS (
        SELECT user_id, sec,
               CASE WHEN sec - lag(sec) OVER w > 300 OR lag(sec) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY rn)
    ), sessions AS (
        SELECT user_id, sec,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY sec
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           CAST(max(sec) - min(sec) AS BIGINT) AS duration_s
    FROM sessions GROUP BY user_id, session_id
    """,
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (5-minute gap): lag to flag session
    starts, running sum to number them, aggregate per session.  The batch
    oracle-checked twin of the rows-only streaming session_window (H16) —
    same sessions, declarative windows instead of state store.  Timestamps
    truncated to whole seconds in BOTH engines so the gap comparison is
    precision-independent (events.ts is ns in parquet, µs in Spark)."""
    ev = table(spark, sf_dir, "events")
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ws = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select("user_id", sec.alias("sec"), F.lag(sec).over(wo).alias("prev_sec"))
    flagged = flagged.withColumn(
        "new_session",
        F.when(
            F.col("prev_sec").isNull() | (F.col("sec") - F.col("prev_sec") > 300), 1
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(ws))
    return sessions.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        (F.max("sec") - F.min("sec")).cast("long").alias("duration_s"),
    )


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
    "timeseries_gapfill",
    "X26",
    oracle="""
    WITH bounds AS (
        SELECT CAST(floor(epoch(min(ts)) / 3600) * 3600 AS BIGINT) AS start_s
        FROM events
    ), grid AS (
        SELECT unnest(generate_series(start_s, start_s + 23 * 3600, 3600)) AS hour_s
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), counts AS (
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_s,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT g.hour_s, t.event_type, coalesce(c.n, 0) AS n
    FROM grid g CROSS JOIN types t
    LEFT JOIN counts c ON c.hour_s = g.hour_s AND c.event_type = t.event_type
    ORDER BY g.hour_s, t.event_type
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hour x event_type grid left-joined
    to sparse counts, zeros where no events landed.  The grid is generated
    from a 1-row aggregate (sequence + explode — never a driver loop) and is
    tiny, so it broadcasts; the only big-data pass is the counts aggregate.
    Hours surface as epoch bigints (timestamp-free comparison contract)."""
    ev = table(spark, sf_dir, "events")
    # NTZ -> epoch seconds: cast to (UTC-session) timestamp first, as
    # everywhere else in the engine (ANSI mode forbids ntz -> bigint).
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    hour_s = (sec - F.pmod(sec, F.lit(3600))).alias("hour_s")
    counts = ev.select(hour_s, "event_type").groupBy("hour_s", "event_type").agg(
        F.count("*").alias("n")
    )
    bounds = ev.agg(
        (F.min(sec) - F.pmod(F.min(sec), F.lit(3600))).alias("start_s")
    )
    grid = bounds.select(
        F.explode(
            F.sequence(
                F.col("start_s"), F.col("start_s") + 23 * 3600, F.lit(3600)
            )
        ).alias("hour_s")
    )
    types = ev.select("event_type").distinct()
    dense = F.broadcast(grid.crossJoin(types))
    return (
        dense.join(counts, ["hour_s", "event_type"], "left")
        .select("hour_s", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
        .orderBy("hour_s", "event_type")
    )


@register(
    "event_dwell_time",
    "X31",
    oracle=f"""
    WITH nexted AS (
        -- ORDER BY truncates ts to µs so the tie-break matches Spark's
        -- µs-resolution timestamps even if a testdata regeneration brings
        -- back TIMESTAMP(NANOS) (two events distinct only below 1 µs must
        -- pair identically in both engines)
        SELECT event_type,
               floor(epoch(lead(ts) OVER (PARTITION BY user_id
                                          ORDER BY date_trunc('microseconds', ts),
                                                   event_id)))
                   - floor(epoch(ts)) AS dwell_s
        FROM events
    )
    SELECT event_type,
           count(dwell_s) AS n_dwells,
           CAST(sum(dwell_s) AS BIGINT) AS total_dwell_s,
           {floor_eps_sql("avg(dwell_s)", 10000)} AS avg_dwell_e4
    FROM nexted WHERE dwell_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time: per user, seconds until that user's next event (lead
    over the user/time window — each user's LAST event has no dwell and is
    excluded), averaged per event type.  One shuffle on user_id for the
    window, map-side combine for the rollup — the canonical event-analytics
    plan at any scale."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    dwell = F.lead(sec).over(w) - sec
    return (
        ev.select("event_type", dwell.alias("dwell_s"))
        .filter(F.col("dwell_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_dwells"),
            F.sum("dwell_s").cast("long").alias("total_dwell_s"),
            floor_eps(F.avg("dwell_s"), 10000).cast("long").alias("avg_dwell_e4"),
        )
        .orderBy("event_type")
    )


@register(
    "events_anomaly_mad",
    "X50",
    oracle=f"""
    WITH v AS (
        SELECT event_type, event_id,
               {cents_sql("value")} AS cents
        FROM events WHERE value IS NOT NULL
    ), med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med_cents FROM v
        GROUP BY event_type
    ), dev AS (
        SELECT v.event_type, v.event_id, v.cents, m.med_cents,
               abs(v.cents - m.med_cents) AS adev
        FROM v JOIN med m ON v.event_type = m.event_type
    ), mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad_cents FROM dev
        GROUP BY event_type
    )
    SELECT d.event_type, count(*) AS n_outliers,
           CAST(sum(d.cents) AS BIGINT) AS outlier_cents_sum
    FROM dev d JOIN mad ON d.event_type = mad.event_type
    WHERE mad.mad_cents > 0
      AND abs(d.cents - d.med_cents) > 5.0 * mad.mad_cents
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: per event type, flag values more than 5
    MADs (median absolute deviation) from the median — the
    median/MAD pair shrugs off the very outliers it hunts, unlike
    mean/stddev z-scores (grouped_zscore_applyinpandas is the sketchable
    cousin).  Plan shape: two grouped exact-percentile aggregates (median,
    then MAD of deviations) joined back per group — both are
    map-side-partial count-map merges, no windows, no global sorts.
    Values are integer cents so the medians interpolate bit-identically in
    both engines (same guarantee the RFM cutoffs rely on)."""
    v = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            cents(F.col("value")).alias("cents"),
        )
    )
    med = v.groupBy("event_type").agg(
        F.percentile("cents", 0.5).alias("med_cents")
    )
    dev = v.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    mad = dev.groupBy(F.col("event_type").alias("mt")).agg(
        F.percentile("adev", 0.5).alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), F.col("event_type") == F.col("mt"))
        .filter(
            (F.col("mad_cents") > 0)
            & (F.abs(F.col("cents") - F.col("med_cents")) > 5.0 * F.col("mad_cents"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_outliers"),
            F.sum("cents").cast("long").alias("outlier_cents_sum"),
        )
        .orderBy("event_type")
    )


@register(
    "user_path_transitions",
    "X51",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts), event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY from_type, to_type
    """,
)
def user_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining, step one: the event-type transition
    matrix (Markov bigram counts) over each user's time-ordered stream.
    Plan shape: ONE shuffle on user_id for the lead window (each user's
    history is processed where it lands), then a map-side-combined count
    rollup — the canonical clickstream plan at any scale.  The window
    orders by (µs-truncated ts, event_id), the same NANOS-proof total
    order event_dwell_time uses."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("from_type", "to_type")
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
    "events_seasonality_profile",
    "X71",
    oracle="""
    WITH e AS (
        SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
                   AS dow,
               extract(hour FROM ts) AS hour
        FROM events
    ), g AS (
        SELECT dow, hour, count(*) AS n FROM e GROUP BY dow, hour
    )
    SELECT dow, CAST(hour AS BIGINT) AS hour, n,
           (n * 10000) // (SELECT count(*) FROM events) AS share_bp
    FROM g
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality: event share by (day-of-week, hour-of-day).
    Day-of-week is computed as ``(epoch_day + 4) % 7`` (0 = Sunday) —
    pure integer arithmetic, because the engines' dayofweek() builtins
    disagree on both origin and range (Spark 1=Sunday, DuckDB isodow
    1=Monday).  Shares are BIGINT basis points against a broadcast
    1-row total.  One rollup shuffle; the 168-cell output is the
    operational heatmap every on-call dashboard carries."""
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        ((F.unix_date(F.to_date("ts")) + 4) % 7).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    )
    g = e.groupBy("dow", "hour").agg(F.count("*").alias("n"))
    total = ev.select(F.count("*").alias("_total"))
    return (
        g.crossJoin(F.broadcast(total))
        .selectExpr("dow", "hour", "n", "(n * 10000) div _total AS share_bp")
    )


@register(
    "events_cusum_changepoint",
    "X80",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n
        FROM events GROUP BY day
    ), stats AS (
        SELECT CAST(sum(n) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily
    ), cusum AS (
        SELECT day, n,
               CAST(sum(n * (SELECT n_days FROM stats))
                    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 - CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                   * (SELECT total FROM stats) AS dev_scaled
        FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS changepoint_day,
           n AS day_count,
           abs(dev_scaled) AS cusum_magnitude
    FROM cusum ORDER BY abs(dev_scaled) DESC, day LIMIT 1
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over daily event volume: the day where
    the cumulative deviation from the global mean rate peaks — the
    standard level-shift detector.  Deviations are kept EXACT by scaling
    into integer units (sum(n)*n_days - i*total instead of sum(n - mean)
    with a fractional mean), so the argmax cannot flip on float error.
    The cumulative window runs over the DAILY frame — one row per day,
    thousands of rows at any corpus scale — so the unpartitioned window
    is bounded by calendar length, not data volume (the same
    small-frame exemption as the prefix-sum offset scans)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from debias_spark.catalog import table as _table

    ev = _table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count("*").alias("n"))
    stats = daily.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_days")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wr = Window.orderBy("day")
    cusum = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn(
            "dev_scaled",
            (F.sum(F.col("n") * F.col("n_days")).over(w)).cast("long")
            - F.row_number().over(wr).cast("long") * F.col("total"),
        )
    )
    return (
        cusum.select(
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
            F.col("n").alias("day_count"),
            F.abs("dev_scaled").alias("cusum_magnitude"),
        )
        .orderBy(F.desc("cusum_magnitude"), "changepoint_day")
        .limit(1)
    )


@register(
    "events_hhi_concentration",
    "X83",
    oracle="""
    WITH u AS (
        SELECT event_type, user_id, count(*) AS n
        FROM events GROUP BY event_type, user_id
    ), t AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM u
        GROUP BY event_type
    )
    SELECT u.event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(CAST(sum(CAST(u.n AS HUGEINT) * u.n) AS HUGEINT) * 10000
                // (CAST(t.total AS HUGEINT) * t.total) AS BIGINT) AS hhi_bp
    FROM u JOIN t USING (event_type)
    GROUP BY u.event_type, t.total
    """,
)
def events_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of event volume across users,
    per event type (10000 bp = one user generates everything) — the
    abuse/bot-skew screen: a type whose HHI spikes is driven by a few
    accounts.  HHI = Σ share_u² = Σ n_u² / total², computed ENTIRELY in
    exact integers (DECIMAL(38,0) / HUGEINT for the squares — the same
    overflow doctrine the Gini key enforces) with one basis-point floor
    division at the end."""
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    t = u.groupBy("event_type").agg(F.sum("n").cast("long").alias("total"))
    return (
        u.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "total")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr(
                "CAST(sum(CAST(n AS DECIMAL(38,0)) * n) * 10000"
                " div (CAST(total AS DECIMAL(38,0)) * total) AS BIGINT)"
            ).alias("hhi_bp"),
        )
        .drop("total")
    )


@register(
    "events_latency_percentiles_hourly",
    "X84",
    oracle=f"""
    WITH v AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               {cents_sql("value")} AS cents
        FROM events WHERE value IS NOT NULL
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
           count(*) AS n,
           quantile_cont(cents, 0.5) AS p50_cents,
           quantile_cont(cents, 0.95) AS p95_cents,
           quantile_cont(cents, 0.99) AS p99_cents
    FROM v GROUP BY h, event_type
    """,
)
def events_latency_percentiles_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The on-call latency dashboard: p50/p95/p99 of event value per
    (hour, type).  Exact grouped percentiles on integer cents — the
    interpolated doubles are bit-equal between Spark's ``percentile``
    and DuckDB's ``quantile_cont`` on BIGINT inputs (the guarantee the
    RFM cutoffs established) — computed as ONE mergeable count-map
    aggregate per group, no sort, no window.  The 100 TB swap is
    ``approx_percentile`` (t-digest, agg_percentiles_approx is the
    tolerance-tested pair key)."""
    from pyspark.sql.window import Window  # noqa: F401  (symmetry w/ file)

    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("value").isNotNull()).select(
        F.date_trunc("hour", "ts").alias("h"),
        "event_type",
        cents(F.col("value")).alias("cents"),
    )
    return v.groupBy("h", "event_type").agg(
        F.count("*").alias("n"),
        F.percentile("cents", 0.5).alias("p50_cents"),
        F.percentile("cents", 0.95).alias("p95_cents"),
        F.percentile("cents", 0.99).alias("p99_cents"),
    ).select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        "p50_cents",
        "p95_cents",
        "p99_cents",
    )


@register(
    "events_decayed_engagement",
    "X162",
    oracle=f"""
    WITH ref AS MATERIALIZED (
        SELECT max(CAST(ts AS DATE)) AS rd FROM events
    ), d AS (
        SELECT user_id,
               {cents_sql("value")}
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
            f"shiftright({cents_sql('value')}, "
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
