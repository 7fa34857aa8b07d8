"""Round-7 wave 13 (X160, T15): one-way ANOVA F statistic and
timeout-capped sessionization.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no statistics or session surface; extensions per SURVEY §2.H.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.registry import register


@register(
    "lineitem_anova_f",
    "X160",
    oracle=f"""
    WITH g AS MATERIALIZED (
        SELECT l_returnflag AS flag,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum({cents_sql("l_extendedprice")})
                    AS HUGEINT) AS s,
               CAST(sum({cents_sql("l_extendedprice")}
                        * {cents_sql("l_extendedprice")})
                    AS HUGEINT) AS q
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n) AS HUGEINT) AS nt,
               CAST(sum(s) AS HUGEINT) AS st,
               CAST(sum(q) AS HUGEINT) AS qt,
               count(*) AS k,
               -- fold Σ s_g^2/n_g in FLAG ORDER: each term divides exact
               -- integers (correctly rounded identically on both
               -- engines), and the left-fold order is pinned
               list_reduce(list(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)
                                ORDER BY flag), (a, b) -> a + b) AS sb
        FROM g
    )
    SELECT CAST(nt AS BIGINT) AS n_rows,
           CAST(k AS INT) AS n_groups,
           {floor_eps_sql("(sb - CAST(st * st AS DOUBLE) / CAST(nt AS DOUBLE))"
                          " / (k - 1)"
                          " / ((CAST(qt AS DOUBLE) - sb) / CAST(nt - k AS DOUBLE))", 1000000)}
               AS f_e6
    FROM tot
    """,
)
def lineitem_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for price across return-flag groups —
    completing the hypothesis-test family (z-test, chi-square, KS,
    Mann-Whitney) with the k-group mean comparison.  F = (SSB/(k-1)) /
    (SSW/(n-k)); every moment (n, Σx, Σx²) is an exact integer in cents,
    the only non-integers are Σ s_g²/n_g terms — each one division of
    exact integers (IEEE correctly rounded on both engines), summed in a
    PINNED flag-ordered left-fold (cross-engine float-sum-order rule) —
    so the e6 emission is bit-stable with no transcendentals.

    Scale shape: one map-side-combined grouped moment aggregate, then a
    3-row fold.  Nothing else."""
    li = table(spark, sf_dir, "lineitem")
    c = cents(F.col("l_extendedprice"))
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(c).cast("decimal(38,0)").alias("s"),
        F.sum(c * c).cast("decimal(38,0)").alias("q"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.count("*").alias("k"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "flag",
                        # spelled (s*s)/n with the EXACT product cast to
                        # double, matching the oracle's textual order —
                        # (s/n)*s would round differently
                        (
                            (F.col("s") * F.col("s")).cast("double")
                            / F.col("n").cast("double")
                        ).alias("term"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("sb"),
    )
    ssb = F.col("sb") - F.col("st").cast("double") * F.col("st").cast("double") / F.col("nt").cast("double")
    ssw = F.col("qt").cast("double") - F.col("sb")
    return tot.select(
        F.col("nt").cast("long").alias("n_rows"),
        F.col("k").cast("int").alias("n_groups"),
        floor_eps(
            ssb / (F.col("k") - 1) / (ssw / (F.col("nt") - F.col("k")).cast("double")),
            1000000,
        )
        .cast("long")
        .alias("f_e6"),
    )


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
