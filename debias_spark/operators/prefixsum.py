"""Distributed prefix sums (running totals over a GLOBAL ordering).

The naive Spark spelling — ``sum(x) OVER (ORDER BY ...)`` with no
PARTITION BY — funnels the entire frame through a single-partition
WindowExec: the exact anti-pattern the round-2 audit flagged on the old
ntile-based RFM key.  It is fine on 16 k rows and fatal on 10 B.

The scale-safe shape implemented here is the classic two-level scan:

1. bucket every row by a range of the primary order column, using exact
   ``percentile`` cutoffs (a mergeable aggregate — map-side partial
   count-maps, no global sort).  Bucketing is monotone w.r.t. the global
   order because ties on the order column always land in the same bucket.
2. cumulative-sum WITHIN each bucket (parallel WindowExec, one shuffle on
   the bucket id).
3. cumulative-sum the per-bucket totals (a frame with as many rows as
   buckets — trivially small) and broadcast-join each bucket's prefix
   offset back.

``global cumsum = bucket offset + within-bucket cumsum`` — identical
values to the single-partition window, computed with bounded per-task
state at any scale.  The DuckDB oracles of callers use the plain
single-partition window spelling, so the equivalence is hash-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def bucketed_cumsum(
    df: DataFrame,
    value_col: str,
    order_col: str,
    tiebreak_col: str,
    descending: bool = True,
    n_buckets: int = 16,
) -> DataFrame:
    """Add ``cum`` (running total of ``value_col``) and ``total`` columns
    under the global ordering (order_col desc|asc, tiebreak_col asc),
    without a single-partition window over ``df``.

    ``value_col`` must be integral (bigint) so partial sums are exact and
    order-independent; callers convert money to cents first.
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.agg(F.percentile(order_col, qs).alias("cuts"))
    # bucket id: number of cutoffs at-or-above (desc) / at-or-below (asc)
    # this row — monotone in the order column, ties share a bucket.
    withb = df.crossJoin(F.broadcast(cuts))
    if descending:
        b = sum(
            (F.col(order_col) <= F.get("cuts", k)).cast("int")
            for k in range(n_buckets - 1)
        )
        order = [F.desc(order_col), F.asc(tiebreak_col)]
    else:
        b = sum(
            (F.col(order_col) >= F.get("cuts", k)).cast("int")
            for k in range(n_buckets - 1)
        )
        order = [F.asc(order_col), F.asc(tiebreak_col)]
    # NULL-safe bucket id: a NULL order_col makes every cutoff comparison
    # (hence b) NULL, which would drop those rows from the null-unsafe
    # _b equi-join below while still counting their values into total via
    # a NULL-_b group in bsums — an inconsistent frame.  Coalescing AT
    # ASSIGNMENT lands NULL-order rows deterministically in bucket 0
    # (they sort within it by the window's NULL placement); callers whose
    # oracle is the plain global window should keep order_col non-null
    # for exact NULL-position parity.
    withb = withb.withColumn("_b", F.coalesce(b, F.lit(0))).drop("cuts")
    wb = (
        Window.partitionBy("_b")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = withb.withColumn("_within", F.sum(value_col).over(wb))
    bsums = withb.groupBy("_b").agg(F.sum(value_col).alias("_bsum"))
    # per-bucket prefix offsets: a window over <= n_buckets rows — the
    # single-partition window is applied only to this tiny frame.
    # The single partition here is INTENTIONAL (<= n_buckets rows), but a
    # foldable partition key gets constant-folded out of the window spec,
    # which re-triggers WindowExec's "No Partition Defined" degradation
    # warning in every caller's bench tail.  Now that _b is NON-NULL
    # (coalesced above) Spark 4 folds even `_b * 0` to a literal;
    # pmod(_b, 1) is always 0 but survives optimization: same
    # one-partition semantics, no warning (verified in the plan).
    _const = F.pmod(F.col("_b"), F.lit(1))
    wo = (
        Window.partitionBy(_const)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(_const).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = bsums.select(
        "_b",
        F.coalesce(F.sum("_bsum").over(wo), F.lit(0)).alias("_offset"),
        F.sum("_bsum").over(wall).alias("total"),
    )
    return (
        within.join(F.broadcast(offsets), "_b")
        .withColumn("cum", F.col("_offset") + F.col("_within"))
        .drop("_b", "_within", "_offset")
    )


def bucketed_cumsum_with_rank(
    df: DataFrame,
    value_col: str,
    order_col: str,
    tiebreak_col: str,
    descending: bool = False,
    n_buckets: int = 16,
) -> DataFrame:
    """bucketed_cumsum plus the global 1-based rank (``rnk``) under the
    same ordering — the distributed row_number.  Rank offsets come from
    the same per-bucket pass (bucket row counts prefix-summed alongside
    the value sums), so the extra cost over bucketed_cumsum is one
    column."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.agg(F.percentile(order_col, qs).alias("cuts"))
    withb = df.crossJoin(F.broadcast(cuts))
    if descending:
        b = sum(
            (F.col(order_col) <= F.get("cuts", k)).cast("int")
            for k in range(n_buckets - 1)
        )
        order = [F.desc(order_col), F.asc(tiebreak_col)]
    else:
        b = sum(
            (F.col(order_col) >= F.get("cuts", k)).cast("int")
            for k in range(n_buckets - 1)
        )
        order = [F.asc(order_col), F.asc(tiebreak_col)]
    # NULL-safe bucket id — see bucketed_cumsum: coalesce at assignment so
    # NULL-order rows join/count consistently (bucket 0) instead of being
    # dropped by the _b equi-join while inflating total via bsums.
    withb = withb.withColumn("_b", F.coalesce(b, F.lit(0))).drop("cuts")
    wb = (
        Window.partitionBy("_b")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = withb.withColumn("_within", F.sum(value_col).over(wb)).withColumn(
        "_wrn", F.row_number().over(Window.partitionBy("_b").orderBy(*order))
    )
    bsums = withb.groupBy("_b").agg(
        F.sum(value_col).alias("_bsum"), F.count("*").alias("_bcnt")
    )
    # The single partition here is INTENTIONAL (<= n_buckets rows), but a
    # foldable partition key gets constant-folded out of the window spec,
    # which re-triggers WindowExec's "No Partition Defined" degradation
    # warning in every caller's bench tail.  Now that _b is NON-NULL
    # (coalesced above) Spark 4 folds even `_b * 0` to a literal;
    # pmod(_b, 1) is always 0 but survives optimization: same
    # one-partition semantics, no warning (verified in the plan).
    _const = F.pmod(F.col("_b"), F.lit(1))
    wo = (
        Window.partitionBy(_const)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(_const).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = bsums.select(
        "_b",
        F.coalesce(F.sum("_bsum").over(wo), F.lit(0)).alias("_offset"),
        F.coalesce(F.sum("_bcnt").over(wo), F.lit(0)).alias("_coffset"),
        F.sum("_bsum").over(wall).alias("total"),
        F.sum("_bcnt").over(wall).alias("n_rows"),
    )
    return (
        within.join(F.broadcast(offsets), "_b")
        .withColumn("cum", F.col("_offset") + F.col("_within"))
        .withColumn("rnk", (F.col("_coffset") + F.col("_wrn")).cast("long"))
        .drop("_b", "_within", "_offset", "_wrn", "_coffset")
    )
