"""Round-9 wave 2 (X165/X166): deterministic subsample confidence
intervals and the reused-exchange plan proof.

Reference parity: the reference reports point estimates only
(analytics/parser.py aggregates); X165 adds the uncertainty a 100 TB
report needs without RNG state, X166 pins the exchange-reuse behavior a
self-joined aggregate depends on for its shuffle budget.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.operators.dedup import MINHASH_P
from debias_spark.registry import register

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


# ---------------------------------------------------------------------------
# X166: reused-exchange proof — one shuffle feeds both sides of a self-join
# ---------------------------------------------------------------------------


def _x166_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("q")
    )
    a = agg.select(F.col("l_suppkey").alias("k"), F.col("q").alias("qa"))
    b = agg.select((F.col("l_suppkey") + 1).alias("k2"), F.col("q").alias("qb"))
    return (
        a.join(b, F.col("k") == F.col("k2"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.expr("qa * qb")).alias("qq_sum"),
        )
    )


@register(
    "diag_reused_exchange_proof",
    "X166",
    oracle="""
    WITH agg AS MATERIALIZED (
        SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(a.q * b.q) AS BIGINT) AS qq_sum
    FROM agg a JOIN agg b ON a.l_suppkey = b.l_suppkey + 1
    """,
)
def diag_reused_exchange_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange REUSE, proven on the executed plan: a per-supplier
    aggregate self-joined against its own shifted key (adjacent-supplier
    quantity products) references the identical aggregation subtree
    twice — Spark must shuffle the lineitem scan ONCE and wire the
    second branch to a ReusedExchange, not re-scan and re-shuffle.  The
    key executes a probe instance of the frame to force the adaptive
    final plan, asserts the ReusedExchange marker, and returns a fresh
    frame for the value oracle (adjacent-key self-products are exact
    integers).

    At 100 TB exchange reuse halves the widest shuffle of every
    self-comparison report; losing it (e.g. by spelling the two sides
    with divergent projections) doubles scan AND shuffle, which is why
    the marker deserves a pinned proof alongside X148's runtime bloom
    filter and X161's CBO reorder."""
    from debias_spark.plans import executed_plan

    probe = _x166_frame(spark, sf_dir)
    probe.collect()  # bounded: 1 row; forces the adaptive final plan
    plan = executed_plan(probe)
    # raise, not assert: in-key proof guards must survive python -O
    if "ReusedExchange" not in plan:
        raise RuntimeError(
            "expected the self-join to reuse the aggregate's exchange; plan:\n"
            + plan[:2000]
        )
    return _x166_frame(spark, sf_dir)


# ---------------------------------------------------------------------------
# X167: physical-encoding advisor (dictionary / RLE / plain per column)
# ---------------------------------------------------------------------------

_ENC_COLS = ["o_orderpriority", "o_orderstatus", "o_custkey", "o_orderkey"]
_SEG = 1000  # run-length is measured within orderkey segments (scan-local)
_DICT_MAX_BP = 100  # <=1% distinct -> dictionary
_RLE_MIN_RUN_E2 = 300  # avg run >= 3.0 values -> RLE


def _enc_oracle() -> str:
    parts = []
    for c in _ENC_COLS:
        parts.append(f"""
        SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(sum(chg) AS BIGINT) AS n_runs,
               CAST(count(*) * 100 // sum(chg) AS BIGINT) AS avg_run_len_e2,
               CAST(count(DISTINCT {c}) * 10000 // count(*) AS BIGINT)
                   AS distinct_bp,
               CASE WHEN count(DISTINCT {c}) * 10000 // count(*)
                         <= {_DICT_MAX_BP} THEN 'dict'
                    WHEN count(*) * 100 // sum(chg) >= {_RLE_MIN_RUN_E2}
                         THEN 'rle'
                    ELSE 'plain' END AS encoding
        FROM (
            SELECT {c},
                   CASE WHEN lag({c}) OVER w IS DISTINCT FROM {c}
                        THEN 1 ELSE 0 END AS chg
            FROM orders
            WINDOW w AS (PARTITION BY o_orderkey // {_SEG} ORDER BY o_orderkey)
        )""")
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


@register("diag_encoding_advisor", "X167", oracle=_enc_oracle())
def diag_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-encoding advisor: per candidate column, measure distinct
    ratio and average run length along the natural key order — run
    lengths counted WITHIN orderkey segments (1000-key windows), the way
    an encoder sees data one row-group at a time, so no global sort or
    single-partition window exists anywhere — then recommend dictionary
    (<= 1% distinct), RLE (average run >= 3), or plain.  The same
    decision table a columnar writer consults; pinned as data so the
    oracle re-derives the advice from the same measurements.

    At 100 TB encoding choice is storage cost: a dictionary-encodable
    status column stored plain is a ~10x scan tax on every query that
    touches it.  Exact integers throughout (run starts counted with
    IS DISTINCT FROM so NULL runs count too)."""
    from pyspark.sql.window import Window

    orders = table(spark, sf_dir, "orders")
    seg = F.expr(f"o_orderkey div {_SEG}")
    w = Window.partitionBy(seg).orderBy("o_orderkey")
    # ONE pass computes every column's run-start flag over the shared
    # window (4 separate passes would re-scan + re-shuffle identically);
    # checkpointed because 4 per-column aggregates re-read it (rule 5:
    # the recomputed stage contains a shuffle)
    chgs = orders.select(
        *[
            (~F.lag(F.col(c)).over(w).eqNullSafe(F.col(c)))
            .cast("long")
            .alias(f"chg_{c}")
            for c in _ENC_COLS
        ]
    ).localCheckpoint(eager=True)
    out = None
    for c in _ENC_COLS:
        # distinct count in its OWN aggregate: mixing countDistinct with
        # plain aggregates plans an Expand (rule 7 — one row replica per
        # aggregate family through the shuffle).  NULLs are filtered
        # BEFORE the distinct so this matches the oracle's
        # count(DISTINCT c), which never counts the NULL group (r9
        # advice: a NULL-bearing column would otherwise diverge by +1).
        nd = (
            orders.select(F.col(c).alias("v"))
            .where(F.col("v").isNotNull())
            .distinct()
            .agg(F.count("*").alias("n_distinct"))
        )
        stats = (
            chgs.agg(
                F.lit(c).alias("col_name"),
                F.count("*").alias("n_rows"),
                F.sum(f"chg_{c}").alias("n_runs"),
            )
            .crossJoin(F.broadcast(nd))
            .select(
                "col_name",
                "n_rows",
                "n_distinct",
                "n_runs",
                F.expr("n_rows * 100 div n_runs").alias("avg_run_len_e2"),
                F.expr("n_distinct * 10000 div n_rows").alias("distinct_bp"),
                F.expr(
                    f"CASE WHEN n_distinct * 10000 div n_rows <= {_DICT_MAX_BP}"
                    f" THEN 'dict'"
                    f" WHEN n_rows * 100 div n_runs >= {_RLE_MIN_RUN_E2}"
                    f" THEN 'rle' ELSE 'plain' END"
                ).alias("encoding"),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out.orderBy("col_name")
