"""Round-7 wave 7 (X152, Z58): partitioning-hint pack and the shuffle
sizing advisor.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no planner; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents_sql
from debias_spark.registry import register

_AGG_SQL = f"""
    SELECT '{{tag}}' AS variant,
           count(*) AS n,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS rev_cents
    FROM {{rel}}
"""


@register(
    "sql_partitioning_hints_pack",
    "X152",
    oracle=f"""
    SELECT v.variant,
           (SELECT count(*) FROM orders) AS n,
           (SELECT CAST(sum({cents_sql("o_totalprice")})
                   AS BIGINT) FROM orders) AS rev_cents
    FROM (SELECT unnest(['coalesce', 'rebalance', 'repartition']) AS variant) v
    ORDER BY v.variant
    """,
)
def sql_partitioning_hints_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partitioning-hint surface: the same aggregate computed through
    /*+ REPARTITION(16, o_custkey) */ (hash exchange on a column),
    /*+ REBALANCE */ (AQE-sized round-robin rebalance) and
    /*+ COALESCE(4) */ (partition merge, no shuffle) — results must be
    IDENTICAL, because partitioning hints may redistribute rows but never
    change them.  These hints are the query-text lever for the same knobs
    repartition()/coalesce() expose in the DataFrame API; at 100 TB
    REBALANCE before a wide write is the standard small-files fix.
    Exchange node evidence (hashpartitioning(16) / REBALANCE round-robin
    / Coalesce) is asserted in tests/test_round7_wave6.py."""
    orders = table(spark, sf_dir, "orders")
    frames = [
        spark.sql(
            _AGG_SQL.format(
                tag=tag,
                rel=f"(SELECT /*+ {hint} */ * FROM {{orders}})",
            ),
            orders=orders,
        )
        for tag, hint in (
            ("coalesce", "COALESCE(4)"),
            ("rebalance", "REBALANCE"),
            ("repartition", "REPARTITION(16, o_custkey)"),
        )
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("variant")


# deterministic per-column width model (bytes): fixed 8 for numerics and
# timestamps, exact octet length for strings.  The SAME formula runs in
# both engines, so the advisor's outputs are exact integers.
_ADVISOR_TABLES = {
    "orders": (
        ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"],
        ["o_orderstatus", "o_orderpriority"],
    ),
    "events": (
        ["event_id", "ts", "user_id", "value"],
        ["event_type", "props"],
    ),
}
_TARGET_PART_BYTES = 64 * 1024 * 1024


@register(
    "diag_shuffle_partition_advisor",
    "Z58",
    oracle=f"""
    WITH w AS (
        SELECT 'events' AS tbl, count(*) AS n_rows,
               CAST(sum(8 * 4 + strlen(event_type)
                        + strlen(props)) AS BIGINT) AS est_bytes
        FROM events
        UNION ALL
        SELECT 'orders', count(*),
               CAST(sum(8 * 4 + strlen(o_orderstatus)
                        + strlen(o_orderpriority)) AS BIGINT)
        FROM orders
    )
    SELECT tbl, n_rows, est_bytes,
           CAST(greatest(1, ceil(CAST(est_bytes AS DOUBLE)
                                 / {_TARGET_PART_BYTES})) AS BIGINT)
               AS rec_shuffle_partitions
    FROM w ORDER BY tbl
    """,
)
def diag_shuffle_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle sizing advisor: per table, an exact-integer byte estimate
    (8 bytes per numeric/timestamp column + exact string byte lengths (octet_length / DuckDB strlen) —
    the in-memory row model, NOT compressed file size) and the shuffle
    partition count that keeps each partition near the 64 MB target.
    This is the arithmetic behind `spark.sql.shuffle.partitions` and
    `maxPartitionBytes` tuning: at sf0.1 it recommends 1 (the data is
    tiny), at 100 TB the same formula recommends ~1.5M — which is the
    point: the advisor makes the sizing decision data-derived instead of
    a cargo-culted constant.  Pairs diag_key_skew_profile (which grades
    key DISTRIBUTION; this key grades VOLUME).

    Scale: one mergeable aggregate per table; ceil division on exact
    integers (cast to double only for the correctly-rounded ceil)."""
    frames = []
    for tbl in sorted(_ADVISOR_TABLES):
        num_cols, str_cols = _ADVISOR_TABLES[tbl]
        t = table(spark, sf_dir, tbl)
        width = F.lit(8 * len(num_cols))
        for c in str_cols:
            width = width + F.octet_length(c)
        frames.append(
            t.agg(
                F.count("*").alias("n_rows"),
                F.sum(width).cast("long").alias("est_bytes"),
            ).select(F.lit(tbl).alias("tbl"), "n_rows", "est_bytes")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.select(
        "tbl",
        "n_rows",
        "est_bytes",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("est_bytes").cast("double") / _TARGET_PART_BYTES),
        )
        .cast("long")
        .alias("rec_shuffle_partitions"),
    ).orderBy("tbl")
