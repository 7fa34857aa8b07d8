"""Round-9 wave 4 (Z72): dead-letter quarantine routing — a validation
gate that splits a corpus drop into a publishable sink and a quarantine
sink with machine-readable reasons, then proves the routing on the sink
readbacks.

Reference parity: the reference flags issues per record
(detect_issues in call-debias.py) but always writes everything to one
output; a production landing zone must instead ROUTE failing records
aside so downstream consumers never see them and operators can triage
by reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.registry import register
from debias_spark.warehouse import fresh_scratch_dirs

_MIN_CHARS = 180  # gate 1: documents shorter than this quarantine as 'short'
_WS_MAX_PCT = 20  # gate 2: whitespace above this percent -> 'ws_heavy'

# first-match-wins reason: ONE template, instantiated per engine with
# only the integer-div operator differing (a transcription error in a
# hand-maintained copy would only surface at the SFs where that arm
# fires — sf0.1 for ws_heavy)
_REASON_TPL = """CASE
    WHEN CAST(n_chars AS BIGINT) < {min_chars} THEN 'short'
    WHEN (length(text) - length(replace(text, ' ', ''))) * 100
         {intdiv} greatest(length(text), 1) >= {ws_pct} THEN 'ws_heavy'
    ELSE NULL END"""
_REASON_DUCK = _REASON_TPL.format(min_chars=_MIN_CHARS, ws_pct=_WS_MAX_PCT, intdiv="//")
_REASON_SPARK = _REASON_TPL.format(min_chars=_MIN_CHARS, ws_pct=_WS_MAX_PCT, intdiv="div")


@register(
    "pipeline_quarantine_dead_letter",
    "Z72",
    oracle=f"""
    WITH routed AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS n_chars,
               coalesce('quarantined:' || ({_REASON_DUCK}), 'kept') AS route
        FROM documents
    )
    SELECT route, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM routed GROUP BY route, lang ORDER BY route, lang
    """,
)
def pipeline_quarantine_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing: every document passes a validation gate
    (too-short, whitespace-heavy — first matching reason wins) and is
    written to EITHER the publishable sink or the quarantine sink, the
    quarantine rows carrying their reason as a column for triage.  The
    returned rollup is computed from the SINK READBACKS, so the oracle
    hash proves the split itself — no row lost, none duplicated, each on
    the correct side — not just the gate expression.

    Scale shape: the gate is one codegen projection; the split is two
    filtered writes off one cached classification (at 100 TB: one pass
    with partitionBy(route) into a routed table, which this two-sink
    layout models while keeping the quarantine physically separate, the
    usual compliance requirement).  Reasons are data, not logs — the
    triage rollup is a groupBy away, as here."""
    docs = table(spark, sf_dir, "documents")
    keep_dir, dlq_dir = fresh_scratch_dirs(
        spark, sf_dir, "z72_kept", "z72_quarantine"
    )

    # checkpoint A/B (interleaved, sf0.1, min-of-3): WITH 0.68-0.85s vs
    # recompute 0.76-1.0s — the narrow 4-column cache beats re-scanning
    # text for the second write, a (small) exception to the cheap-
    # projection rule because BOTH consumers re-read the wide text col
    routed = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(_REASON_SPARK).alias("reason"),
    ).localCheckpoint(eager=True)
    routed.filter(F.col("reason").isNull()).drop("reason").write.parquet(keep_dir)
    routed.filter(F.col("reason").isNotNull()).write.parquet(dlq_dir)

    kept = (
        spark.read.parquet(keep_dir)
        .groupBy("lang")
        .agg(
            F.lit("kept").alias("route"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
    dlq = (
        spark.read.parquet(dlq_dir)
        .groupBy(F.concat(F.lit("quarantined:"), F.col("reason")).alias("route"), "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )
    return (
        kept.select("route", "lang", "n_docs", "sum_chars")
        .unionByName(dlq.select("route", "lang", "n_docs", "sum_chars"))
        .orderBy("route", "lang")
    )
