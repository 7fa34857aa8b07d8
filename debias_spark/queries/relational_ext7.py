"""Seventh relational wave (X50-X53): product/event analytics beyond TPC-H
— robust outlier detection, sequential-pattern transitions, market-basket
co-occurrence, and a composed document quality gate.

Reference parity note: the reference app computes none of these (it has no
query surface at all, SURVEY §2.G); they extend the §2.H mandate with the
shapes an analytics engine is actually asked for daily, each DuckDB-oracled
with the same determinism discipline as the earlier waves (exact integer
counts wherever possible; interpolated quantiles verified bit-equal between
Spark's percentile and DuckDB's quantile_cont on bigint-cents inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


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
    "orders_market_basket",
    "X52",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, count(*) AS support
    FROM pairs GROUP BY part_a, part_b
    HAVING count(*) >= 3
    ORDER BY support DESC, part_a, part_b
    LIMIT 50
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in >= 3
    orders, top 50 by support.  Plan shape: the basket-local pair build
    (operators/graph.py — group each order's part set once, explode
    ordered pairs in codegen) is bounded by (basket size)^2 per order —
    ~10 items/order means <=45 pairs/order, linear in orders — never a
    global parts x parts cross join, and two shuffles total vs three for
    the distinct+self-join spelling.  Exact integer counts."""
    from debias_spark.operators.graph import basket_pair_support, order_baskets

    return (
        basket_pair_support(order_baskets(spark, sf_dir))
        .filter(F.col("support") >= 3)
        .select(
            F.col("pa").alias("part_a"), F.col("pb").alias("part_b"), "support"
        )
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(50)
    )


def _x53_oracle() -> str:
    from debias_spark.operators.text import (
        QUALITY_PUNCT_DUCK,
        QUALITY_TOKENS_DUCK,
        QUALITY_VERDICT_DUCK,
    )

    verdict = QUALITY_VERDICT_DUCK.format(
        n_chars="n_chars", n_tokens="n_tokens", n_punct="n_punct"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               {QUALITY_TOKENS_DUCK.format(x="text")} AS n_tokens,
               {QUALITY_PUNCT_DUCK.format(x="text")} AS n_punct
        FROM documents
    ), flagged AS (
        SELECT doc_id, lang, {verdict} AS verdict
        FROM toks
    )
    SELECT lang, verdict, count(*) AS n_docs
    FROM flagged GROUP BY lang, verdict
    ORDER BY lang, verdict
    """


@register("docs_quality_filterchain", "X53", oracle=_x53_oracle())
def docs_quality_filterchain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed quality gate: the keep/drop decision a training-data
    pipeline makes per document, as ONE first-match-wins rule chain
    (length -> word-shape -> punctuation density) with per-language
    verdict counts for monitoring.  All rules are single-pass codegen
    expressions over the scan — no joins, no windows, one rollup shuffle;
    integer ratios compared via exact arithmetic.  The individual rules
    are the text_gopher_rules/text_quality_score building blocks; this key
    is their composition, which is what actually ships.  The rule chain
    lives in operators/text.py (quality_verdict) so the corpus-build
    capstone (Z75) provably applies the IDENTICAL gate."""
    from debias_spark.operators.text import quality_features, quality_verdict

    d = table(spark, sf_dir, "documents")
    n_tokens, n_punct = quality_features(F.col("text"))
    verdict = quality_verdict(
        F.col("n_chars"), F.col("n_tokens"), F.col("n_punct")
    )
    return (
        d.select(
            "lang",
            "n_chars",
            n_tokens.alias("n_tokens"),
            n_punct.alias("n_punct"),
        )
        .select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "verdict")
    )
