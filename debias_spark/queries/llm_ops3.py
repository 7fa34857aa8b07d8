"""LLM-pipeline operators, third wave (SURVEY §2 addendum Z1-Z3).

Ingestion-time dedup, corpus n-gram statistics, and embedding-quality
profiling — the remaining everyday steps of a training-data pipeline that
the first two waves didn't cover.  All three are single-scan plans with
DuckDB value oracles.

Registration position matters: these keys sit after relational_ext3's
and before reference_core's in registry.KEY_MODULES, inside the driver's
first-50 correctness window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.registry import register


@register(
    "dedup_within_time_window",
    "Z1",
    oracle="""
    WITH w AS (
        SELECT event_id, user_id, event_type,
               date_trunc('hour', ts) AS wstart, ts,
               row_number() OVER (PARTITION BY date_trunc('hour', ts), user_id,
                                               event_type
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY date_trunc('hour', ts), user_id,
                                           event_type) AS n_in_group
        FROM events
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           user_id, event_type,
           event_id AS kept_event_id,
           CAST(n_in_group - 1 AS BIGINT) AS n_dropped
    FROM w WHERE rn = 1
    """,
)
def dedup_within_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup: within each 1-hour tumbling window, keep the
    earliest event per (user_id, event_type) — the standard at-least-once
    ingestion cleanup (dedupe per key per window, not globally, so state
    stays bounded; the streaming twin is dropDuplicatesWithinWatermark).
    One shuffle on the (window, user, type) key; row_number and the group
    count share the single window sort."""
    ev = table(spark, sf_dir, "events")
    wstart = F.date_trunc("hour", F.col("ts"))
    part = Window.partitionBy(wstart, "user_id", "event_type")
    w_rn = part.orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            wstart.alias("wstart"),
            "ts",
            F.row_number().over(w_rn).alias("rn"),
            F.count("*").over(part).alias("n_in_group"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.date_format("wstart", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "user_id",
            "event_type",
            F.col("event_id").alias("kept_event_id"),
            (F.col("n_in_group") - 1).cast("long").alias("n_dropped"),
        )
    )


@register(
    "text_ngram_counts",
    "Z2",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t <> '') AS t
        FROM documents
    ), bi AS (
        SELECT unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS bigram
        FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM bi GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word-bigram counts, top 20 with deterministic tiebreak —
    the n-gram frequency table behind contamination screens and classic LM
    statistics.  Bigrams are built per-row with zip_with against the
    shifted token array (JVM codegen, no Python); only (bigram, partial
    count) rows reach the shuffle thanks to map-side combine, so the
    exploded bigram rows never leave their executor."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    # zip_with pads the shorter (shifted) side with null -> trailing null
    # bigram per doc; filter it out before exploding.
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        lambda x: x.contains(" "),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "embedding_norm_stats",
    "Z3",
    oracle=f"""
    WITH n AS (
        SELECT label,
               sqrt(list_aggregate([x * x FOR x IN CAST(embedding AS DOUBLE[])],
                                   'sum')) AS nrm
        FROM embeddings
    )
    SELECT label,
           count(*) AS n_vecs,
           {floor_eps_sql("avg(nrm)", 10000)} AS avg_norm_e4,
           {floor_eps_sql("min(nrm)", 10000)} AS min_norm_e4,
           {floor_eps_sql("max(nrm)", 10000)} AS max_norm_e4
    FROM n GROUP BY label ORDER BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality profile per label: L2-norm distribution (count /
    avg / min / max).  The pre-flight check before cosine similarity work —
    zero-norm or wildly-scaled vectors surface here.  Single scan, norms
    computed in a codegen higher-order fold, tiny aggregate output."""
    emb = table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    nrm = F.sqrt(sq)
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            floor_eps(F.avg("nrm"), 10000).cast("long").alias("avg_norm_e4"),
            floor_eps(F.min("nrm"), 10000).cast("long").alias("min_norm_e4"),
            floor_eps(F.max("nrm"), 10000).cast("long").alias("max_norm_e4"),
        )
        .orderBy("label")
    )
