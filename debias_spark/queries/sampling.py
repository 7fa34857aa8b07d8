"""Deterministic sampling keys: hash sampling, stratified and
train/val/test splits, per-source caps and mixture-targeted sampling.

The reference has no sampling surface; north-star extensions per SURVEY §2.H.  Membership is decided
by key arithmetic, never by Spark's RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql
from debias_spark.registry import register


@register(
    "sample_hash_deterministic",
    "X95",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_sampled,
           CAST(sum({cents_sql("o_totalprice")}) AS BIGINT)
               AS revenue_cents
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 32, 1) IN ('0', '1', '2')
    GROUP BY o_orderpriority
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling: keep the ~3/16 of orders whose key-md5
    ends in 0/1/2, then aggregate the sample.  This is the production
    sampling primitive TABLESAMPLE cannot give you: reproducible across
    engines, runs, and partitionings (TABLESAMPLE's RNG is engine-defined,
    so it can never be value-oracled), stable under data repartitioning,
    and consistent — the same keys are sampled in every derived table, so
    sampled fact/dim joins still line up.

    Scale shape: one scan, the hash filter is a map-side projection (no
    pre-shuffle), and the aggregate shuffles only the sampled ~19%.  At
    100 TB the sample rate dials by widening the hex-suffix set (1/16
    granularity; use two chars for 1/256)."""
    orders = table(spark, sf_dir, "orders")
    sampled = orders.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 32, 1).isin(
            "0", "1", "2"
        )
    )
    return sampled.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_sampled"),
        F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
    )


@register(
    "sample_train_val_test",
    "Y10",
    oracle="""
    SELECT split, count(*) AS n, min(doc_id) AS first_id FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 100 < 80 THEN 'train'
                    WHEN doc_id % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ) GROUP BY split
    """,
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by key arithmetic
    (hash the key first when ids are clustered).  Assignment is a pure
    projection — no shuffle, no RNG state, stable across reruns and
    cluster sizes, which is what makes the split reproducible at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.col("doc_id") % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("first_id"))
    )


@register(
    "sample_cap_per_source",
    "Z15",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
    FROM r WHERE rn <= 10
    """,
)
def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source cap (anti-spam / per-domain quota): keep the
    10 docs with the smallest md5(doc_id) per source — a seedless,
    engine-portable uniform sample that never changes across runs or
    cluster layouts.  One window shuffle on source; at scale this is the
    rank-based alternative to reservoir sampling (no sequential state, no
    RNG)."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= 10)
    )


@register(
    "sample_mixture_weighted",
    "Z16",
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS n_src,
               (SELECT count(*) FROM documents) AS n_total
        FROM documents GROUP BY source
    ), rates AS (
        SELECT source,
               least(1.0,
                     (CASE WHEN source IN ('src0','src1','src2','src3','src4')
                           THEN 0.10 ELSE 0.50 / 15 END)
                     * n_total * 0.5 / n_src) AS keep_rate
        FROM counts
    )
    SELECT d.doc_id, d.source, round(r.keep_rate, 6) + 0.0 AS keep_rate
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < r.keep_rate
    """,
)
def sample_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-targeted downsampling — the 'data recipe' step of a training
    pipeline: given target shares per source (here: src0-4 get 10% each,
    the other 15 sources split the remaining 50%), each source is kept at
    rate target_share * budget / actual_count, so the SURVIVING corpus
    approximates the target mixture at half the original size.

    Selection is a deterministic hash-threshold (first 8 md5 hex digits as
    a uniform [0,1) draw) — reproducible across engines, runs, and
    partitionings, unlike rand()-based sampling.  Plan: count aggregate ->
    tiny rates frame broadcast back onto the scan; the fact table is
    touched twice but never shuffled."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_src"))
    n_total = docs.count()  # driver scalar: one tiny job, fine at any scale
    share = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), F.lit(0.10)
    ).otherwise(F.lit(0.50 / 15))
    rates = counts.select(
        "source",
        F.least(F.lit(1.0), share * F.lit(n_total) * 0.5 / F.col("n_src")).alias(
            "keep_rate"
        ),
    )
    draw = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) / F.lit(4294967296.0)
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(draw < F.col("keep_rate"))
        .select("doc_id", "source", (F.round(F.col("keep_rate"), 6) + 0.0).alias("keep_rate"))
    )


@register(
    "sample_stratified_deterministic",
    "X8",
    oracle="""
    SELECT lang, count(*) AS n_sampled
    FROM documents WHERE doc_id % 10 < 2
    GROUP BY lang
    """,
)
def sample_stratified_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample by key arithmetic (id mod 10 < 2), counted
    per stratum.  At 100 TB use hash(id) instead of raw mod when ids are
    clustered; df.sample/sampleBy are the nondeterministic-native variants
    (seeded, but partition-layout dependent — unusable for oracle tests)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % 10 < 2)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )
