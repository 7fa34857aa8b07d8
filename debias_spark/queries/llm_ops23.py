"""Round-7 wave 3 (Y53-Y54): temperature-scaled corpus mixture weights
and boilerplate-chunk removal — two staples of LLM training-data prep.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no corpus surface; north-star extensions per SURVEY §2.H (H10
family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.dedup import word_tokens
from debias_spark.registry import register

_BUDGET = 100_000  # total sampled-doc budget the mixture distributes
_CHUNK = 8  # boilerplate chunk width (tokens)
_BOILER_DF = 5  # chunk document-frequency threshold


@register(
    "corpus_mixture_temperature",
    "Y53",
    oracle=f"""
    WITH l AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ), s AS (
        SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w
        FROM l
    ), tot AS (
        -- left-fold in lang order: Spark's aggregate() fold and DuckDB's
        -- list_reduce add in the identical sequence, so the float sum is
        -- bit-identical (plain sum() has no cross-engine order contract)
        SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS sw
        FROM s
    )
    SELECT s.lang, s.n_docs,
           {floor_eps_sql("s.w / tot.sw", 1000000)} AS weight_e6,
           {floor_eps_sql(f"{_BUDGET} * s.w / tot.sw")} AS target_docs
    FROM s, tot
    ORDER BY s.lang
    """,
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (T=2, i.e. alpha=0.5): sampling
    weight w_l ∝ n_l^0.5, the standard rebalancing between proportional
    (alpha=1, big languages dominate) and uniform (alpha=0) when fixing a
    multilingual training mix; emits each language's weight and its share
    of a fixed document budget.  alpha=0.5 is deliberately the SQRT
    exponent: sqrt is IEEE correctly-rounded on both engines, whereas a
    general pow(n, 0.7) is transcendental and may differ in the last ulp
    (float doctrine).  The weight normalizer is a 5-element left-fold in
    lang order on both engines (rule: never trust cross-engine float sum
    order), so every emitted integer is bit-stable.

    Scale shape: one map-side-combined count per language, a 5-row fold,
    one broadcast back.  The mixture table is what a downstream
    sample_mixture_weighted-style stage consumes."""
    docs = table(spark, sf_dir, "documents")
    l = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    s = l.select(
        "lang", "n_docs", F.sqrt(F.col("n_docs").cast("double")).alias("w")
    )
    tot = s.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("lang", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("sw")
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            floor_eps(F.col("w") / F.col("sw"), 1000000)
            .cast("long")
            .alias("weight_e6"),
            floor_eps(F.lit(_BUDGET) * F.col("w") / F.col("sw"))
            .cast("long")
            .alias("target_docs"),
        )
        .orderBy("lang")
    )


@register(
    "dedup_boilerplate_lines",
    "Y54",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS w
        FROM documents
    ), ch AS MATERIALIZED (
        SELECT doc_id,
               i // {_CHUNK} AS chunk_idx,
               md5(array_to_string(list_slice(w, i + 1, i + {_CHUNK}), ' '))
                   AS h,
               least(len(w) - i, {_CHUNK}) AS n_tok
        FROM t, unnest(range(0, len(w), {_CHUNK})) AS u(i)
        WHERE len(w) > 0
    ), df AS MATERIALIZED (
        SELECT h, count(DISTINCT doc_id) AS df FROM ch GROUP BY h
    )
    SELECT ch.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN df.df >= {_BOILER_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler_chunks,
           CAST(sum(CASE WHEN df.df < {_BOILER_DF} THEN ch.n_tok ELSE 0 END)
                AS BIGINT) AS n_tokens_retained
    FROM ch JOIN df ON df.h = ch.h
    GROUP BY ch.doc_id
    ORDER BY ch.doc_id
    """,
)
def dedup_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-chunk removal (the C4/CCNet line-dedup primitive,
    Raffel et al. 2020 §2.2 public): split every document into fixed
    8-token chunks, hash each chunk, and drop chunks whose hash appears
    in >= 5 DISTINCT documents — navigation bars, cookie banners and
    license footers repeat across pages verbatim and survive
    document-level dedup.  Emits per-doc chunk/boilerplate counts and
    the retained token budget.

    Scale shape: chunking is explode arithmetic (the Y6 idiom); the
    document-frequency table is one md5-keyed aggregate (map-side
    combined — the hash IS the shuffle key, uniform by construction);
    the verdict joins back on the same hash.  Nothing is quadratic and
    the only wide rows are chunk hashes, never chunk text."""
    # no fan_out (r13): the chunk-hash exchange arrives early; the full
    # bench read 0.77 s plain vs 0.93 s fanned — reverted after measure
    docs = table(spark, sf_dir, "documents")
    w = word_tokens(F.col("text"))
    d = docs.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    starts = F.sequence(F.lit(0), F.size("w") - 1, F.lit(_CHUNK))
    ch = d.select(
        "doc_id",
        F.explode(starts).alias("i"),
        F.col("w"),
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice("w", F.col("i") + 1, _CHUNK), " ")).alias("h"),
        F.least(F.size("w") - F.col("i"), F.lit(_CHUNK)).cast("long").alias("n_tok"),
    )
    df_tab = ch.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    j = ch.join(df_tab, "h")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("df") >= _BOILER_DF).cast("long")).alias(
                "n_boiler_chunks"
            ),
            F.sum(
                F.when(F.col("df") < _BOILER_DF, F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("n_tokens_retained"),
        )
        .orderBy("doc_id")
    )
