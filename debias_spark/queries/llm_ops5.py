"""LLM-pipeline operators, fifth wave (SURVEY §2 addendum Z10-Z12).

Statistical quality filtering (unigram language-model surprisal — the
cheap stand-in for a KenLM perplexity filter), seeded random-projection
dimensionality reduction (the Johnson-Lindenstrauss step in front of an
ANN index), and blocked edit-distance fuzzy dedup.  All fully
DuckDB-oracled.

The projection matrix is generated from a fixed seed at import time and
embedded as LITERALS in both the Spark expression and the oracle SQL —
per SCALE.md's py4j finding, the 8x64-term expression is assembled as SQL
text and parsed once with F.expr, not built Column-by-Column.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.dedup import word_tokens
from debias_spark.registry import register

VOCAB_TOP = 1000  # unigram-LM vocabulary cap (bounded broadcast at any corpus size)


@register(
    "text_unigram_logprob",
    "Z47",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS token
        FROM documents
    ), vocab AS (
        SELECT token, count(*) AS n
        FROM toks GROUP BY token
        ORDER BY n DESC, token LIMIT {VOCAB_TOP}
    ), total AS (
        SELECT sum(n)::DOUBLE AS big_n FROM vocab
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           {floor_eps_sql("avg(-ln(coalesce(v.n, 1) / (total.big_n + 1.0)))", 1000000)} AS avg_surprisal_e6
    FROM toks t
    LEFT JOIN vocab v ON t.token = v.token
    CROSS JOIN total
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal score per document: -mean ln p(token), with a
    top-{V} vocabulary and an add-one floor for out-of-vocabulary tokens —
    the classic cheap quality filter (high surprisal = gibberish or boilerplate
    outliers; production swaps the table for KenLM scores).

    Scale shape: the vocabulary is COUNT-BOUNDED (top-V), so it broadcasts
    at any corpus size; the token explode aggregates map-side into the
    vocab build, and the scoring pass is explode -> broadcast-hash lookup ->
    per-doc agg (one doc_id shuffle).  No Python anywhere."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            word_tokens(F.col("text"))
        ).alias("token"),
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(VOCAB_TOP)
    )
    total = vocab.agg(F.sum("n").cast("double").alias("big_n"))
    surprisal = -F.log(
        F.coalesce(F.col("n"), F.lit(1)) / (F.col("big_n") + F.lit(1.0))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            floor_eps(F.avg(surprisal), 1000000).cast("long").alias("avg_surprisal_e6"),
        )
    )


text_unigram_logprob.__doc__ = text_unigram_logprob.__doc__.replace("{V}", str(VOCAB_TOP))


@register(
    "dedup_near_editdistance",
    "Z49",
    oracle="""
    WITH t AS (
        SELECT doc_id, text, n_chars, n_chars // 50 AS lb,
               split_part(text, ' ', 1) || '|' || split_part(text, ' ', 2) AS ft2
        FROM documents
    ), r AS (
        SELECT doc_id, text, n_chars,
               min(doc_id) OVER (PARTITION BY lb, ft2) AS rep_id
        FROM t
    )
    SELECT a.doc_id AS id, a.rep_id,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
    FROM r a JOIN t b ON b.doc_id = a.rep_id
    WHERE a.doc_id > a.rep_id
      AND abs(a.n_chars - b.n_chars) <= 25
      AND levenshtein(a.text, b.text) <= 25
    """,
)
def dedup_near_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy dedup, cluster-representative contract: every doc is
    verified against its (length-bucket, first-two-tokens) block's
    REPRESENTATIVE (min doc_id) only — length band <= 25 chars first (a
    necessary condition for edit distance <= 25), then banded
    levenshtein(,, threshold), O(k*L) per pair instead of O(L^2).

    Two scale lessons are baked in.  Round 2: blocking on ONE token made
    block size grow with the corpus — 79.9 s at sf0.1; two-token blocks
    + the length band fixed the CANDIDATE count.  Round 3: the all-pairs
    within-block verification listed O(k^2) pairs per k-member near-dup
    cluster — the 10x scale-stress run measured 49x wall-clock at 10x
    data purely from pair-listing output.  Representative verification
    (the same contract minhash_dedup uses) restores O(k) per cluster —
    measured back to linear — and loses nothing for dedup:
    duplicate_clusters recovers full components from representative
    pairs.  Block cardinality remains vocabulary-driven, so for
    unbounded corpora this stays the PRECISION stage behind the
    MinHash/SimHash recall passes (operators/dedup.py)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "text",
        "n_chars",
        F.expr("n_chars div 50").alias("lb"),
        F.concat_ws(
            "|",
            F.split_part(F.col("text"), F.lit(" "), F.lit(1)),
            F.split_part(F.col("text"), F.lit(" "), F.lit(2)),
        ).alias("ft2"),
    )
    w = Window.partitionBy("lb", "ft2")
    cand = (
        t.withColumn("rep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("rep_id"))
        .select("doc_id", "text", "n_chars", "rep_id")
    )
    reps = t.select(
        F.col("doc_id").alias("r_id"),
        F.col("text").alias("r_text"),
        F.col("n_chars").alias("r_n"),
    )
    # banded levenshtein returns -1 when the distance exceeds the threshold
    dist = F.levenshtein(F.col("text"), F.col("r_text"), 25)
    pairs = (
        cand.join(reps, F.col("rep_id") == F.col("r_id"))
        .filter(F.abs(F.col("n_chars") - F.col("r_n")) <= 25)
        .select(
            F.col("doc_id").alias("id"),
            "rep_id",
            dist.cast("long").alias("dist"),
        )
    )
    # localCheckpoint = optimizer barrier: without it the dist >= 0 filter
    # is pushed into the join residual, which knocks the join out of
    # whole-stage codegen (measured 3.9s vs 1.0s at sf0.1 on the previous
    # formulation).  The materialized frame is only the candidate pairs.
    return pairs.localCheckpoint(eager=False).filter(F.col("dist") >= 0)


# Achlioptas-style sign matrix, fixed seed: 8 output dims x 64 input dims,
# entries in {-1, +1}; projections divide by sqrt(8).  Literal-embedded in
# both engines so the oracle is exact.
_N_OUT, _N_IN = 8, 64
_rng = random.Random(42)
_PROJ = [[_rng.choice((-1, 1)) for _ in range(_N_IN)] for _ in range(_N_OUT)]
_SQRT8 = "2.8284271247461903"


def _dot_sql(row: list[int], arr: str, one_based: bool) -> str:
    """Left-associated explicit sum — identical fold order in both engines.
    Every element is cast to DOUBLE first so neither engine's float32
    promotion rules affect the fold."""
    terms = [
        f"({'' if w == 1 else '-'}CAST({arr}[{i + (1 if one_based else 0)}] AS DOUBLE))"
        for i, w in enumerate(row)
    ]
    return " + ".join(terms)


def _projection_oracle() -> str:
    cols = ",\n           ".join(
        f"round(({_dot_sql(row, 'embedding', True)}) / {_SQRT8}, 6) AS y{j}"
        for j, row in enumerate(_PROJ)
    )
    return f"SELECT vec_id,\n           {cols}\n    FROM embeddings"


@register("embedding_random_projection", "Z48", oracle=_projection_oracle())
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded random projection (Johnson-Lindenstrauss) 64 -> 8 dims: the
    standard cheap dimensionality-reduction step before LSH/IVF indexing.
    The +-1 sign matrix is a compile-time literal, so the whole projection
    is ONE narrow codegen'd projection — no shuffle, no Python, no fitted
    model to ship.  (At 100 TB a learned PCA would fit on a driver-side
    sample exactly like the IVF centroids — see operators/similarity.py —
    but the JL matrix needs no fit at all.)  Explicit left-folded sums keep
    double-precision addition order identical to the oracle's."""
    emb = table(spark, sf_dir, "embeddings")
    exprs = [
        F.expr(
            f"round(({_dot_sql(row, 'embedding', False)}) / {_SQRT8}, 6)"
        ).alias(f"y{j}")
        for j, row in enumerate(_PROJ)
    ]
    return emb.select("vec_id", *exprs)
