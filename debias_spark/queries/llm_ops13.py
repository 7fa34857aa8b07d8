"""Round-5 LLM-pipeline wave 3 (Y34/Y35): distributed PCA top component
via Gram-matrix power iteration, and Flesch readability scoring — both
fully value-oracled (the PCA oracle unrolls the same three power steps in
SQL over the same Gram matrix).

No reference citation: the reference (SirHooke/debias-batch-processor)
has no vector or text-quality surface; north-star extensions per
SURVEY §2.H.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.registry import register

_DIM = 64

_GRAM_SCHEMA = StructType(
    [
        StructField("i", IntegerType()),
        StructField("j", IntegerType()),
        StructField("g", DoubleType()),
    ]
)


def _gram(emb: DataFrame) -> DataFrame:
    """Distributed Gram matrix G = X^T X as (i, j, g) rows: each Arrow
    batch contributes a dense 64x64 partial via one numpy matmul, then a
    single groupBy(i, j) sums partials.  This is the scalable reduction —
    per batch the shuffle carries DIM^2 doubles, never the vectors; at
    100 TB the combine tree sums fixed-size partials exactly like any
    mergeable sketch."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        idx = np.indices((_DIM, _DIM))
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            g = x.T @ x
            yield pd.DataFrame(
                {
                    "i": idx[0].ravel().astype("int32"),
                    "j": idx[1].ravel().astype("int32"),
                    "g": g.ravel(),
                }
            )

    return (
        emb.select("embedding")
        .mapInPandas(partial, schema=_GRAM_SCHEMA)
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
    )


def _pca_oracle() -> str:
    """DuckDB replay: same Gram matrix (explicit index cross join — no
    unnest-ordinality dependence), same uniform start vector, same three
    matvec+normalize steps, same sign fix (component with max |value|
    made positive) and rounding."""
    steps = []
    prev = "v0"
    for k in (1, 2, 3):
        steps.append(
            f"""w{k} AS MATERIALIZED (
        SELECT g.i AS i, sum(g.g * {prev}.val) AS wv
        FROM gram g JOIN {prev} ON {prev}.i = g.j GROUP BY 1
    ), v{k} AS MATERIALIZED (
        SELECT i, wv / sqrt((SELECT sum(wv * wv) FROM w{k})) AS val FROM w{k}
    )"""
        )
        prev = f"v{k}"
    chain = ", ".join(steps)
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), x AS MATERIALIZED (
        SELECT vec_id, r.i AS i, v[r.i + 1] AS xi
        FROM e CROSS JOIN range({_DIM}) r(i)
    ), gram AS MATERIALIZED (
        SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) AS g
        FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2
    ), v0 AS (
        SELECT i, 1.0 / sqrt({_DIM}) AS val FROM range({_DIM}) r(i)
    ), {chain}, eig AS (
        SELECT sqrt(sum(wv * wv)) AS e FROM w3
    ), sgn AS (
        SELECT CASE WHEN (SELECT val FROM v3
                          ORDER BY abs(val) DESC, i LIMIT 1) < 0
               THEN -1.0 ELSE 1.0 END AS s
    )
    SELECT CAST(v3.i AS INTEGER) AS idx,
           round(v3.val * sgn.s, 4) AS comp,
           round(eig.e, 2) AS eig_est
    FROM v3, sgn, eig
    """


@register("embedding_pca_power_topvec", "Y34", oracle=_pca_oracle())
def embedding_pca_power_topvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding cloud by
    power iteration on the Gram matrix — distributed linear algebra as
    DataFrame ops, fully value-oracled against an unrolled SQL replay.

    Stage 1 reduces X^T X to a DIM^2-row frame (one numpy matmul per
    Arrow batch + one fixed-size sum shuffle — see _gram).  Stage 2 runs
    three synchronous power steps ON the frame: matvec = equi-join
    (j = idx) + groupBy(i) sum, normalization = broadcast 1-row norm —
    per step the shuffle carries DIM doubles.  The direction's sign is
    fixed by making the max-|component| positive (eigenvectors are
    sign-ambiguous); eig_est = ||G v|| with unit v (the Rayleigh
    quotient).  Three steps are enough to pin the computation for the
    oracle; a production trainer iterates to tolerance with the identical
    per-step dataflow, and DIM^2 staying executor-resident is what makes
    this the 100 TB PCA shape (vectors never shuffle; only the fixed-size
    Gram and DIM-row vectors do).

    Rounding (4 dp comps, 2 dp eigenvalue) absorbs float-sum association
    differences across engines; the iteration itself is double-precision
    on both sides."""
    emb = table(spark, sf_dir, "embeddings")
    # the Gram frame feeds all three power steps -> checkpoint once
    gram = _gram(emb).localCheckpoint(eager=True)
    v = gram.select("i").distinct().select(
        F.col("i").alias("idx"), F.lit(1.0 / _DIM**0.5).alias("val")
    )
    w = None
    for _ in range(3):
        w = (
            gram.join(v, gram["j"] == v["idx"])
            .groupBy(gram["i"])
            .agg(F.sum(gram["g"] * v["val"]).alias("wv"))
        )
        norm = w.agg(F.sqrt(F.sum(F.col("wv") * F.col("wv"))).alias("nrm"))
        v = w.crossJoin(F.broadcast(norm)).select(
            F.col("i").alias("idx"), (F.col("wv") / F.col("nrm")).alias("val")
        )
        # v is read twice next step (join + its own norm chain) and the
        # matvec above contains a shuffle -> checkpoint per step
        v = v.localCheckpoint(eager=True)
    eig = w.agg(F.sqrt(F.sum(F.col("wv") * F.col("wv"))).alias("e"))
    sgn = (
        v.orderBy(F.abs("val").desc(), "idx")
        .limit(1)
        .select(F.when(F.col("val") < 0, -1.0).otherwise(1.0).alias("s"))
    )
    return (
        v.crossJoin(F.broadcast(sgn))
        .crossJoin(F.broadcast(eig))
        .select(
            F.col("idx").cast("int"),
            F.round(F.col("val") * F.col("s"), 4).alias("comp"),
            F.round("e", 2).alias("eig_est"),
        )
    )


@register(
    "text_readability_flesch",
    "Y35",
    oracle=f"""
    WITH c AS MATERIALIZED (
        SELECT doc_id,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
               greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1) AS n_words,
               len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syllables
        FROM documents
    )
    SELECT doc_id,
           CAST(n_sentences AS INTEGER) AS n_sentences,
           CAST(n_words AS INTEGER) AS n_words,
           CAST(n_syllables AS INTEGER) AS n_syllables,
           {floor_eps_sql("206.835 - 1.015 * n_words / n_sentences"
                          " - 84.6 * n_syllables / n_words", 100)} AS flesch_centi
    FROM c
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: sentences = punctuation runs
    [.!?]+, words = letter runs, syllables ~ vowel-group runs (the
    standard dictionary-free approximation) — three regexp_count passes,
    all codegen, no tokenizer UDF.  Clamps (>=1) keep the ratios defined
    on degenerate docs.  Complements the gopher/quality keys (Y2, llm_ops2)
    with the classic readability axis a training-data quality pipeline
    filters on.

    Scale shape: pure map-side projection — three regex scans per row, no
    shuffle at all."""
    docs = table(spark, sf_dir, "documents")
    n_sent = F.greatest(F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1))
    n_words = F.greatest(F.regexp_count("text", F.lit(r"[A-Za-z]+")), F.lit(1))
    n_syll = F.regexp_count("text", F.lit(r"[aeiouyAEIOUY]+"))
    c = docs.select(
        "doc_id",
        n_sent.cast("int").alias("n_sentences"),
        n_words.cast("int").alias("n_words"),
        n_syll.cast("int").alias("n_syllables"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("n_words") / F.col("n_sentences")
        - F.lit(84.6) * F.col("n_syllables") / F.col("n_words")
    )
    return c.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        floor_eps(score, 100).cast("long").alias("flesch_centi"),
    )
