"""Round-7 wave 9 (Y57): semantic decontamination — embedding-space
test-set leakage screen.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no corpus surface; extension per SURVEY §2.H (pairs the n-gram
decontamination keys Y9/Y12 with the SEMANTIC screen modern eval
hygiene adds on top).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.similarity import dot, l2_norm
from debias_spark.registry import register

_HOLDOUT_MOD = 97  # vec_id % 97 == 0 -> held-out eval set (~1%)
_THRESH_E4 = 6000


@register(
    "embedding_decontamination_screen",
    "Y57",
    oracle=f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), h AS MATERIALIZED (
        SELECT vec_id AS holdout_id, v AS hv FROM e
        WHERE vec_id % {_HOLDOUT_MOD} = 0
    ), scored AS (
        SELECT c.vec_id, h.holdout_id,
               {floor_eps_sql("list_cosine_similarity(c.v, h.hv)", 10000)} AS sim_e4,
               row_number() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY {floor_eps_sql("list_cosine_similarity(c.v, h.hv)", 10000)}
                                DESC, h.holdout_id
               ) AS rn
        FROM e c CROSS JOIN h
        WHERE c.vec_id % {_HOLDOUT_MOD} <> 0
    )
    SELECT vec_id, holdout_id, sim_e4
    FROM scored
    WHERE rn = 1 AND sim_e4 >= {_THRESH_E4}
    ORDER BY vec_id
    """,
)
def embedding_decontamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: every training vector is screened
    against the held-out eval set (vec_id % 97 == 0, ~1%) and flagged
    when its best cosine reaches 0.60 — the embedding-space leakage
    check run AFTER n-gram decontamination (Y9/Y12), because paraphrased
    or lightly-edited eval items evade exact n-gram matches but not
    their embeddings.  The best match is an argmax over floor-eps e4
    INTEGERS (rank-position doctrine), holdout_id breaking ties.

    Scale shape: the holdout side is small by construction (an eval set,
    not a corpus) — it broadcasts, and the screen is ONE scan of the
    training corpus with a per-row bounded loop (the H8 exact shape; at
    larger eval sets the H8b LSH bucketing drops in unchanged).  The
    struct-max aggregate replaces a window: no per-vec_id sort, just a
    map-side-combined max."""
    emb = table(spark, sf_dir, "embeddings")
    hold = emb.filter(F.col("vec_id") % _HOLDOUT_MOD == 0).select(
        F.col("vec_id").alias("holdout_id"),
        F.col("embedding").alias("hv"),
        l2_norm(F.col("embedding")).alias("hn"),
    )
    corpus = emb.filter(F.col("vec_id") % _HOLDOUT_MOD != 0).select(
        "vec_id",
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    sim_e4 = floor_eps(
        dot(F.col("v"), F.col("hv")) / (F.col("nrm") * F.col("hn")), 10000
    ).cast("long")
    scored = corpus.crossJoin(F.broadcast(hold)).select(
        "vec_id", "holdout_id", sim_e4.alias("sim_e4")
    )
    # argmax by (sim_e4 desc, holdout_id asc) as a struct max — the
    # negated id makes lexicographic max pick the LOWEST id on sim ties
    best = scored.groupBy("vec_id").agg(
        F.max(F.struct(F.col("sim_e4"), (-F.col("holdout_id")).alias("nid"))).alias(
            "b"
        )
    )
    return (
        best.select(
            "vec_id",
            (-F.col("b.nid")).cast("long").alias("holdout_id"),
            F.col("b.sim_e4").alias("sim_e4"),
        )
        .filter(F.col("sim_e4") >= _THRESH_E4)
        .orderBy("vec_id")
    )
