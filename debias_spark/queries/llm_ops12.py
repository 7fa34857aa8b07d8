"""Round-5 LLM-pipeline wave 2 (Y32/Y33): k-means as value-oracled
DataFrame operators — the nearest-centroid ASSIGN step and one Lloyd
UPDATE step, both deterministic (fixed centroid init = the first k
vectors) so DuckDB replays them exactly with list_cosine_similarity.

The rows-only IVF key (Y5, llm_ops2.py) uses a seeded SAMPLE-fit for its
centroids, which is Spark-internal-RNG-deterministic but not portable;
these keys pin the init instead, trading realism of the init for a full
cross-engine value oracle of the iteration mechanics — the part that
actually runs at scale.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no vector surface; north-star extension per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.similarity import dot, l2_norm
from debias_spark.registry import register

_K = 8


def _assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cent_id, sim, v): each vector's nearest of the first-K
    centroids by rounded cosine, ties to the lowest centroid id."""
    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    base = emb.select(
        "vec_id", F.col("embedding").alias("v"), l2_norm(F.col("embedding")).alias("nrm")
    )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        "v",
        F.round(dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 4).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cent_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id", "sim", "v")
    )


_ASSIGN_CTE = f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS MATERIALIZED (
        SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {_K}
    ), s AS (
        SELECT e.vec_id, c.cent_id,
               round(list_cosine_similarity(e.v, c.cv), 4) AS sim
        FROM e CROSS JOIN c
    ), a AS MATERIALIZED (
        SELECT vec_id, cent_id, sim FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY sim DESC, cent_id) AS rn
            FROM s
        ) WHERE rn = 1
    )
"""


@register(
    "embedding_kmeans_assign",
    "Y32",
    oracle=_ASSIGN_CTE + """
    SELECT vec_id, cent_id, sim FROM a
    """,
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means ASSIGN step, fully value-oracled: every vector maps to its
    nearest of K=8 fixed centroids (the first K vectors — a deterministic
    init both engines share) by cosine, rounded to 4 dp with ties to the
    lowest centroid id so the argmax is reproducible across engines.

    Plan shape: the centroid frame broadcasts (K rows) against one corpus
    scan; similarity is the JVM zip_with/aggregate dot product; the
    per-vector argmax is a K-row window per vector.  This is THE
    iteration-dominating stage of k-means at 100 TB — one broadcast scan
    per round, no shuffle of the vectors themselves (only the window's
    per-vector K rows), and the same shape IVF assignment uses
    (llm_ops2.py Y5) with fit centroids instead of pinned ones."""
    return _assignment(spark, sf_dir).select("vec_id", "cent_id", "sim")


@register(
    "embedding_kmeans_update",
    "Y33",
    oracle=_ASSIGN_CTE + f"""
    SELECT a.cent_id,
           count(*) AS n_members,
           {floor_eps_sql("avg(e.v[1])", 10000)} AS m0_e4,
           {floor_eps_sql("avg(e.v[2])", 10000)} AS m1_e4,
           {floor_eps_sql("avg(e.v[3])", 10000)} AS m2_e4
    FROM a JOIN e ON e.vec_id = a.vec_id
    GROUP BY a.cent_id
    """,
)
def embedding_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means UPDATE (one Lloyd step), value-oracled: re-assign (as Y32),
    then per cluster emit the member count and the new centroid's first
    three coordinates (mean of the members, rounded) — enough to pin the
    whole mean-vector computation without hashing a 64-wide float array.

    Plan shape: assignment as Y32, then ONE groupBy(cent_id) whose
    aggregate carries 3 doubles + a count per cluster — the update
    shuffle is O(K * dims) regardless of corpus size, which is why Lloyd
    iterations scale: each round is broadcast-assign + tiny mean shuffle.
    A full trainer loops this pair with the update feeding the next
    round's broadcast (and at 100 TB adds minibatching), but the per-round
    dataflow is exactly what this key hashes.

    Means are emitted as floor-eps e4 INTEGERS, not round(x, 4): a
    round() tie on an exact .xxx5 mean once split the two engines here."""
    assigned = _assignment(spark, sf_dir)
    return assigned.groupBy("cent_id").agg(
        F.count("*").alias("n_members"),
        floor_eps(F.avg(F.get("v", 0).cast("double")), 10000).cast("long").alias("m0_e4"),
        floor_eps(F.avg(F.get("v", 1).cast("double")), 10000).cast("long").alias("m1_e4"),
        floor_eps(F.avg(F.get("v", 2).cast("double")), 10000).cast("long").alias("m2_e4"),
    )
