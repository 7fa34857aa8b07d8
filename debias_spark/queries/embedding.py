"""Embedding keys over ``embeddings``: norms and dimension statistics,
k-means assign / update steps, PCA, PQ codebooks, int8 quantization,
random projection, binary Hamming and matryoshka / MMR re-ranking,
centroid drift, cluster ARI and the semantic decontamination screen.

The reference has no vector surface; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators import similarity
from debias_spark.operators.similarity import (
    PQ_DIMS,
    PQ_SUBSPACES,
    SEM_ASSIGN_CTE_DUCK,
    SEM_K,
    dot,
    l2_norm,
)
from debias_spark.registry import register


_PQ_CODES = 4  # codebook entries per subspace: first 4 vectors' subvectors


@register(
    "embedding_pq_codebook",
    "Y41",
    oracle=f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sub AS MATERIALIZED (
        SELECT vec_id, j,
               v[j * {PQ_DIMS} + 1 : (j + 1) * {PQ_DIMS}] AS sv
        FROM e CROSS JOIN range(0, {PQ_SUBSPACES}) r(j)
    ), cb AS MATERIALIZED (
        SELECT j, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {_PQ_CODES}
    ), scored AS (
        SELECT s.vec_id, s.j, cb.code,
               {floor_eps_sql("list_sum([ (s.sv[i] - cb.cv[i]) * (s.sv[i] - cb.cv[i])"
                              f" FOR i IN range(1, {PQ_DIMS} + 1) ])", 10000)} AS d_e4
        FROM sub s JOIN cb ON cb.j = s.j
    )
    SELECT vec_id, CAST(j AS INTEGER) AS subspace,
           CAST(code AS INTEGER) AS code, d_e4
    FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, j
                                     ORDER BY d_e4, code) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. 2011, public — the IVFPQ
    backbone): each 64-dim vector splits into 8 subvectors of 8 dims;
    each subvector is assigned the nearest of 4 pinned codebook entries
    (the first 4 vectors' subvectors — the same deterministic-init
    doctrine as the k-means keys) by squared L2, ties to the lowest
    code.  The emitted (vec_id, subspace, code, distance) rows ARE the
    compressed representation: 8 small codes replace 64 floats, an 8x
    memory cut before any index structure.

    Scale shape: the codebook is K x M tiny rows (broadcast); the
    assignment is one corpus scan with a per-row generator explode into
    M subvectors and a K-row window argmin per (vector, subspace) — the
    identical broadcast-assign shape as Y32, run M times narrower.
    Distances emit floor-eps e4; the fold order inside each squared-L2
    is left-to-right in both engines, so the doubles match bit-for-bit."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    sub = e.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))).alias("j"),
        "v",
    ).select(
        "vec_id",
        "j",
        F.expr(f"slice(v, j * {PQ_DIMS} + 1, {PQ_DIMS})").alias("sv"),
    )
    cb = sub.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("j").alias("cj"),
        F.col("vec_id").alias("code"),
        F.col("sv").alias("cv"),
    )
    sqd = F.aggregate(
        F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = sub.join(F.broadcast(cb), sub["j"] == cb["cj"]).select(
        "vec_id",
        "j",
        "code",
        floor_eps(sqd, 10000).cast("long").alias("d_e4"),
    )
    w = Window.partitionBy("vec_id", "j").orderBy("d_e4", "code")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("j").cast("int").alias("subspace"),
            F.col("code").cast("int").alias("code"),
            "d_e4",
        )
    )


@register(
    "embedding_norms_arrow",
    "Y15",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 4) + 0.0
               AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms computed through ``mapInArrow`` — the zero-copy Arrow
    RecordBatch API (the lowest-overhead Python hook Spark has: no
    pandas conversion at all).  The list<float> column is reshaped from
    the Arrow buffer into one (rows x dims) numpy matrix per batch; one
    vectorized einsum per batch replaces per-row folds.  Same values as
    the pure-expression norm (embedding_norm_stats) — this key exists to
    exercise the remaining Python-vectorization surface alongside
    pandas_udf (T3), applyInPandas (T4), mapInPandas (MM1/F1), UDTF
    (T6), and applyInPandasWithState (H16b).  Rounded to 4 dp, same
    determinism class as the cosine keys."""
    import pyarrow as pa

    from debias_spark.catalog import table as _table

    def norms(batches):
        import numpy as np

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("vec_id")
            emb = batch.column("embedding")
            flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            mat = flat.reshape(len(emb), -1)
            n = np.round(np.sqrt(np.einsum("ij,ij->i", mat, mat)), 4) + 0.0
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(n, type=pa.float64())], ["vec_id", "l2_norm"]
            )

    emb = _table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInArrow(norms, schema="vec_id long, l2_norm double")


# k-means as value-oracled DataFrame operators (Y32 assign, Y33 update):
# both steps are deterministic (fixed centroid init = the first k vectors)
# so DuckDB replays them exactly with list_cosine_similarity.  The rows-only
# IVF key (Y5, similarity_ann_ivf) uses a seeded SAMPLE-fit for its
# centroids, which is Spark-internal-RNG-deterministic but not portable;
# these keys pin the init instead, trading realism of the init for a full
# cross-engine value oracle of the iteration mechanics — the part that
# actually runs at scale.
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
    (similarity_ann_ivf, Y5) with fit centroids instead of pinned ones."""
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


_MAT_COARSE_DIMS = 16


_MAT_PROBES = 5


_MAT_SHORTLIST = 20


_MAT_TOPK = 5


@register(
    "embedding_matryoshka_rerank",
    "Y39",
    oracle=f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CAST(embedding[1:{_MAT_COARSE_DIMS}] AS DOUBLE[]) AS vc
        FROM embeddings
    ), p AS MATERIALIZED (
        SELECT vec_id AS query_id, v AS pv, vc AS pvc FROM e
        WHERE vec_id < {_MAT_PROBES}
    ), coarse AS MATERIALIZED (
        SELECT query_id, vec_id AS cand_id, v, pv,
               {floor_eps_sql("list_cosine_similarity(pvc, vc)", 10000)} AS coarse_e4
        FROM p JOIN e ON e.vec_id <> p.query_id
    ), shortlist AS (
        SELECT query_id, cand_id, v, pv FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY coarse_e4 DESC, cand_id) AS rn
            FROM coarse
        ) WHERE rn <= {_MAT_SHORTLIST}
    ), fine AS (
        SELECT query_id, cand_id,
               {floor_eps_sql("list_cosine_similarity(pv, v)", 10000)} AS sim_e4
        FROM shortlist
    )
    SELECT query_id, CAST(rn AS INTEGER) AS rank, cand_id, sim_e4 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim_e4 DESC, cand_id) AS rn
        FROM fine
    ) WHERE rn <= {_MAT_TOPK}
    """,
)
def embedding_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka coarse-to-fine retrieval (Kusupati et al. 2022, public):
    stage 1 scores probes against the corpus using only the FIRST 16
    dimensions (MRL-truncated prefix) and keeps a top-20 shortlist;
    stage 2 reranks the shortlist with the full 64-dim cosine and emits
    the top-5 — the standard two-stage ANN serving pattern where the
    cheap prefix pass prunes ~an order of magnitude of full-width work.

    Scale shape: stage 1 is the broadcast-probe scan of H8 at 1/4 the
    arithmetic and is the only corpus-wide pass; stage 2 touches
    probes x 20 rows.  Both sims emit floor-eps e4 integers and every
    window tie breaks on cand_id, so shortlist membership and final
    ranks are deterministic in both engines."""
    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
        F.slice(F.col("embedding"), 1, _MAT_COARSE_DIMS).alias("vc"),
        l2_norm(F.slice(F.col("embedding"), 1, _MAT_COARSE_DIMS)).alias("ncm"),
    )
    probes = emb.filter(F.col("vec_id") < _MAT_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("pv"),
        l2_norm(F.col("embedding")).alias("pnrm"),
        F.slice(F.col("embedding"), 1, _MAT_COARSE_DIMS).alias("pvc"),
        l2_norm(F.slice(F.col("embedding"), 1, _MAT_COARSE_DIMS)).alias("pncm"),
    )
    coarse_e4 = floor_eps(
        dot(F.col("pvc"), F.col("vc")) / (F.col("pncm") * F.col("ncm")), 10000
    ).cast("long")
    scored = (
        base.crossJoin(F.broadcast(probes))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", "v", "nrm", "pv", "pnrm",
                coarse_e4.alias("coarse_e4"))
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("coarse_e4"), F.asc("cand_id")
    )
    shortlist = (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= _MAT_SHORTLIST)
        .drop("rn", "coarse_e4")
    )
    sim_e4 = floor_eps(
        dot(F.col("pv"), F.col("v")) / (F.col("pnrm") * F.col("nrm")), 10000
    ).cast("long")
    fine = shortlist.select("query_id", "cand_id", sim_e4.alias("sim_e4"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim_e4"), F.asc("cand_id"))
    return (
        fine.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _MAT_TOPK)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "cand_id", "sim_e4")
    )


_HAM_PROBES = 10


_HAM_TOPK = 5


def _pack_expr(offset: int) -> str:
    """Spark SQL: pack sign bits of v[offset+1 .. offset+32] into a LONG
    (bit j set iff that dimension is positive).  32 bits per word keeps
    every shift far from the sign bit in both engines."""
    return (
        "aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) -> acc + "
        f"IF(element_at(v, j + {offset + 1}) > 0, shiftleft(CAST(1 AS BIGINT), j), "
        "CAST(0 AS BIGINT)))"
    )


def _pack_duck(offset: int) -> str:
    return (
        f"list_sum([CASE WHEN v[j + {offset}] > 0 THEN (1::BIGINT << (j - 1)) "
        "ELSE 0::BIGINT END FOR j IN range(1, 33)])"
    )


@register(
    "embedding_bitpack_hamming_topk",
    "Y43",
    oracle=f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), packed AS MATERIALIZED (
        SELECT vec_id,
               CAST({_pack_duck(0)} AS BIGINT) AS w0,
               CAST({_pack_duck(32)} AS BIGINT) AS w1
        FROM e
    ), p AS (
        SELECT vec_id AS query_id, w0 AS pw0, w1 AS pw1 FROM packed
        WHERE vec_id < {_HAM_PROBES}
    ), scored AS (
        SELECT query_id, vec_id AS cand_id,
               CAST(bit_count(xor(w0, pw0)) + bit_count(xor(w1, pw1)) AS BIGINT)
                   AS hamming
        FROM p JOIN packed ON packed.vec_id <> p.query_id
    )
    SELECT query_id, CAST(rn AS INTEGER) AS rank, cand_id, hamming FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY hamming, cand_id) AS rn
        FROM scored
    ) WHERE rn <= {_HAM_TOPK}
    """,
)
def embedding_bitpack_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding retrieval: pack each 64-dim vector's SIGN BITS
    into two 32-bit words, score probe-vs-corpus by Hamming distance
    (bit_count of XOR), top-5 per probe — the all-integer ANN fast path
    (sign codes are 16x smaller than fp32 and the distance is two CPU
    instructions), the same first-stage shape production binary-embedding
    systems run before an exact rerank (Y39's pattern).

    Every value in this key is an INTEGER — packing, XOR, popcount,
    ranking — so the oracle is exact with no rounding discipline needed
    at all.  Scale shape: packing is one corpus scan; scoring is the
    broadcast-probe pattern of H8 at 1/16 the bytes; the per-probe top-k
    is a K-row window."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    packed = e.select(
        "vec_id",
        F.expr(_pack_expr(0)).alias("w0"),
        F.expr(_pack_expr(32)).alias("w1"),
    )
    probes = packed.filter(F.col("vec_id") < _HAM_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("pw0"),
        F.col("w1").alias("pw1"),
    )
    hamming = (
        F.bit_count(F.col("w0").bitwiseXOR(F.col("pw0")))
        + F.bit_count(F.col("w1").bitwiseXOR(F.col("pw1")))
    ).cast("long")
    scored = (
        packed.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), hamming.alias("hamming"))
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HAM_TOPK)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "cand_id", "hamming")
    )


_K_CAND = 10  # relevance candidates fed to MMR


_LAMBDA = "0.7"  # relevance weight; (1 - lambda) penalizes redundancy


# Greedy MMR unrolled to 3 selections.  rel/pair sims enter as floor-eps
# e4 INTEGERS (debias_spark.numeric), so no rounding tie can flip an
# argmax.  The MMR score 0.7*rel - 0.3*ms is then arithmetic on the same small integers,
# so every comparison is over bit-identical doubles; ties break on
# cand_id.  The same tail text runs on Spark (over checkpointed views)
# and DuckDB (over MATERIALIZED CTEs).
_MMR_TAIL_SQL = """
WITH {cte}sel1 AS (
    SELECT cand_id, sim AS rel FROM {rel}
    ORDER BY sim DESC, cand_id LIMIT 1
), sc2 AS (
    SELECT r.cand_id, r.sim AS rel, max(p.sim) AS ms
    FROM {rel} r
    JOIN {pairs} p ON p.a = r.cand_id
    WHERE p.b IN (SELECT cand_id FROM sel1)
      AND r.cand_id NOT IN (SELECT cand_id FROM sel1)
    GROUP BY r.cand_id, r.sim
), sel2 AS (
    SELECT cand_id, rel FROM sc2
    ORDER BY {lam} * rel - (1 - {lam}) * ms DESC, cand_id LIMIT 1
), sc3 AS (
    SELECT r.cand_id, r.sim AS rel, max(p.sim) AS ms
    FROM {rel} r
    JOIN {pairs} p ON p.a = r.cand_id
    WHERE p.b IN (SELECT cand_id FROM sel1 UNION ALL
                  SELECT cand_id FROM sel2)
      AND r.cand_id NOT IN (SELECT cand_id FROM sel1 UNION ALL
                            SELECT cand_id FROM sel2)
    GROUP BY r.cand_id, r.sim
), sel3 AS (
    SELECT cand_id, rel FROM sc3
    ORDER BY {lam} * rel - (1 - {lam}) * ms DESC, cand_id LIMIT 1
)
SELECT rank, cand_id, CAST(rel AS BIGINT) AS rel_e4
FROM (
    SELECT 1 AS rank, cand_id, rel FROM sel1
    UNION ALL SELECT 2, cand_id, rel FROM sel2
    UNION ALL SELECT 3, cand_id, rel FROM sel3
)
ORDER BY rank
"""


_MMR_ORACLE_CTES = f"""e AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), rel AS MATERIALIZED (
    SELECT cand_id, sim FROM (
        SELECT c.vec_id AS cand_id,
               {floor_eps_sql("list_cosine_similarity(q.v, c.v)", 10000)} AS sim,
               row_number() OVER (
                   ORDER BY {floor_eps_sql("list_cosine_similarity(q.v, c.v)", 10000)} DESC,
                            c.vec_id) AS rn
        FROM e q JOIN e c ON c.vec_id <> q.vec_id
        WHERE q.vec_id = 0
    ) WHERE rn <= {_K_CAND}
), pairs AS MATERIALIZED (
    SELECT a.cand_id AS a, b.cand_id AS b,
           {floor_eps_sql("list_cosine_similarity(ea.v, eb.v)", 10000)} AS sim
    FROM rel a JOIN rel b ON a.cand_id <> b.cand_id
    JOIN e ea ON ea.vec_id = a.cand_id
    JOIN e eb ON eb.vec_id = b.cand_id
), """


@register(
    "embedding_mmr_rerank",
    "Y48",
    oracle=_MMR_TAIL_SQL.format(
        cte=_MMR_ORACLE_CTES, rel="rel", pairs="pairs", lam=_LAMBDA
    ),
)
def embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking: retrieve the top-10 cosine candidates
    for probe vector 0 (the H8 exact-retrieval path), then greedily pick
    3 by maximal marginal relevance — each step takes
    argmax(0.7*relevance - 0.3*max-similarity-to-already-selected), so a
    candidate nearly identical to an earlier pick is displaced by a less
    redundant one.  The greedy argmax chain is unrolled to three
    SQL-stated selections (LIMIT 1 with cand_id tie-break), and the
    DuckDB oracle replays candidates, pairwise sims, and all three
    selections value-for-value.

    Determinism: every similarity enters as a floor-eps e4 integer
    before any comparison — these values sit in RANK position, where a
    flipped tie would change which candidate gets selected; the MMR
    scores are arithmetic on those shared integers.

    Scale shape: retrieval is the H8 broadcast-probe scan (or the H8b
    LSH-bucketed variant at corpus scale); everything after operates on
    the K-candidate frame — K^2 pairs and three K-row argmaxes, constants
    independent of corpus size.  The candidate+pair frames are
    localCheckpointed once (10 + 90 rows) so the unrolled chain replans
    nothing upstream."""
    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("v"),
        similarity.l2_norm(F.col("embedding")).alias("nrm"),
    )
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q"),
        similarity.l2_norm(F.col("embedding")).alias("qn"),
    )
    scored = (
        F.broadcast(probe)
        .crossJoin(base)
        .filter(F.col("cand_id") != 0)
        .select(
            "cand_id",
            floor_eps(
                similarity.dot(F.col("q"), F.col("v"))
                / (F.col("qn") * F.col("nrm")),
                10000,
            )
            .cast("long")
            .alias("sim"),
        )
    )
    # top-K via orderBy+limit = TakeOrderedAndProject (per-partition heap
    # + driver merge of K rows), never a single-task global window over
    # the corpus-sized scored frame.
    rel = (
        scored.orderBy(F.desc("sim"), F.asc("cand_id"))
        .limit(_K_CAND)
        .select("cand_id", "sim")
        .localCheckpoint(eager=True)
    )

    vecs = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("v")
    )
    cand_vecs = rel.select("cand_id").join(vecs, "cand_id")
    a = cand_vecs.select(
        F.col("cand_id").alias("a"), F.col("v").alias("va")
    )
    b = cand_vecs.select(
        F.col("cand_id").alias("b"), F.col("v").alias("vb")
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            floor_eps(
                similarity.dot(F.col("va"), F.col("vb"))
                / (
                    similarity.l2_norm(F.col("va"))
                    * similarity.l2_norm(F.col("vb"))
                ),
                10000,
            )
            .cast("long")
            .alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    return spark.sql(
        _MMR_TAIL_SQL.format(cte="", rel="{rel}", pairs="{pairs}", lam=_LAMBDA),
        rel=rel,
        pairs=pairs,
    )


@register(
    "embedding_centroid_drift",
    "Y52",
    oracle=f"""
    WITH dims AS (
        SELECT unnest(range(1, (SELECT max(len(embedding)) FROM embeddings)
                               + 1)) AS i
    ), e AS (
        SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, dims
    ), ls AS MATERIALIZED (
        SELECT label, i, sum(v) AS s, count(v) AS cnt
        FROM e WHERE v IS NOT NULL GROUP BY 1, 2
    ), g AS (
        SELECT i, sum(s) AS gs FROM ls GROUP BY 1
    )
    SELECT ls.label,
           CAST(max(ls.cnt) AS BIGINT) AS n_vecs,
           {floor_eps_sql("sum(ls.s * g.gs)"
                          " / (sqrt(sum(ls.s * ls.s)) * sqrt(sum(g.gs * g.gs)))", 1000000)}
               AS cos_e6
    FROM ls JOIN g ON g.i = ls.i
    GROUP BY ls.label
    ORDER BY ls.label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift: cosine between each label's
    centroid and the global corpus centroid — the shard-health monitor
    an embedding pipeline watches (a label whose centroid swings away
    from the corpus mean signals distribution drift or a bad encoder
    batch).  Cosine is computed on the SUM vectors directly — it is
    scale-invariant, so dividing by counts would only add float error;
    the global sum vector derives from the per-label sums (never a
    second corpus pass), keeping both engines' addition trees shallow.

    Scale shape: one posexplode feeds one map-side-combined
    (label, dim) aggregate — the only shuffle is |labels| x |dims|
    partial rows, never raw vectors; that tiny frame is
    localCheckpointed (two consumers, recompute would re-explode the
    corpus) and the global rollup + broadcast join + per-label fold all
    run on at most a few hundred rows."""
    emb = table(spark, sf_dir, "embeddings")
    ls = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(
            F.sum(F.col("v").cast("double")).alias("s"),
            F.count("*").alias("cnt"),
        )
        .localCheckpoint()
    )
    g = ls.groupBy("i").agg(F.sum("s").alias("gs"))
    return (
        ls.join(F.broadcast(g), "i")
        .groupBy("label")
        .agg(
            F.max("cnt").alias("n_vecs"),
            floor_eps(
                F.sum(F.col("s") * F.col("gs"))
                / (
                    F.sqrt(F.sum(F.col("s") * F.col("s")))
                    * F.sqrt(F.sum(F.col("gs") * F.col("gs")))
                ),
                1000000,
            )
            .cast("long")
            .alias("cos_e6"),
        )
        .orderBy("label")
    )


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


@register(
    "embedding_cluster_ari",
    "Y59",
    oracle=SEM_ASSIGN_CTE_DUCK + f"""
    , ct AS MATERIALIZED (
        SELECT a.cent_id, e.label, count(*) AS n
        FROM a JOIN embeddings e ON e.vec_id = a.vec_id
        GROUP BY 1, 2
    ), m AS (
        SELECT CAST(sum(n * (n - 1) / 2) AS HUGEINT) AS s,
               CAST(sum(n) AS HUGEINT) AS total
        FROM ct
    ), ra AS (
        SELECT CAST(sum(an * (an - 1) / 2) AS HUGEINT) AS a
        FROM (SELECT sum(n) AS an FROM ct GROUP BY cent_id)
    ), rb AS (
        SELECT CAST(sum(bn * (bn - 1) / 2) AS HUGEINT) AS b
        FROM (SELECT sum(n) AS bn FROM ct GROUP BY label)
    )
    SELECT CAST(m.total AS BIGINT) AS n_vecs,
           CAST(m.s AS BIGINT) AS pair_agree,
           {floor_eps_sql("CAST(2 * (m.s * (m.total * (m.total - 1) / 2)"
                          " - ra.a * rb.b) AS DOUBLE)"
                          " / CAST((ra.a + rb.b) * (m.total * (m.total - 1) / 2)"
                          " - 2 * ra.a * rb.b AS DOUBLE)", 1000000)} AS ari_e6
    FROM m, ra, rb
    """,
)
def embedding_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the pinned-init k-means assignment
    (the Y32/Y38 clustering, K=8) and the ground-truth labels — the
    standard external clustering-quality metric a training pipeline
    tracks when embeddings are re-fit (ARI ~0 means the clusters ignore
    the labels; 1 means they recover them).  Every Rand term is a pair
    COUNT (sum of C(n,2) over the contingency table and its margins), so
    the whole statistic is a ratio of exact integers carried in
    decimal/hugeint — one correctly-rounded division at the end,
    floor-eps e6, bit-stable (rule 18; no transcendentals).

    Scale shape: assignment is one broadcast-K scan; the contingency is
    a (K x labels) map-side-combined aggregate; everything after is
    arithmetic on a bounded frame."""
    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    base = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "cent_id",
        floor_eps(dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 10000)
        .cast("long")
        .alias("sim_e4"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim_e4"), F.asc("cent_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "cent_id")
    )
    ct = assigned.groupBy("cent_id", "label").agg(F.count("*").alias("n"))

    def dec(c):
        return c.cast("decimal(38,0)")

    s = ct.agg(
        F.sum(dec(F.col("n") * (F.col("n") - 1) / 2)).alias("s"),
        F.sum(dec(F.col("n"))).alias("total"),
    )
    ra = (
        ct.groupBy("cent_id")
        .agg(F.sum("n").alias("an"))
        .agg(F.sum(dec(F.col("an") * (F.col("an") - 1) / 2)).alias("a"))
    )
    rb = (
        ct.groupBy("label")
        .agg(F.sum("n").alias("bn"))
        .agg(F.sum(dec(F.col("bn") * (F.col("bn") - 1) / 2)).alias("b"))
    )
    j = s.crossJoin(F.broadcast(ra)).crossJoin(F.broadcast(rb))
    n2 = dec(F.col("total") * (F.col("total") - 1) / 2)
    num = (2 * (F.col("s") * n2 - F.col("a") * F.col("b"))).cast("double")
    den = ((F.col("a") + F.col("b")) * n2 - 2 * F.col("a") * F.col("b")).cast(
        "double"
    )
    return j.select(
        F.col("total").cast("long").alias("n_vecs"),
        F.col("s").cast("long").alias("pair_agree"),
        floor_eps(num / den, 1000000).cast("long").alias("ari_e6"),
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


@register(
    "embedding_quantize_int8",
    "Z8",
    oracle="""
    WITH q AS (
        SELECT vec_id, mx,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / mx) AS BIGINT)) AS q8
        FROM (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings
        )
    )
    SELECT vec_id,
           round(mx, 6) + 0.0 AS scale_max_abs,
           CAST(list_sum(q8) AS BIGINT) AS q8_sum,
           substr(md5(array_to_string(q8, ',')), 1, 16) AS q8_digest
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (max-abs scaling) — the
    storage/serving compression step for embedding corpora (4x smaller, and
    int8 dot products for rescoring).  Single scan, pure codegen transform;
    the scale factor is emitted so dequantization is lossless to within
    rounding.  The quantized vector is compared across engines through a
    digest + sum (the oracle gate hashes scalar cells; array-typed output
    cells are not portably comparable), computed from the same int values a
    sink would store as TINYINT."""
    emb = table(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    base = emb.select("vec_id", "embedding", mx.alias("_mx"))
    q8 = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 127.0 / F.col("_mx")).cast("bigint")
    )
    return base.select(
        "vec_id",
        (F.round(F.col("_mx"), 6) + 0.0).alias("scale_max_abs"),
        F.aggregate(q8, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q8_sum"),
        F.substring(
            F.md5(F.concat_ws(",", F.transform(q8, lambda x: x.cast("string")))), 1, 16
        ).alias("q8_digest"),
    )


# The projection matrix is generated from a fixed seed at import time and
# embedded as LITERALS in both the Spark expression and the oracle SQL —
# per SCALE.md's py4j finding, the 8x64-term expression is assembled as SQL
# text and parsed once with F.expr, not built Column-by-Column.

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


@register(
    "embedding_dim_stats",
    "X72",
    oracle="""
    WITH x AS (
        SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings
    )
    SELECT dim, count(*) AS n,
           round(sum(v) / count(*), 6) AS mean,
           round((sum(v * v) - sum(v) * sum(v) / count(*)) / count(*), 6)
               AS var_pop
    FROM x GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moment profile of the embedding column (mean and
    population variance per coordinate) — the screening pass before
    whitening/PCA/quantizer design: dead dims (var ~ 0) and scale
    outliers show up here.  posexplode keeps dim attribution columnar;
    the aggregate is map-side-combined sums of v and v² per dim (64
    groups — trivially mergeable at any corpus size).  Both engines sum
    float64 and round to 6 dp; the values are O(0.1) so the last-ulp
    ordering difference sits ~7 orders below the rounding grain."""
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v")
    ).select(F.col("dim0").cast("long").alias("dim"), "v")
    return x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.sum("v") / F.count("*"), 6).alias("mean"),
        F.round(
            (F.sum(F.col("v") * F.col("v")) - F.sum("v") * F.sum("v") / F.count("*"))
            / F.count("*"),
            6,
        ).alias("var_pop"),
    )
