"""Similarity search over embedding columns (array<float>), Spark-first.

Brute-force cosine top-k is the exact baseline: probes (a bounded query
set) broadcast against the corpus, dot products via zip_with/aggregate —
all JVM-side, no Python.  Norms are precomputed per row BEFORE the join so
the O(probes x corpus) stage does one fused multiply-add pass per pair,
not three.

The scale path is LSH bucketing (random-hyperplane signs): each vector maps
to a bucket; probes only score candidates in their own bucket, cutting the
scored pairs by ~2^planes.  Hyperplanes are generated from a fixed seed so
the index is reproducible.  (An IVF variant is the same shape with k-means
centroids instead of hyperplanes.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.numeric import EPS, floor_eps, floor_eps_sql


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    emb: DataFrame,
    probe_filter: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Exact cosine top-k: probes (rows matching probe_filter) vs the whole
    corpus.  Returns (query_id, cand_id, sim) with sim rounded and ties
    broken on cand_id, so the top-k set is deterministic."""
    base = emb.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    probes = emb.filter(probe_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    scored = (
        F.broadcast(probes)
        .crossJoin(base)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("nrm")), decimals).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "sim")
    )


def _score_batches_factory(probes_pd, vec_col: str, id_col: str, decimals: int):
    """mapInPandas scorer: per Arrow batch, one numpy matrix-matrix product
    scores every (probe, row) pair — the vectorized replacement for the
    per-element Catalyst lambda fold (~20x at 64 dims)."""
    import numpy as np

    q_ids = probes_pd["query_id"].to_numpy()
    q = np.stack(probes_pd["q"].to_numpy()).astype(np.float64)
    qn = np.sqrt((q * q).sum(axis=1))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = np.sqrt((v * v).sum(axis=1))
            sims = (q @ v.T) / (qn[:, None] * nrm[None, :])
            n_q, n_v = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n_v),
                    "cand_id": np.tile(pdf[id_col].to_numpy(), n_q),
                    "sim": np.round(sims, decimals).ravel() + 0.0,
                }
            )

    return score


def cosine_scores_arrow(
    emb: DataFrame,
    probe_filter: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """(query_id, cand_id, sim) for every probe x corpus pair, scored with
    numpy matrix math inside mapInPandas.  The bounded probe set is pulled
    to the driver once (it is small by contract) and shipped in the task
    closure; the corpus streams through in Arrow batches — no shuffle at
    all until a consumer aggregates."""
    probes_pd = (
        emb.filter(probe_filter)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q"))
        .toPandas()
    )
    scorer = _score_batches_factory(probes_pd, vec_col, id_col, decimals)
    return emb.select(id_col, vec_col).mapInPandas(
        scorer, schema="query_id long, cand_id long, sim double"
    )


def cosine_pairs_above_arrow(
    emb: DataFrame,
    probe_filter: Column,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, probe set vs corpus: keep
    pairs with query_id < cand_id and rounded cosine >= threshold (the
    threshold applies after rounding, so the cut is reproducible across
    engines), scored by ``cosine_scores_arrow``."""
    return cosine_scores_arrow(emb, probe_filter, id_col, vec_col, decimals).filter(
        (F.col("query_id") < F.col("cand_id")) & (F.col("sim") >= threshold)
    )


def hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH (fixed seed: the index
    is reproducible run-to-run and across executors)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit p = sign(v . plane_p)."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(c)) for c in plane])
        bit = (dot(vec_col, plane_col) > 0).cast("long")
        bucket = bucket.bitwiseOR(F.shiftleft(bit, p))
    return bucket


def ann_cosine_topk(
    emb: DataFrame,
    probe_filter: Column,
    k: int = 3,
    n_planes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only candidates in the probe's LSH bucket.
    With p planes the scored-pair count drops ~2^p vs brute force; recall is
    tunable via p (fewer planes = bigger buckets = higher recall).  Bucket
    ids come from the Arrow-vectorized matmul UDF (one numpy product per
    batch); lsh_bucket remains the expression-level spec and the two are
    asserted equal in tests."""
    planes = hyperplanes(n_planes, dim)
    bucket_of = lsh_bucket_vectorized(planes)
    indexed = emb.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),
        bucket_of(F.col(vec_col)).alias("bucket"),
    )
    probes = emb.filter(probe_filter).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q"),
        l2_norm(F.col(vec_col)).alias("qn"),
        bucket_of(F.col(vec_col)).alias("bucket"),
    )
    scored = (
        probes.join(indexed, "bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("nrm")), 4).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "sim")
    )


def ivf_pinned_centroids(k: int = 8, dim: int = 64, seed: int = 11) -> list[list[float]]:
    """Deterministic PINNED centroids for the value-oracled IVF twin
    (Y5b): in production the IVF index definition persists the centroids
    a prior k-means fit produced and every later assignment/probe uses
    those frozen literals — this generator stands in for that persisted
    artifact (seeded, rounded to 6 decimals so the DuckDB oracle embeds
    the identical floats), exactly how ``hyperplanes`` pins the sign-LSH
    index (H8b)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((k, dim)).round(6).tolist()


def kmeans_fit_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    fraction: float = 0.5,
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means on a bounded, seeded sample, fitted at
    the driver with numpy; returns centroids as plain lists.

    This is the 100 TB-correct shape for IVF index building: the fit input
    must be a bounded sample no matter the corpus size, the fit itself is a
    few ms of numpy on that sample, and only the ASSIGNMENT pass touches
    the full corpus (one scan, broadcast-literal centroids).  Replaces an
    MLlib KMeans.fit whose per-iteration Spark jobs dominated the query
    (~1.2 s of job overhead at sf0.1 for 2000x64 floats).

    Deterministic: seeded sample, partition-ordered toPandas, first-k-rows
    init, argmin ties to the lowest index.
    """
    rows = df.select(vec_col).sample(fraction=fraction, seed=seed).toPandas()
    x = np.array(rows[vec_col].tolist(), dtype=np.float64)
    if len(x) == 0:
        raise ValueError("kmeans_fit_sample: empty sample")
    k = min(k, len(x))
    centers = x[:k].copy()
    for _ in range(max_iter):
        dists = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=-1)
        assign = dists.argmin(axis=1)
        new_centers = np.array(
            [x[assign == j].mean(axis=0) if (assign == j).any() else centers[j] for j in range(k)]
        )
        if np.allclose(new_centers, centers):
            break
        centers = new_centers
    return centers.tolist()


def assign_cell(
    vec_col: Column, centroids: list[list[float]], score_round: int | None = None
) -> Column:
    """Nearest-centroid cell id (0-based) as a codegen-friendly expression:
    argmax_j (v . c_j - |c_j|^2 / 2), the squared-distance argmin identity,
    with ties to the lowest cell.  Centroids are literal arrays, i.e.
    broadcast to every task for free in the plan itself.  ``score_round``
    rounds each per-centroid score to that many decimals BEFORE the
    argmax: a cross-engine oracle must apply the same rounding on its
    side, so a near-tie argmax can never diverge on accumulation order
    (SIMD/FMA) between engines (r10 advice)."""
    scores = []
    for j, c in enumerate(centroids):
        # F.lit of a 1-D NUMPY array analyzes to ONE true Literal node;
        # F.lit of a plain python list analyzes to a CreateArray tree of 64
        # element literals that the optimizer must constant-fold on every
        # first compile (verified on PySpark 4.1.2 via queryExecution()
        # .analyzed(): list -> `array(1.0, ...)`, ndarray -> `[1.0,...]`)
        c_col = F.lit(np.asarray([float(v) for v in c], dtype=np.float64))
        half_sq = float(sum(v * v for v in c) / 2.0)
        s = dot(vec_col, c_col) - F.lit(half_sq)
        if score_round is not None:
            s = F.round(s, score_round)
        scores.append(
            F.struct(
                s.alias("s"),
                F.lit(-j).alias("ni"),
            )
        )
    # array_max over (score, -idx) structs: one evaluation of the score
    # array per row (array_position(arr, array_max(arr)) would evaluate the
    # k dot products twice), lexicographic max breaks ties to the lowest j.
    return (-F.array_max(F.array(*scores)).getField("ni")).cast("int")


def assign_cell_vectorized(centroids: list[list[float]]):
    """Arrow-vectorized nearest-centroid assignment: one numpy matmul per
    batch instead of k interpreted dot-product lambdas per row (measured
    ~5x faster at sf0.1 even for k=8, dim=64).  Same argmax-with-
    lowest-index tie-break as assign_cell; centroids are closed over and
    shipped once per task.  Use this on the hot path, assign_cell as the
    expression-level spec."""
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64).T  # dim x k
    half_sq = (c * c).sum(axis=0) / 2.0

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        x = np.array(v.tolist(), dtype=np.float64)  # n x dim
        return pd.Series((x @ c - half_sq).argmax(axis=1).astype("int32"))

    return _assign


def lsh_bucket_vectorized(planes: list[list[float]]):
    """Arrow-vectorized sign-LSH bucket id: all plane dot products in one
    numpy matmul per batch.  Bit p = sign(v . plane_p), identical to
    lsh_bucket (the expression spec)."""
    from pyspark.sql.functions import pandas_udf

    p = np.asarray(planes, dtype=np.float64).T  # dim x n_planes
    weights = (1 << np.arange(p.shape[1])).astype(np.int64)

    @pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        x = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(((x @ p) > 0) @ weights)

    return _bucket


# SemDeDup-style cluster assignment (Y38, Y59): each vector's nearest of
# the first SEM_K vectors as centroids by floor-eps e4 cosine, ties to the
# lowest centroid id.  The DuckDB CTEs e (vec_id, v), c (cent_id, cv) and
# a (vec_id, cent_id) open both keys' oracles.
SEM_K = 8

SEM_ASSIGN_CTE_DUCK = f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS MATERIALIZED (
        SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {SEM_K}
    ), a AS MATERIALIZED (
        SELECT vec_id, cent_id FROM (
            SELECT e.vec_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {floor_eps_sql("list_cosine_similarity(e.v, c.cv)", 10000)}
                                    DESC, c.cent_id) AS rn
            FROM e CROSS JOIN c
        ) WHERE rn = 1
    )
"""


# --- IVF-PQ: pinned-centroid cells + product-quantized codes (Y5b, Y41,
# Y74-Y78) --------------------------------------------------------------
IVF_K, IVF_DIM = 8, 64  # pinned IVF centroids over 64-dim vectors
IVF_SCORE_ROUND = 6  # decimals for the pre-argmax score rounding (both engines)
PQ_SUBSPACES = 8
PQ_DIMS = 8  # 64-dim vectors -> 8 subvectors of 8 dims


def ivf_scores_duck() -> str:
    """DuckDB list of the IVF_K pinned-centroid cell scores over a
    ``v DOUBLE[]`` column — each rounded to IVF_SCORE_ROUND decimals
    BEFORE the argmax, mirroring assign_cell(score_round=...) exactly: a
    near-tie cell can then never diverge on accumulation order between
    engines."""
    return ", ".join(
        "round(list_dot_product(v, [{}]::DOUBLE[]) - {}, {})".format(
            ",".join(repr(c) for c in cent),
            repr(float(sum(c * c for c in cent) / 2.0)),
            IVF_SCORE_ROUND,
        )
        for cent in ivf_pinned_centroids(IVF_K, IVF_DIM)
    )


# Y41 proves a 4-entry codebook assignment; the SEARCH needs a richer
# quantizer to be useful — 16 codes/subspace (4 bits x 8 subspaces =
# 64-bit codes) and a _PQ_SHORT(=32)-deep shortlist, the small-index
# IVFPQ shape
PQ_CODES = 16  # codebook entries per subspace (first 16 vectors)
_PQ_SHORT = 32  # PQ shortlist size per query (asymmetric-distance top-N)
_PQ_TOPK = 3  # exact-rerank output size (matches Y5b/H8 for comparability)
_PQ_NQ = 10  # probe set: vec_id < 10 (the Y5b contract)

# squared-L2 between two DuckDB 8-dim list slices, floored to e4 ints —
# the Y41 spelling: fold order is left-to-right in both engines, so the
# doubles match bit-for-bit before the floor
_SQD_DUCK = floor_eps_sql(
    "list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
    f" FOR i IN range(1, {PQ_DIMS} + 1)])",
    10000,
)


def ivfpq_oracle(where: str = "") -> str:
    """The IVF-PQ search oracle; ``where`` optionally restricts the
    corpus (e.g. the Y77 tombstone predicate ``TOMB_DUCK``).  The static
    (Y74) and incremental (Y75) builds both register ``ivfpq_oracle()``:
    one oracle hash proves static-build == incremental-build, the same
    shared-oracle identity Z75/Z76 use for the corpus build."""
    scores = ivf_scores_duck()
    sqd_cand = _SQD_DUCK.format(a="s.sv", b="cb.cv")
    sqd_query = _SQD_DUCK.format(a="q.qsv", b="cb.cv")
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings{where}
    ), a AS (
        SELECT vec_id, v, [{scores}] AS s FROM e
    ), c AS MATERIALIZED (
        SELECT vec_id, v,
               CAST(list_position(s, list_max(s)) - 1 AS INTEGER) AS cell
        FROM a
    ), sub AS MATERIALIZED (
        SELECT vec_id, j,
               v[j * {PQ_DIMS} + 1 : (j + 1) * {PQ_DIMS}] AS sv
        FROM e CROSS JOIN range(0, {PQ_SUBSPACES}) r(j)
    ), cb AS MATERIALIZED (
        SELECT j, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {PQ_CODES}
    ), codes AS MATERIALIZED (
        -- Y41's assignment: nearest codebook entry per (vector, subspace)
        SELECT vec_id AS cand_id, j, code FROM (
            SELECT s.vec_id, s.j, cb.code, {sqd_cand} AS d_e4,
                   row_number() OVER (PARTITION BY s.vec_id, s.j
                                      ORDER BY {sqd_cand}, cb.code) AS rn
            FROM sub s JOIN cb ON cb.j = s.j
        ) WHERE rn = 1
    ), lut AS MATERIALIZED (
        -- per-query asymmetric-distance table: query subvector vs every
        -- codebook entry (NQ x M x K tiny rows)
        SELECT q.vec_id AS query_id, q.j, cb.code, {sqd_query} AS qd_e4
        FROM (SELECT vec_id, j, sv AS qsv FROM sub WHERE vec_id < {_PQ_NQ}) q
        JOIN cb ON cb.j = q.j
    ), p AS (
        SELECT vec_id AS query_id, v AS q, cell FROM c WHERE vec_id < {_PQ_NQ}
    ), ad AS MATERIALIZED (
        SELECT p.query_id, cc.vec_id AS cand_id,
               CAST(sum(l.qd_e4) AS BIGINT) AS ad_e4
        FROM p JOIN c cc ON cc.cell = p.cell AND cc.vec_id <> p.query_id
        JOIN codes k ON k.cand_id = cc.vec_id
        JOIN lut l ON l.query_id = p.query_id AND l.j = k.j AND l.code = k.code
        GROUP BY p.query_id, cc.vec_id
    ), short AS (
        SELECT query_id, cand_id, ad_e4 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY ad_e4, cand_id) AS rn
            FROM ad
        ) WHERE rn <= {_PQ_SHORT}
    ), ex AS (
        SELECT s.query_id, s.cand_id, s.ad_e4,
               round(list_cosine_similarity(p.q, cv.v), 4) AS sim
        FROM short s
        JOIN p ON p.query_id = s.query_id
        JOIN e cv ON cv.vec_id = s.cand_id
    )
    SELECT query_id, cand_id, sim, ad_e4 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, cand_id) AS rn
        FROM ex
    ) WHERE rn <= {_PQ_TOPK}
    """


def pq_codebook(emb: DataFrame) -> dict[int, list[float]]:
    """The pinned PQ codebook: the first ``PQ_CODES`` vectors' values,
    collected ONCE — a collect bounded by the contract itself (16 rows) —
    so encode/LUT stages can inline it as literals."""
    cb_rows = (
        emb.filter(F.col("vec_id") < PQ_CODES)
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        .collect()
    )
    if len(cb_rows) < PQ_CODES:
        raise RuntimeError(
            f"corpus has {len(cb_rows)} vectors below id {PQ_CODES}; the "
            "pinned PQ codebook contract needs all of them"
        )
    return {int(r.vec_id): [float(x) for x in r.v] for r in cb_rows}


def _cw(book: dict[int, list[float]], code: int, j: int) -> list[float]:
    return book[code][j * PQ_DIMS : (j + 1) * PQ_DIMS]


def pq_codes_vectorized(book: dict[int, list[float]]):
    """Arrow-vectorized PQ encode: the 8-subspace x 16-code assignment as
    numpy per batch instead of 128 interpreted higher-order lambdas per
    row (the zip_with/aggregate spelling below is NOT whole-stage-codegen
    eligible — higher-order functions evaluate interpreted — and measured
    1.35 s/2,000 rows at sf0.1 vs ~0.1 s vectorized; guide §4.2, the
    assign_cell_vectorized doctrine).  BIT-IDENTICAL math: the squared
    distance accumulates LEFT-TO-RIGHT over the 8 dims (a sequential
    vectorized add per dim, the exact IEEE fold order of the expression
    spec and the DuckDB oracle — never np.sum, whose pairwise fold could
    flip a floor-e4 boundary), floor(d * 10000 + EPS) in float64, and
    np.argmin's first-minimum tie-break IS array_min over struct(d, c)'s
    lowest-code tie-break because codes scan in ascending order."""
    from pyspark.sql.functions import pandas_udf

    # cb[j, c, :] = codeword c of subspace j
    cb = np.asarray(
        [
            [_cw(book, c, j) for c in range(PQ_CODES)]
            for j in range(PQ_SUBSPACES)
        ],
        dtype=np.float64,
    )

    @pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        x = np.array(v.tolist(), dtype=np.float64)  # n x (SUBSPACES*DIMS)
        n = x.shape[0]
        codes = np.empty((n, PQ_SUBSPACES), dtype=np.int32)
        for j in range(PQ_SUBSPACES):
            xs = x[:, j * PQ_DIMS : (j + 1) * PQ_DIMS]  # n x DIMS
            # left-to-right fold over dims, vectorized over (row, code)
            d = np.zeros((n, PQ_CODES), dtype=np.float64)
            for k in range(PQ_DIMS):
                diff = xs[:, k : k + 1] - cb[j, :, k]  # n x CODES
                d = d + diff * diff
            e4 = np.floor(d * 10000.0 + EPS).astype(np.int64)
            codes[:, j] = e4.argmin(axis=1)
        return pd.Series(list(codes))

    return _encode


def pq_index_frame(emb: DataFrame, book: dict[int, list[float]]) -> DataFrame:
    """One corpus scan -> the PERSISTED INDEX ROW ``(vec_id, nrm, cell,
    codes)``: norm, IVF cell (pinned centroids, Y5b rounding), and the 8
    PQ codes (Y41 assignment against the 16 literal codewords — a pure
    projection, zero shuffles).  8 small ints + 2 scalars per vector —
    never the 64 doubles; at 100 TB this narrow frame IS the RAM-resident
    index, and it is what the incremental variant appends per drop."""
    # NO fan_out here (r13, measured): the callers feed small embedding
    # frames whose encode is already a fast Arrow batch kernel, and the
    # incremental/compaction callers append this frame partitionBy(cell)
    # — fanning multiplies the per-cell file count (32 tasks x cells),
    # inflating the very state the compaction keys then pay to rewrite
    # (similarity_ann_ivfpq_compacted regressed 5.75 -> 6.97 s fanned)
    cents = ivf_pinned_centroids(IVF_K, IVF_DIM)
    encode = pq_codes_vectorized(book)
    return emb.select(
        "vec_id",
        l2_norm(F.col("embedding")).alias("nrm"),
        assign_cell(F.col("embedding"), cents, score_round=IVF_SCORE_ROUND).alias("cell"),
        encode("embedding").alias("codes"),
    )


def pq_codes_expr(book: dict[int, list[float]]):
    """The ENCODE as a pure Catalyst expression — the spec
    ``pq_codes_vectorized`` must match value-for-value (pinned by
    tests/test_round13_wave.py); kept for engines/contexts where the
    Python worker is unavailable.  Not on the hot path: higher-order
    lambdas evaluate interpreted (measured ~13x slower than the Arrow
    path at sf0.1)."""
    vcol = F.transform("embedding", lambda x: x.cast("double"))
    # the whole codebook as ONE FLAT literal array<double> of
    # SUBSPACES x CODES x DIMS values, so the encode is a single compact
    # higher-order expression — LOOPS in generated code, not 128
    # unrolled fold expressions.  The unrolled spelling blew whole-stage
    # codegen past the JVM method limit and fell back to interpreted
    # evaluation: 17.8 s for 2,000 rows at sf0.1; this spelling is the
    # same math (left-to-right zip_with/aggregate fold, floor-e4,
    # lowest-code tie-break) in milliseconds.
    # F.lit of a 1-D NUMPY array analyzes to ONE true Literal node —
    # F.lit of a (nested) python list analyzes to a CreateArray tree of
    # 1,024 element literals the optimizer constant-folds on every first
    # compile (r13: verified via queryExecution().analyzed() on PySpark
    # 4.1.2; nested ndarrays are unsupported as literals, hence the flat
    # layout + slice arithmetic below)
    cb_flat = F.lit(
        np.asarray(
            [
                v
                for j in range(PQ_SUBSPACES)
                for c in range(PQ_CODES)
                for v in _cw(book, c, j)
            ],
            dtype=np.float64,
        )
    )
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1)),
        lambda j: F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_CODES - 1)),
                lambda c: F.struct(
                    floor_eps(
                        F.aggregate(
                            F.zip_with(
                                F.slice(vcol, j * PQ_DIMS + 1, PQ_DIMS),
                                F.slice(
                                    cb_flat,
                                    (j * PQ_CODES + c) * PQ_DIMS + 1,
                                    PQ_DIMS,
                                ),
                                lambda x, y: (x - y) * (x - y),
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        10000,
                    )
                    .cast("long")
                    .alias("d"),
                    c.alias("c"),
                ),
            )
        ).getField("c"),
    )
    return codes


def ivfpq_search(
    spark: SparkSession, emb: DataFrame, index: DataFrame, book: dict[int, list[float]]
) -> DataFrame:
    """The search half of the IVF-PQ composition, over ANY index frame of
    shape ``(vec_id, nrm, cell, codes)`` — the one-shot key passes a
    checkpointed scan, the incremental key passes persisted state;
    bit-for-bit identical results either way.  Full vectors come from
    ``emb`` and are read ONLY for the probe rows and the per-query
    ``_PQ_SHORT`` shortlist; every join pins its small side with
    ``F.broadcast`` by construction (never AQE statistics — r11 advice),
    so the corpus never shuffles for a join."""
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    coded = index.select(
        F.col("vec_id").alias("cand_id"),
        "cell",
        F.posexplode("codes").alias("j", "code"),
    )
    # per-query asymmetric-distance LUT: NQ x 8 x 16 rows, broadcast;
    # the query side is data, so its distances ride a tiny frame join
    # against the literal codebook re-shaped as a frame
    cb_df = spark.createDataFrame(
        [(j, c, _cw(book, c, j)) for j in range(PQ_SUBSPACES) for c in range(PQ_CODES)],
        "j int, code int, cv array<double>",
    )
    probes = (
        vecs.filter(F.col("vec_id") < _PQ_NQ)
        .join(
            F.broadcast(
                index.filter(F.col("vec_id") < _PQ_NQ).select("vec_id", "nrm", "cell")
            ),
            "vec_id",
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("q"),
            F.col("nrm").alias("qn"),
            "cell",
        )
    )
    qsub = probes.select(
        "query_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))).alias("qj"),
        F.col("q").alias("v"),
    ).select(
        "query_id",
        "qj",
        F.expr(f"slice(v, qj * {PQ_DIMS} + 1, {PQ_DIMS})").alias("sv"),
    )
    sqd_q = F.aggregate(
        F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = qsub.join(F.broadcast(cb_df), qsub["qj"] == cb_df["j"]).select(
        "query_id",
        "j",
        "code",
        floor_eps(sqd_q, 10000).cast("long").alias("qd_e4"),
    )
    ad = (
        coded.join(F.broadcast(probes.select("query_id", "cell")), "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .join(F.broadcast(lut), ["query_id", "j", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("qd_e4").alias("ad_e4"))
    )
    w_short = Window.partitionBy("query_id").orderBy("ad_e4", "cand_id")
    short = (
        ad.withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= _PQ_SHORT)
        .select("query_id", "cand_id", "ad_e4")
    )
    # exact rerank: the shortlist (<= NQ x _PQ_SHORT rows) and everything
    # derived from it stay the BROADCAST side against the two corpus
    # scans (index for nrm, vecs for the real vectors)
    cand = F.broadcast(short).join(
        index.select(F.col("vec_id").alias("cand_id"), "nrm"), "cand_id"
    )
    exact = (
        F.broadcast(cand)
        .join(vecs.select(F.col("vec_id").alias("cand_id"), "v"), "cand_id")
        .join(F.broadcast(probes.select("query_id", "q", "qn")), "query_id")
        .select(
            "query_id",
            "cand_id",
            "ad_e4",
            F.round(
                dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("nrm")), 4
            ).alias("sim"),
        )
    )
    w_top = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select("query_id", "cand_id", "sim", "ad_e4")
    )




# Y77 tombstone deletes: a pinned delete request — every 97th vector
# above the codebook range (the codebook contract ids and the probe set
# are never delete targets; a real index pins its quantizer artifacts the
# same way)
TOMB_MOD, TOMB_REM = 97, 3
TOMB_DUCK = f" WHERE NOT (vec_id % {TOMB_MOD} = {TOMB_REM} AND vec_id >= {PQ_CODES})"


def tombstoned(vec_id: Column) -> Column:
    """The Spark twin of ``TOMB_DUCK``'s predicate: True for deleted ids."""
    return (vec_id % TOMB_MOD == TOMB_REM) & (vec_id >= PQ_CODES)
