"""Round-11 wave 1 (Y74): the composed IVF-PQ ANN search — the
production ANN shape at 100 TB (r10 verdict item 7).

Y41 builds PQ codebook assignments and Y5b proves the pinned-centroid
IVF probe math; this key CHAINS them into the search a real vector index
runs (Jegou et al. 2011, "Product Quantization for Nearest Neighbor
Search", public):

    coarse IVF probe (pinned centroids, cell-equi candidate join)
 -> PQ asymmetric-distance rerank (per-query lookup table over the
    pinned codebook; candidates are scored from their 8 CODES, never
    their 64 floats)
 -> exact cosine top-k on the short list only.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no vector surface; north-star extension per SURVEY §2.H.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import EPS, floor_eps, floor_eps_sql
from debias_spark.queries.llm_ops16 import _PQ_DIMS, _PQ_SUBSPACES
from debias_spark.queries.llm_ops36 import _IVF_DIM, _IVF_K, _SCORE_ROUND
from debias_spark.registry import register

# Y41 proves the 4-entry codebook assignment; the SEARCH needs a richer
# quantizer to be useful — 16 codes/subspace (4 bits x 8 subspaces =
# 64-bit codes) and a _SHORT(=32)-deep shortlist, the small-index IVFPQ
# shape
_PQ_CODES = 16  # codebook entries per subspace (first 16 vectors)
_SHORT = 32  # PQ shortlist size per query (asymmetric-distance top-N)
_TOPK = 3  # exact-rerank output size (matches Y5b/H8 for comparability)
_NQ = 10  # probe set: vec_id < 10 (the Y5b contract)

# squared-L2 between two DuckDB 8-dim list slices, floored to e4 ints —
# the Y41 spelling (llm_ops16.py): fold order is left-to-right in both
# engines, so the doubles match bit-for-bit before the floor
_SQD_DUCK = floor_eps_sql(
    "list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
    f" FOR i IN range(1, {_PQ_DIMS} + 1)])",
    10000,
)


def _ivfpq_oracle(where: str = "") -> str:
    """The IVF-PQ search oracle; ``where`` optionally restricts the
    corpus (e.g. the Y77 tombstone predicate).  The default "" yields a
    string BYTE-IDENTICAL to the round-11 oracle, so Y74's registered
    oracle is unchanged."""
    from debias_spark.operators.similarity import ivf_pinned_centroids

    cents = ivf_pinned_centroids(_IVF_K, _IVF_DIM)
    # per-centroid scores rounded to _SCORE_ROUND decimals BEFORE the
    # argmax, mirroring assign_cell(score_round=...) exactly (Y5b)
    scores = ", ".join(
        "round(list_dot_product(v, [{}]::DOUBLE[]) - {}, {})".format(
            ",".join(repr(c) for c in cent),
            repr(float(sum(c * c for c in cent) / 2.0)),
            _SCORE_ROUND,
        )
        for cent in cents
    )
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
               v[j * {_PQ_DIMS} + 1 : (j + 1) * {_PQ_DIMS}] AS sv
        FROM e CROSS JOIN range(0, {_PQ_SUBSPACES}) r(j)
    ), cb AS MATERIALIZED (
        SELECT j, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {_PQ_CODES}
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
        FROM (SELECT vec_id, j, sv AS qsv FROM sub WHERE vec_id < {_NQ}) q
        JOIN cb ON cb.j = q.j
    ), p AS (
        SELECT vec_id AS query_id, v AS q, cell FROM c WHERE vec_id < {_NQ}
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
        ) WHERE rn <= {_SHORT}
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
    ) WHERE rn <= {_TOPK}
    """


def pq_codebook(emb: DataFrame) -> dict[int, list[float]]:
    """The pinned PQ codebook: the first ``_PQ_CODES`` vectors' values,
    collected ONCE — a collect bounded by the contract itself (16 rows) —
    so encode/LUT stages can inline it as literals."""
    cb_rows = (
        emb.filter(F.col("vec_id") < _PQ_CODES)
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
        )
        .collect()
    )
    if len(cb_rows) < _PQ_CODES:
        raise RuntimeError(
            f"corpus has {len(cb_rows)} vectors below id {_PQ_CODES}; the "
            "pinned PQ codebook contract needs all of them"
        )
    return {int(r.vec_id): [float(x) for x in r.v] for r in cb_rows}


def _cw(book: dict[int, list[float]], code: int, j: int) -> list[float]:
    return book[code][j * _PQ_DIMS : (j + 1) * _PQ_DIMS]


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
            [_cw(book, c, j) for c in range(_PQ_CODES)]
            for j in range(_PQ_SUBSPACES)
        ],
        dtype=np.float64,
    )

    @pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        x = np.array(v.tolist(), dtype=np.float64)  # n x (SUBSPACES*DIMS)
        n = x.shape[0]
        codes = np.empty((n, _PQ_SUBSPACES), dtype=np.int32)
        for j in range(_PQ_SUBSPACES):
            xs = x[:, j * _PQ_DIMS : (j + 1) * _PQ_DIMS]  # n x DIMS
            # left-to-right fold over dims, vectorized over (row, code)
            d = np.zeros((n, _PQ_CODES), dtype=np.float64)
            for k in range(_PQ_DIMS):
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
    from debias_spark.operators.similarity import assign_cell, ivf_pinned_centroids, l2_norm

    # NO fan_out here (r13, measured): the callers feed small embedding
    # frames whose encode is already a fast Arrow batch kernel, and the
    # incremental/compaction callers append this frame partitionBy(cell)
    # — fanning multiplies the per-cell file count (32 tasks x cells),
    # inflating the very state the compaction keys then pay to rewrite
    # (similarity_ann_ivfpq_compacted regressed 5.75 -> 6.97 s fanned)
    cents = ivf_pinned_centroids(_IVF_K, _IVF_DIM)
    encode = pq_codes_vectorized(book)
    return emb.select(
        "vec_id",
        l2_norm(F.col("embedding")).alias("nrm"),
        assign_cell(F.col("embedding"), cents, score_round=_SCORE_ROUND).alias("cell"),
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
                for j in range(_PQ_SUBSPACES)
                for c in range(_PQ_CODES)
                for v in _cw(book, c, j)
            ],
            dtype=np.float64,
        )
    )
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_SUBSPACES - 1)),
        lambda j: F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_CODES - 1)),
                lambda c: F.struct(
                    floor_eps(
                        F.aggregate(
                            F.zip_with(
                                F.slice(vcol, j * _PQ_DIMS + 1, _PQ_DIMS),
                                F.slice(
                                    cb_flat,
                                    (j * _PQ_CODES + c) * _PQ_DIMS + 1,
                                    _PQ_DIMS,
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
    ``_SHORT`` shortlist; every join pins its small side with
    ``F.broadcast`` by construction (never AQE statistics — r11 advice),
    so the corpus never shuffles for a join."""
    from debias_spark.operators.similarity import dot

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
        [(j, c, _cw(book, c, j)) for j in range(_PQ_SUBSPACES) for c in range(_PQ_CODES)],
        "j int, code int, cv array<double>",
    )
    probes = (
        vecs.filter(F.col("vec_id") < _NQ)
        .join(
            F.broadcast(
                index.filter(F.col("vec_id") < _NQ).select("vec_id", "nrm", "cell")
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
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_SUBSPACES - 1))).alias("qj"),
        F.col("q").alias("v"),
    ).select(
        "query_id",
        "qj",
        F.expr(f"slice(v, qj * {_PQ_DIMS} + 1, {_PQ_DIMS})").alias("sv"),
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
        .filter(F.col("rn") <= _SHORT)
        .select("query_id", "cand_id", "ad_e4")
    )
    # exact rerank: the shortlist (<= NQ x _SHORT rows) and everything
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
        .filter(F.col("rn") <= _TOPK)
        .select("query_id", "cand_id", "sim", "ad_e4")
    )


# shared VERBATIM with similarity_ann_ivfpq_incremental (llm_ops38) — the
# driver then hash-proves static-build == incremental-build, the same
# shared-oracle identity Z75/Z76 use for the corpus build
IVFPQ_ORACLE = _ivfpq_oracle()


@register("similarity_ann_ivfpq", "Y74", oracle=IVFPQ_ORACLE)
def similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ search: coarse probe -> PQ asymmetric-distance
    shortlist -> exact top-k rerank, every stage the SHARED math of the
    key that pins it standalone.

    1. COARSE (Y5b): cell = argmax_j (v . c_j - |c_j|^2 / 2) over the
       PINNED centroids, scores rounded to 6 decimals before the argmax
       in both engines; candidates come from the query's cell only
       (cell-equi join, never all-pairs).
    2. PQ ENCODE (Y41's assignment, richer book): each vector's 8
       subvectors of 8 dims assign to the nearest of 16 pinned codebook
       entries (first-16-vectors doctrine, 4 bits x 8 subspaces = a
       64-BIT code) by floor-e4 squared L2, ties to the lowest code.
       The candidate side of the search carries ONLY (cand_id, j,
       code) — 8 small ints instead of 64 floats, the memory cut that
       makes a 100 TB corpus's index RAM-resident.
    3. ASYMMETRIC DISTANCE: per query, a 128-row lookup table (8
       subspaces x 16 codes, floor-e4 ints) scores every cell-mate from
       its codes alone; integer sums, so the rerank is exact
       cross-engine with no float drift.  Top-32 shortlist by (ad_e4,
       cand_id) — at sf0.001 this recovers the cell-exact (Y5b) top-3
       at 28/30 and ties Y5b's recall vs unrestricted exact top-3
       (23/30), see tests/test_round11_wave.py.
    4. EXACT RERANK: rounded cosine against the shortlist's real
       vectors only; top-3 with cand_id tiebreak.  Output keeps ad_e4
       so the oracle hash proves the PQ arithmetic, not just the final
       ordering.

    Scale shape: ONE corpus scan assigns norm, cell AND codes — the
    codebook is collected once by pinned-index contract (16 rows) and
    inlined as literals, so the encode is a pure projection with zero
    shuffles (the same move ivf_pinned_centroids makes for the coarse
    level).  The checkpointed frame is the NARROW index row (vec_id,
    nrm, cell, codes) — 8 small ints + 2 scalars, never the 64 doubles
    (r11 verdict: the eager full-vector checkpoint drove a 2.4x bench
    band under co-tenant memory pressure).  Probes and the per-query
    LUT broadcast; the only corpus-side exchange in the whole search is
    the (query, cand) AD aggregate over the matched cell-mates, which
    map-side combines; full vectors are re-read from the source for
    probe rows and the _SHORT-row shortlist only, behind pinned
    F.broadcast joins.  At 100 TB the codes table IS the index —
    64 bits/vector — and this plan reads full vectors for _SHORT rows
    per query regardless of corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    book = pq_codebook(emb)
    index = pq_index_frame(emb, book).localCheckpoint(eager=True)
    return ivfpq_search(spark, emb, index, book)
