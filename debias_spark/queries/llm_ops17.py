"""Round-6 LLM-pipeline wave 3 (Y43-Y44): binary-embedding Hamming
retrieval (bit-packed sign codes — the all-integer ANN fast path) and
Zipf-slope corpus profiling.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no vector/text-statistics surface; north-star extensions per
SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.dedup import word_tokens
from debias_spark.registry import register

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


_ZIPF_TOP = 200


@register(
    "text_zipf_slope",
    "Y44",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ), freq AS MATERIALIZED (
        SELECT term, count(*) AS f FROM toks GROUP BY term
    ), ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r
        FROM freq ORDER BY f DESC, term LIMIT {_ZIPF_TOP}
    )
    SELECT count(*) AS n_terms,
           {floor_eps_sql("regr_slope(ln(f::DOUBLE), ln(r::DOUBLE))", 10000)} AS slope_e4,
           {floor_eps_sql("regr_intercept(ln(f::DOUBLE), ln(r::DOUBLE))", 10000)} AS intercept_e4,
           {floor_eps_sql("regr_r2(ln(f::DOUBLE), ln(r::DOUBLE))", 10000)} AS r2_e4
    FROM ranked
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: regress log(frequency)
    on log(rank) for the top-200 terms — natural text sits near slope
    -1, and deviation is a cheap whole-corpus health check (template
    spam flattens the head; OCR noise fattens the tail).  Slope,
    intercept and R-squared come from the built-in regression aggregates
    (mergeable moment state, one pass).

    Scale shape: one token count (map-side combined), a top-N
    TakeOrdered for the head, ranks from a window over N rows, and a
    3-number aggregate.  Ranks are deterministic ((freq desc, term)
    ordering) and the fit emits floor-eps e4 integers."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            word_tokens(F.col("text"))
        ).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count("*").alias("f"))
    head = freq.orderBy(F.desc("f"), F.asc("term")).limit(_ZIPF_TOP)
    ranked = head.select(
        "f", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("term"))).alias("r")
    )
    lf, lr = F.log(F.col("f").cast("double")), F.log(F.col("r").cast("double"))
    return ranked.agg(
        F.count("*").alias("n_terms"),
        floor_eps(F.regr_slope(lf, lr), 10000).cast("long").alias("slope_e4"),
        floor_eps(F.regr_intercept(lf, lr), 10000).cast("long").alias("intercept_e4"),
        floor_eps(F.regr_r2(lf, lr), 10000).cast("long").alias("r2_e4"),
    )
