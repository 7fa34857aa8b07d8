"""Round-7 block wave 6 (MM8, Y52): quadrant tile statistics through
the real BMP pixel decode, and per-label embedding centroid drift.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no media or embedding surface; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.media_codec import synth_bmp_payload, synth_payload_frame
from debias_spark.registry import register

_TILE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("quadrant", IntegerType()),
        StructField("n_px", LongType()),
        StructField("sum_r", LongType()),
    ]
)


@register(
    "multimodal_image_tile_stats",
    "MM8",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h,
               (4 + doc_id % 13) // 2 AS w2, (3 + doc_id % 11) // 2 AS h2
        FROM documents
    ), q AS (
        SELECT doc_id, 0 AS quadrant, 0 AS xlo, w2 AS xhi, 0 AS ylo, h2 AS yhi
        FROM dims
        UNION ALL SELECT doc_id, 1, w2, w, 0, h2 FROM dims
        UNION ALL SELECT doc_id, 2, 0, w2, h2, h FROM dims
        UNION ALL SELECT doc_id, 3, w2, w, h2, h FROM dims
    )
    SELECT doc_id,
           CAST(quadrant AS INT) AS quadrant,
           CAST((xhi - xlo) * (yhi - ylo) AS BIGINT) AS n_px,
           CAST(coalesce(list_sum(flatten(list_transform(range(xlo, xhi), x ->
                list_transform(range(ylo, yhi), y -> (3 * x + 5 * y) % 251)
           ))), 0) AS BIGINT) AS sum_r
    FROM q
    """,
    bench=False,
)
def multimodal_image_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadrant tiling through REAL pixel decode: synthesize the Y30 BMP
    per document, decode the actual byte stream, split the TOP-DOWN
    red-channel grid into 2x2 tiles (x < w//2, y < h//2 boundaries) and
    emit per-tile pixel count and red sum — the patch-statistics
    primitive a vision preprocessing pipeline runs before tiling images
    into model patches.  The oracle replays every tile sum from the
    generation formula with the same integer halves, so a decoder bug in
    row DIRECTION (bottom-up storage must be normalized back to
    top-down), padding, or channel order moves mass between tiles and
    breaks the hash — this is strictly stronger evidence than MM5's
    whole-image sums, which are direction-blind.

    Scale shape: encode and tile-decode are two chained mapInPandas
    stages — embarrassingly parallel Arrow batches, no shuffle; output
    is exactly 4 rows per image.  bench=False: the per-pixel Python loop
    prices the decode, not the engine (same posture as MM5)."""
    docs = table(spark, sf_dir, "documents")
    payloads = synth_payload_frame(docs, synth_bmp_payload)

    def tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from debias_spark.operators.media_codec import decode_bmp

        for pdf in batches:
            out = {"doc_id": [], "quadrant": [], "n_px": [], "sum_r": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                m = decode_bmp(bytes(payload), with_red_rows=True)
                w2, h2 = m["width"] // 2, m["height"] // 2
                sums = [0, 0, 0, 0]
                cnts = [0, 0, 0, 0]
                for y, row in enumerate(m["red_rows"]):  # top-down rows
                    for x, v in enumerate(row):
                        q = (2 if y >= h2 else 0) + (1 if x >= w2 else 0)
                        sums[q] += v
                        cnts[q] += 1
                for q in range(4):
                    out["doc_id"].append(int(doc_id))
                    out["quadrant"].append(q)
                    out["n_px"].append(cnts[q])
                    out["sum_r"].append(sums[q])
            yield pd.DataFrame(out)

    return payloads.mapInPandas(tiles, schema=_TILE_SCHEMA)


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
