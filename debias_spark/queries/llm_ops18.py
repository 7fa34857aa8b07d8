"""Round-6 multimodal wave 2 (MM5): perceptual average-hash image
dedup through the real BMP decode path.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no media surface; north-star extension per SURVEY §2.H.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.operators.media_codec import synth_bmp_payload, synth_payload_frame
from debias_spark.registry import register

# hash window: 4 wide x 3 tall — every synthesized image is >= 4x3
_HW, _HH = 4, 3


@register(
    "multimodal_image_avghash_buckets",
    "MM5",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id,
               4 + doc_id % 13 AS w,
               3 + doc_id % 11 AS h
        FROM documents
    ), sums AS MATERIALIZED (
        SELECT doc_id, w, h,
               CAST(list_sum(flatten(list_transform(range(0, w), x ->
                    list_transform(range(0, h), y -> (3 * x + 5 * y) % 251)
               ))) AS BIGINT) AS sum_r
        FROM dims
    ), hashed AS MATERIALIZED (
        SELECT doc_id,
               CAST(list_sum(flatten(list_transform(range(0, {_HW}), x ->
                    list_transform(range(0, {_HH}), y ->
                        CASE WHEN ((3 * x + 5 * y) % 251) * w * h > sum_r
                             THEN 1::BIGINT << (y * {_HW} + x)
                             ELSE 0::BIGINT END)
               ))) AS BIGINT) AS ahash
        FROM sums
    )
    SELECT doc_id, ahash,
           count(*) OVER (PARTITION BY ahash) AS n_bucket
    FROM hashed
    """,
    bench=False,
)
def multimodal_image_avghash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash image dedup through REAL bytes: synthesize
    the Y30 BMP per document, decode the actual pixel array (row padding,
    BGR order, bottom-up storage all exercised), compute a 12-bit
    average-hash over the fixed top-left {_HW}x{_HH} window — bit set
    iff the pixel exceeds the image's mean red level — and bucket images
    by hash, the candidate-generation stage of every perceptual image
    dedup pipeline (identical/near-identical images collide; a verify
    stage would then compare within buckets, exactly the LSH
    band -> verify shape).

    Determinism: the mean comparison is spelled integer-exact
    (pixel * w * h > sum_r — no float division anywhere), so the hash,
    and therefore the buckets, replay exactly in SQL from the generation
    formulas.  A decoder bug in padding, channel order, or row direction
    flips hash bits and breaks the driver hash.

    Scale shape: decode + hash is embarrassingly-parallel mapInPandas
    over Arrow batches; the bucket size annotation is one window over
    the (hash) shuffle — at corpus scale the same plan feeds the
    within-bucket verify join."""

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from debias_spark.operators.media_codec import decode_bmp

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                m = decode_bmp(bytes(payload), with_red_rows=True)
                w, h, sum_r = m["width"], m["height"], m["sum_r"]
                rows = m["red_rows"]
                ahash = 0
                for y in range(_HH):
                    for x in range(_HW):
                        if rows[y][x] * w * h > sum_r:
                            ahash |= 1 << (y * _HW + x)
                ids.append(int(doc_id))
                hashes.append(ahash)
            yield pd.DataFrame({"doc_id": ids, "ahash": hashes})

    docs = table(spark, sf_dir, "documents")
    payloads = synth_payload_frame(docs, synth_bmp_payload)
    hashed = payloads.mapInPandas(hash_batches, schema="doc_id long, ahash long")
    return hashed.select(
        "doc_id",
        "ahash",
        F.count("*").over(Window.partitionBy("ahash")).alias("n_bucket"),
    )


multimodal_image_avghash_buckets.__doc__ = (
    multimodal_image_avghash_buckets.__doc__
    .replace("{_HW}", str(_HW))
    .replace("{_HH}", str(_HH))
)


@register(
    "multimodal_palette_histogram",
    "MM6",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               4 + doc_id % 13 AS w,
               3 + doc_id % 11 AS h
        FROM documents
    ), px AS MATERIALIZED (
        SELECT doc_id,
               unnest(flatten(list_transform(range(0, w), x ->
                   list_transform(range(0, h), y ->
                       (CASE WHEN (3 * x + 5 * y) % 251 >= 128 THEN 4 ELSE 0 END)
                     + (CASE WHEN (x * y) % 251 >= 128 THEN 2 ELSE 0 END)
                     + (CASE WHEN (x + 7 * y) % 251 >= 128 THEN 1 ELSE 0 END)
                   )))) AS bucket
        FROM dims
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_images
    FROM px GROUP BY bucket ORDER BY bucket
    """,
    bench=False,
)
def multimodal_palette_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level color-palette histogram through REAL pixel decode:
    synthesize the Y30 BMP per document, decode the full (r, g, b) pixel
    array (with_pixel_rows — BGR order, padding, bottom-up all on the
    line), quantize each pixel to a 3-bit RGB octant (r>=128 | g>=128 |
    b>=128), and report per-octant pixel and image counts — the palette
    profile an image-corpus curation pipeline uses to spot monochrome
    screenshots, blank frames, and channel-swap decode bugs in one scan.

    The oracle replays the generation formulas per (doc, x, y) in SQL, so
    a single swapped channel or mis-padded row flips octant counts and
    breaks the hash.

    Scale shape: decode + quantize + LOCAL 8-bin histogram all happen
    inside one mapInPandas pass (each Arrow batch emits at most
    8 rows x batch docs, not one row per pixel — the million-to-one
    reduction happens before any shuffle); the final aggregate shuffles
    only (bucket, partial count, doc set size) rows.  count(DISTINCT
    doc_id) stays exact because a doc's pixels never split across
    batches."""

    def hist_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from debias_spark.operators.media_codec import decode_bmp

        for pdf in batches:
            ids, buckets, counts = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                m = decode_bmp(bytes(payload), with_pixel_rows=True)
                local = [0] * 8
                for row in m["pixel_rows"]:
                    for r, g, b in row:
                        local[(4 if r >= 128 else 0)
                              + (2 if g >= 128 else 0)
                              + (1 if b >= 128 else 0)] += 1
                for bkt, n in enumerate(local):
                    if n:
                        ids.append(int(doc_id))
                        buckets.append(bkt)
                        counts.append(n)
            yield pd.DataFrame(
                {"doc_id": ids, "bucket": buckets, "n": counts}
            )

    docs = table(spark, sf_dir, "documents")
    payloads = synth_payload_frame(docs, synth_bmp_payload)
    per_doc = payloads.mapInPandas(
        hist_batches, schema="doc_id long, bucket int, n long"
    )
    return (
        per_doc.groupBy("bucket")
        .agg(
            F.sum("n").alias("n_pixels"),
            F.countDistinct("doc_id").alias("n_images"),
        )
        .orderBy("bucket")
    )
