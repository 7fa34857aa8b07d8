"""Multimodal keys: real BMP / WAV decode through operators/media_codec.py
(pure stdlib), image hashing, tiles, palettes and bounding boxes, audio
energy, RMS and silence trimming, video frame sampling and shot
boundaries, binary-payload dedup and batch manifests.

The reference has no media surface; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.operators import multimodal
from debias_spark.operators.media_codec import (
    synth_bmp_payload,
    synth_payload_frame,
    synth_wav_payload,
)
from debias_spark.operators.multimodal import extract_features
from debias_spark.registry import register


_WIN = 8  # samples per energy window


@register(
    "multimodal_audio_energy_windows",
    "MM4",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, CAST(20 + doc_id % 17 AS BIGINT) AS n FROM documents
    ), s AS (
        SELECT doc_id, i // {_WIN} AS win_idx,
               abs(((doc_id * 31 + i * 17) % 65536) - 32768) AS a
        FROM d CROSS JOIN range(0, 37) r(i) WHERE i < n
    )
    SELECT doc_id, CAST(win_idx AS INTEGER) AS win_idx,
           count(*) AS n_in_win,
           CAST(sum(a) AS BIGINT) AS energy
    FROM s GROUP BY doc_id, win_idx
    """,
    bench=False,
)
def multimodal_audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction through the REAL decode path:
    synthesize the Y31 PCM16 WAV per document, decode the actual bytes
    (RIFF walk + sample unpack), then emit per-window (8 samples) energy
    (sum of |sample|) rows — the frame-level feature shape every audio
    pipeline (VAD, loudness normalization, silence trimming) reduces to.
    The oracle restates the generation formulas, so a decoder bug in
    chunk sizes, endianness, or sample signedness breaks the hash.

    Scale shape: one mapInPandas pair (encode is test scaffolding; a
    real corpus reads payload bytes from parquet), per-row Python over
    Arrow batches, 1 row in -> n_windows rows out, no shuffle until the
    final rollup — embarrassingly parallel like Y30/Y31."""

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from debias_spark.operators.media_codec import decode_wav

        for pdf in batches:
            ids, wins, counts, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = decode_wav(bytes(payload), with_samples=True)
                for w in range(0, len(meta["samples"]), _WIN):
                    chunk = meta["samples"][w : w + _WIN]
                    ids.append(int(doc_id))
                    wins.append(w // _WIN)
                    counts.append(len(chunk))
                    sums.append(int(sum(abs(s) for s in chunk)))
            yield pd.DataFrame(
                {"doc_id": ids, "win_idx": wins, "n_in_win": counts, "energy": sums}
            )

    docs = table(spark, sf_dir, "documents")
    payloads = synth_payload_frame(docs, synth_wav_payload)
    return payloads.mapInPandas(
        energies,
        schema="doc_id long, win_idx int, n_in_win long, energy long",
    )


# --- multimodal --------------------------------------------------------------
@register(
    "multimodal_extract",
    "MM1",
    oracle="""
    SELECT doc_id, 'text/plain' AS fmt,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CASE WHEN length(text) = 0 THEN NULL
                ELSE CAST(ascii(substr(text, 1, 1)) AS INTEGER) END AS first_byte,
           substr(md5(text), 1, 8) AS md5_8
    FROM documents
    """,
)
def multimodal_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: opaque binary payload + typed
    metadata struct -> Arrow-batched mapInPandas feature extraction.  The
    byte-level features are oracle-checked; the media decode itself is the
    stubbed step (no PIL/ffmpeg in this container)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return multimodal.extract_features(multimodal.attach_binary(docs))


# Shot-boundary detection: consecutive frame-histogram differencing, the
# standard first pass of video segmentation, with the frame decode stubbed
# by the MM2 text-as-frames convention (the container has no video libs;
# the Spark dataflow — frame explode, per-stream ordered differencing,
# per-asset rollup — is the real, tested part).  MM2 samples frames, MM11
# segments them.
_FRAME_W = 32  # chars per synthetic frame (the MM2 convention)


_SHOT_TH = 12  # histogram L1 distance at/over this = a shot boundary


# 4-bin character-class histogram per frame: spaces, vowels, digits, rest
_BINS_DUCK = """
    length(frame) - length(replace(frame, ' ', '')) AS b_space,
    length(frame) - length(regexp_replace(frame, '[aeiou]', '', 'g')) AS b_vowel,
    length(frame) - length(regexp_replace(frame, '[0-9]', '', 'g')) AS b_digit,
    CAST(length(frame) AS BIGINT) AS b_len"""


def _bins_spark():
    # built lazily: Column construction needs a live SparkContext, and
    # this module must import session-free (registry tooling, survey
    # generator) — module-level Columns crash any sessionless import
    return [
        (F.length("frame") - F.length(F.replace(F.col("frame"), F.lit(" ")))).alias("b_space"),
        (F.length("frame") - F.length(F.regexp_replace("frame", "[aeiou]", ""))).alias("b_vowel"),
        (F.length("frame") - F.length(F.regexp_replace("frame", "[0-9]", ""))).alias("b_digit"),
        F.length("frame").cast("long").alias("b_len"),
    ]


_L1 = (
    "abs(b_space - lag_space) + abs(b_vowel - lag_vowel)"
    " + abs(b_digit - lag_digit)"
    " + abs((b_len - b_space - b_vowel - b_digit)"
    "       - (lag_len - lag_space - lag_vowel - lag_digit))"
)


@register(
    "multimodal_shot_boundaries",
    "MM11",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L
        FROM documents WHERE length(text) > 0
    ), mx AS (
        SELECT max(L) AS m FROM t
    ), dims AS (
        SELECT unnest(range(0, ((SELECT m FROM mx) + {_FRAME_W} - 1)
                               // {_FRAME_W})) AS i
    ), f AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               substr(text, CAST(i * {_FRAME_W} + 1 AS INT), {_FRAME_W}) AS frame
        FROM t JOIN dims ON i <= (L - 1) // {_FRAME_W}
    ), h AS (
        SELECT doc_id, i, {_BINS_DUCK}
        FROM f
    ), d AS (
        SELECT doc_id, i, b_space, b_vowel, b_digit, b_len,
               lag(b_space) OVER w AS lag_space,
               lag(b_vowel) OVER w AS lag_vowel,
               lag(b_digit) OVER w AS lag_digit,
               lag(b_len) OVER w AS lag_len
        FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ), diffs AS (
        SELECT doc_id,
               CASE WHEN lag_len IS NULL THEN NULL
                    ELSE CAST({_L1} AS BIGINT) END AS diff
        FROM d
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(1 + sum(CASE WHEN diff >= {_SHOT_TH} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shots,
           CAST(max(diff) AS BIGINT) AS max_diff,
           CAST(sum(diff) * 100 // nullif(count(diff), 0) AS BIGINT)
               AS mean_diff_e2
    FROM diffs GROUP BY doc_id
    """,
)
def multimodal_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection: each asset's frame stream (fixed 32-char
    windows under the MM2 text-as-frames stub) reduces to a 4-bin
    character-class histogram per frame; consecutive frames compare by
    histogram L1 distance (the classic cut detector), a distance at or
    over the threshold opens a new shot, and the per-asset report gives
    frame count, shot count, peak and mean inter-frame change (e2
    integer).  With a real decoder the histogram becomes a color/HOG
    histogram per decoded frame and NOTHING else changes — the explode,
    the per-stream ordered lag window, and the rollup are the 100 TB
    dataflow being pinned.

    Scale shape: the frame explode is a fused generator; histograms are
    pure codegen length/regexp arithmetic (exact integers); the lag runs
    per-asset (no global window); one rollup shuffle on doc_id."""
    docs = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    f = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.expr(f"(length(text) - 1) div {_FRAME_W}"))
        ).alias("i"),
        F.col("text"),
    ).select(
        "doc_id",
        F.col("i").cast("long").alias("i"),
        F.expr(f"substring(text, CAST(i * {_FRAME_W} + 1 AS INT), {_FRAME_W})").alias(
            "frame"
        ),
    )
    h = f.select("doc_id", "i", *_bins_spark())
    w = Window.partitionBy("doc_id").orderBy("i")
    d = h.select(
        "doc_id",
        "i",
        "b_space",
        "b_vowel",
        "b_digit",
        "b_len",
        F.lag("b_space").over(w).alias("lag_space"),
        F.lag("b_vowel").over(w).alias("lag_vowel"),
        F.lag("b_digit").over(w).alias("lag_digit"),
        F.lag("b_len").over(w).alias("lag_len"),
    ).select(
        "doc_id",
        F.when(F.col("lag_len").isNull(), F.lit(None).cast("long"))
        .otherwise(F.expr(_L1).cast("long"))
        .alias("diff"),
    )
    return d.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        (
            F.lit(1)
            + F.sum(F.when(F.col("diff") >= _SHOT_TH, 1).otherwise(0))
        ).cast("long").alias("n_shots"),
        F.max("diff").alias("max_diff"),
        F.expr("CAST(sum(diff) * 100 div nullif(count(diff), 0) AS BIGINT)").alias(
            "mean_diff_e2"
        ),
    )


# Real media decode: operators/media_codec.py implements uncompressed 24-bit
# BMP and PCM16 WAV from the byte-level spec (pure stdlib — the container
# has no PIL/ffmpeg).  The decode keys synthesize real byte streams
# deterministically from table columns, push them through the Arrow-batched
# decode path, and hash-check the decoded dimensions and pixel/sample
# statistics against a DuckDB oracle that derives the same values from the
# generation formulas — a decoder bug anywhere (header offsets, row
# padding, bottom-up order, chunk walking, endianness) breaks the hash.
@register(
    "multimodal_decode_dims",
    "Y30",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(4 + doc_id % 13 AS INTEGER) AS width,
               CAST(3 + doc_id % 11 AS INTEGER) AS height
        FROM documents
    )
    SELECT doc_id, 'bmp' AS media_format, width, height,
           CAST(list_sum(flatten(list_transform(range(0, width), x ->
                list_transform(range(0, height), y -> (3 * x + 5 * y) % 251)
           ))) AS BIGINT) AS sum_r
    FROM dims
    """,
)
def multimodal_decode_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode as a first-class operator: synthesize a real 24-bit BMP
    per document (dimensions and pixels are pure functions of doc_id),
    decode it through the SAME mapInPandas hook a production image pipeline
    uses, and emit width/height plus the red-channel pixel sum.  The oracle
    recomputes all three from the generation formulas, so the hash proves
    the decoder correctly handles the 54-byte header layout, BGR order,
    4-byte row padding and bottom-up row storage.

    Scale shape: two chained mapInPandas stages (encode, decode) — linear
    per-row Python work over Arrow batches, no shuffle anywhere; at 100 TB
    the decode stage is embarrassingly parallel and IO-bound exactly like
    a real image corpus scan."""
    docs = table(spark, sf_dir, "documents")
    decoded = extract_features(synth_payload_frame(docs, synth_bmp_payload), decode=True)
    return decoded.select("doc_id", "media_format", "width", "height", "sum_r")


@register(
    "multimodal_decode_audio",
    "Y31",
    oracle="""
    SELECT d.doc_id,
           'wav' AS media_format,
           CAST(8000 + (d.doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
           CAST(20 + d.doc_id % 17 AS BIGINT) AS n_samples
    FROM documents d
    """,
)
def multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode: synthesize a real PCM16 WAV per document (sample rate
    and sample count are pure functions of doc_id; samples a deterministic
    sawtooth), decode through the Arrow-batched hook, emit the parsed
    header fields.  The oracle restates the generation formulas — a chunk-
    walking or endianness bug in the decoder breaks the hash.

    Scale shape: same embarrassingly-parallel mapInPandas pair as Y30."""

    docs = table(spark, sf_dir, "documents")
    payloads = synth_payload_frame(docs, synth_wav_payload)
    decoded = extract_features(payloads, decode=True)
    return decoded.select("doc_id", "media_format", "sample_rate", "n_samples")


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


@register(
    "multimodal_audio_rms_by_rate",
    "MM7",
    oracle="""
    WITH clips AS (
        SELECT doc_id,
               8000 + (doc_id % 3) * 4000 AS rate,
               20 + doc_id % 17 AS n
        FROM documents
    ), stats AS MATERIALIZED (
        SELECT rate, n,
               CAST(list_sum(list_transform(range(0, n), i ->
                    CAST(((doc_id * 31 + i * 17) % 65536) - 32768 AS BIGINT)
                    * CAST(((doc_id * 31 + i * 17) % 65536) - 32768 AS BIGINT)
               )) AS BIGINT) AS sum_sq
        FROM clips
    )
    SELECT CAST(rate AS INTEGER) AS sample_rate,
           count(*) AS n_clips,
           CAST(sum(n) AS BIGINT) AS total_samples,
           CAST(sum(sum_sq) AS BIGINT) AS energy_sum_sq
    FROM stats
    GROUP BY rate
    ORDER BY rate
    """,
    bench=False,
)
def multimodal_audio_rms_by_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio energy audit through REAL sample decode: synthesize the Y31
    PCM16 WAV per document, decode the raw samples (RIFF chunk walk,
    little-endian int16), and aggregate per sample-rate cohort — clip
    count, total samples, and the exact integer sum of squared samples
    (the RMS numerator; RMS itself would be a sqrt, so the key emits the
    exact integer and leaves the root to the reader).  Silence/clipping
    screens in audio-corpus curation are exactly this aggregate.

    Exactness: int16 squares are <= 2^30 and counts are bounded, so the
    whole chain is BIGINT arithmetic — the oracle replays the sawtooth
    generation formula and the hash must match bit for bit; a chunk-walk
    or endianness bug flips it.

    Scale shape: decode + square-sum happens inside one mapInPandas pass
    (3 small rows per doc cross the boundary); the final aggregate
    shuffles 3 rate groups."""
    from collections.abc import Iterator

    import pandas as pd

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from debias_spark.operators.media_codec import decode_wav

        for pdf in batches:
            rates, ns, sqs = [], [], []
            for payload in pdf["payload"]:
                m = decode_wav(bytes(payload), with_samples=True)
                rates.append(m["sample_rate"])
                ns.append(m["n_samples"])
                sqs.append(sum(s * s for s in m["samples"]))
            yield pd.DataFrame({"rate": rates, "n": ns, "sq": sqs})

    docs = table(spark, sf_dir, "documents")
    payloads = synth_payload_frame(docs, synth_wav_payload)
    decoded = payloads.mapInPandas(stats, schema="rate int, n long, sq long")
    return (
        decoded.groupBy(F.col("rate").alias("sample_rate"))
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("n").alias("total_samples"),
            F.sum("sq").alias("energy_sum_sq"),
        )
        .orderBy("sample_rate")
    )


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


# synthetic per-doc bounding boxes (deterministic from doc_id): the
# object-detection annotation shape — array<struct<x,y,w,h>> — without
# needing an image decoder.  The SAME formulas run in the oracle.
_BOX_N = "doc_id % 5 + 1"


_BX = "(doc_id * 31 + i * 7) % 100"


_BY = "(doc_id * 17 + i * 11) % 100"


_BW = "1 + (doc_id + i) % 20"


_BH = "1 + (doc_id * 3 + i) % 15"


@register(
    "multimodal_bbox_area_stats",
    "MM9",
    oracle=f"""
    WITH b AS MATERIALIZED (
        SELECT doc_id, i,
               {_BX} AS x, {_BY} AS y, {_BW} AS w, {_BH} AS h
        FROM documents, unnest(range(0, {_BOX_N})) AS u(i)
    ), pairs AS (
        SELECT a.doc_id,
               CAST(NOT (a.x + a.w <= b.x OR b.x + b.w <= a.x
                         OR a.y + a.h <= b.y OR b.y + b.h <= a.y)
                    AS INT) AS ov
        FROM b a JOIN b b ON b.doc_id = a.doc_id AND a.i < b.i
    )
    SELECT s.doc_id,
           CAST(s.n_boxes AS BIGINT) AS n_boxes,
           CAST(s.total_area AS BIGINT) AS total_area,
           CAST(s.max_area AS BIGINT) AS max_area,
           CAST(coalesce(p.n_overlaps, 0) AS BIGINT) AS n_overlaps
    FROM (
        SELECT doc_id, count(*) AS n_boxes,
               sum(w * h) AS total_area, max(w * h) AS max_area
        FROM b GROUP BY doc_id
    ) s LEFT JOIN (
        SELECT doc_id, sum(ov) AS n_overlaps FROM pairs GROUP BY doc_id
    ) p ON p.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
)
def multimodal_bbox_area_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Object-detection annotation processing: every document carries a
    deterministic array<struct<x,y,w,h>> of 1-5 bounding boxes (the
    COCO-style metadata a vision pipeline filters on before decoding a
    single pixel), and the key computes per-image box count, total and
    max box area, and the number of OVERLAPPING box pairs — the crowding
    signal used to drop cluttered or mislabeled images.  Box counts are
    bounded (<=5), so the pairwise overlap check runs IN-ROW over the
    array (<=10 pairs via index HOFs) — no self-join, no explode of the
    pair space; the oracle replays it relationally with a range join.

    Scale shape: pure per-row expression work over the annotation
    column; the image bytes are never touched — exactly how a 100 TB
    vision corpus is triaged."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    boxes = F.transform(
        F.sequence(F.lit(0), F.col("doc_id") % 5),
        lambda i: F.struct(
            ((F.col("doc_id") * 31 + i * 7) % 100).alias("x"),
            ((F.col("doc_id") * 17 + i * 11) % 100).alias("y"),
            (1 + (F.col("doc_id") + i) % 20).alias("w"),
            (1 + (F.col("doc_id") * 3 + i) % 15).alias("h"),
        ),
    )
    d = docs.select("doc_id", boxes.alias("bs"))
    areas = F.transform("bs", lambda b: b["w"] * b["h"])
    # ordered pair overlap count, in-row: for each i, count j > i overlapping
    idx = F.sequence(F.lit(0), F.size("bs") - 1)
    pair_ov = F.aggregate(
        F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    F.slice(idx, i + 2, F.size("bs")),
                    lambda j: (
                        ~(
                            (F.get("bs", i)["x"] + F.get("bs", i)["w"] <= F.get("bs", j)["x"])
                            | (F.get("bs", j)["x"] + F.get("bs", j)["w"] <= F.get("bs", i)["x"])
                            | (F.get("bs", i)["y"] + F.get("bs", i)["h"] <= F.get("bs", j)["y"])
                            | (F.get("bs", j)["y"] + F.get("bs", j)["h"] <= F.get("bs", i)["y"])
                        )
                    ).cast("long"),
                ),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size("bs").cast("long").alias("n_boxes"),
        F.aggregate(areas, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "total_area"
        ),
        F.array_max(areas).cast("long").alias("max_area"),
        pair_ov.alias("n_overlaps"),
    ).orderBy("doc_id")


@register(
    "multimodal_audio_silence_trim",
    "MM10",
    oracle="""
    WITH clips AS (
        SELECT doc_id, 20 + doc_id % 17 AS n FROM documents
    ), s AS (
        SELECT doc_id, n,
               list_transform(range(0, n), i ->
                   abs(((doc_id * 31 + i * 17) % 65536) - 32768) >= 8192
               ) AS loud
        FROM clips
    ), pos AS (
        SELECT doc_id, n,
               list_min(list_transform(
                   list_filter(range(0, n), i -> loud[i + 1]), i -> i))
                   AS first_loud,
               list_max(list_transform(
                   list_filter(range(0, n), i -> loud[i + 1]), i -> i))
                   AS last_loud
        FROM s
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(coalesce(first_loud, n) AS BIGINT) AS lead_silence,
           CAST(CASE WHEN last_loud IS NULL THEN n
                     ELSE n - 1 - last_loud END AS BIGINT) AS trail_silence,
           CAST(CASE WHEN first_loud IS NULL THEN 0
                     ELSE last_loud - first_loud + 1 END AS BIGINT)
               AS n_trimmed
    FROM pos ORDER BY doc_id
    """,
)
def multimodal_audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio silence trimming (the MM7 synthetic-PCM corpus): per clip,
    the leading/trailing run of samples whose amplitude is below the
    8192 threshold and the surviving trimmed length — the first
    preprocessing stage of every speech pipeline (silence carries no
    training signal and skews duration stats).  Bounds come from
    min/max of loud positions over the in-row sample array — exact
    integer arithmetic replayed verbatim by the oracle from the same
    generation formula.

    Scale shape: pure in-row array expressions over bounded clips
    (<= 36 samples here; real audio runs the identical shape through a
    mapInPandas numpy pass like MM7's RMS) — no shuffle at all before
    the final sort."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    n = (20 + F.col("doc_id") % 17).cast("int")
    idx = F.sequence(F.lit(0), n - 1)
    loud_pos = F.filter(
        idx,
        lambda i: F.abs(((F.col("doc_id") * 31 + i * 17) % 65536) - 32768)
        >= 8192,
    )
    first_loud = F.array_min(loud_pos)
    last_loud = F.array_max(loud_pos)
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_samples"),
        F.coalesce(first_loud, n).cast("long").alias("lead_silence"),
        F.when(last_loud.isNull(), n)
        .otherwise(n - 1 - last_loud)
        .cast("long")
        .alias("trail_silence"),
        F.when(first_loud.isNull(), 0)
        .otherwise(last_loud - first_loud + 1)
        .cast("long")
        .alias("n_trimmed"),
    ).orderBy("doc_id")


@register(
    "multimodal_resize_plan",
    "MM3",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(100 + doc_id % 500 AS BIGINT) AS w,
               CAST(80 + (doc_id * 7) % 400 AS BIGINT) AS h
        FROM documents
    )
    SELECT doc_id, w, h,
           CAST(round(w * least(224.0 / w, 224.0 / h), 0) AS BIGINT) AS out_w,
           CAST(round(h * least(224.0 / w, 224.0 / h), 0) AS BIGINT) AS out_h,
           round(least(224.0 / w, 224.0 / h), 4) AS scale
    FROM m
    """,
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize planning: aspect-preserving fit into 224x224 from typed
    width/height metadata (synthesized deterministically — no real image
    headers in this container).  The geometry is the oracle-checked part;
    the pixel resample itself is the stubbed decode step, exactly like
    multimodal_extract's decoder."""
    docs = table(spark, sf_dir, "documents")
    w = (100 + F.col("doc_id") % 500).cast("long")
    h = (80 + (F.col("doc_id") * 7) % 400).cast("long")
    scale = F.least(224.0 / w, 224.0 / h)
    return docs.select(
        "doc_id",
        w.alias("w"),
        h.alias("h"),
        F.round(w * scale, 0).cast("long").alias("out_w"),
        F.round(h * scale, 0).cast("long").alias("out_h"),
        F.round(scale, 4).alias("scale"),
    )


@register(
    "multimodal_frame_sample",
    "MM2",
    oracle="""
    WITH t AS (
        SELECT doc_id, text, length(text) AS n,
               greatest(CAST(ceil(length(text) / 3.0) AS INTEGER), 1) AS k
        FROM documents WHERE length(text) > 0
    ), f AS (
        SELECT doc_id, i AS frame_idx, substr(text, i * k + 1, k) AS frame
        FROM t, unnest([0, 1, 2]) AS u(i)
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(length(frame) AS BIGINT) AS frame_chars,
           substr(md5(frame), 1, 8) AS frame_md5_8
    FROM f WHERE length(frame) > 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: 1 binary payload -> N frame rows through
    Arrow-batched mapInPandas (the video keyframe-extraction shape).  The
    slicing features are oracle-checked; the ffmpeg decode is the stubbed
    step."""
    from debias_spark.operators.multimodal import attach_binary, sample_frames

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return sample_frames(attach_binary(docs), n_frames=3)


@register(
    "multimodal_dedup_binary",
    "Z18",
    oracle="""
    SELECT md5(text) AS payload_md5,
           min(doc_id) AS rep_id,
           count(*) AS n_copies,
           CAST(min(length(text)) AS BIGINT) AS n_bytes
    FROM documents GROUP BY md5(text)
    """,
)
def multimodal_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY payload column (image/audio dedup by
    content hash — the first pass of any multimodal pipeline).  The md5
    runs on the bytes, so with real media this is byte-identical-file
    dedup; the shuffle key is the 32-hex digest, never the payload.  The
    oracle hashes the same bytes through the text column (the payload here
    is utf-8 text by construction — ascii corpus, so length == octet
    count)."""
    from debias_spark.operators.multimodal import attach_binary

    docs = attach_binary(table(spark, sf_dir, "documents").select("doc_id", "text"))
    return (
        docs.select("doc_id", F.md5("payload").alias("payload_md5"),
                    F.col("meta.n_bytes").cast("bigint").alias("nb"))
        .groupBy("payload_md5")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count("*").alias("n_copies"),
            F.min("nb").alias("n_bytes"),
        )
        .select("payload_md5", "rep_id", "n_copies", "n_bytes")
    )


_BATCH_BYTES = 16000  # target GPU-inference batch payload size


@register(
    "multimodal_batch_manifest",
    "X70",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, source,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ), c AS (
        SELECT doc_id, source, n_bytes,
               CAST(sum(n_bytes) OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_bytes
        FROM m
    )
    SELECT source, doc_id, n_bytes,
           (cum_bytes - n_bytes) // {_BATCH_BYTES} AS batch_id
    FROM c
    """,
)
def multimodal_batch_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPU-inference batch manifest over a multimodal table: pack binary
    payloads into ~16 kB batches per source by bucketing each payload's
    starting byte offset — what a decode/embed stage consumes so every
    Arrow batch carries a bounded byte volume regardless of per-item size
    variance (one 10 MB image next to thumbnails would otherwise blow the
    batch memory).  The payload column comes from the same attach_binary
    plumbing as multimodal_extract (cf. operators/multimodal.py; with
    real media only the bytes differ, the manifest shape is identical).
    Same greedy starting-offset contract and single-shuffle window plan
    as docs_compaction_plan."""
    from debias_spark.operators.multimodal import attach_binary

    d = attach_binary(table(spark, sf_dir, "documents"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("source", "doc_id", F.col("meta.n_bytes").cast("long").alias("n_bytes"))
        .withColumn("cum_bytes", F.sum("n_bytes").over(w))
        .selectExpr(
            "source",
            "doc_id",
            "n_bytes",
            f"(cum_bytes - n_bytes) div {_BATCH_BYTES} AS batch_id",
        )
    )
