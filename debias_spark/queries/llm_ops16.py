"""Round-6 LLM-pipeline wave 2 (Y41-Y42, MM4): product-quantization
codebook assignment (the IVFPQ building block), corpus vocabulary drift
detection, and windowed audio energy through the real WAV decode path.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no vector/media surface; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.dedup import word_tokens
from debias_spark.operators.media_codec import synth_payload_frame, synth_wav_payload
from debias_spark.operators.similarity import PQ_DIMS, PQ_SUBSPACES
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


_DRIFT_TOP = 20
_DRIFT_MIN_DF = 3


@register(
    "docs_vocab_drift_logratio",
    "Y42",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, doc_id % 2 AS half,
               unnest(list_distinct(list_filter(
                   string_split_regex(lower(text), '\\s+'), x -> x <> '')))
                   AS term
        FROM documents
    ), df AS MATERIALIZED (
        SELECT term,
               count(*) FILTER (WHERE half = 0) AS df0,
               count(*) FILTER (WHERE half = 1) AS df1
        FROM toks GROUP BY term
    ), n AS (
        SELECT count(*) FILTER (WHERE doc_id % 2 = 0)::DOUBLE AS n0,
               count(*) FILTER (WHERE doc_id % 2 = 1)::DOUBLE AS n1
        FROM documents
    )
    SELECT term, df0, df1,
           {floor_eps_sql("ln(((df1 + 1.0) / (n.n1 + 1.0))"
                          " / ((df0 + 1.0) / (n.n0 + 1.0)))", 10000)} AS logratio_e4
    FROM df CROSS JOIN n
    WHERE df0 + df1 >= {_DRIFT_MIN_DF}
    ORDER BY abs(ln(((df1 + 1.0) / (n.n1 + 1.0)) / ((df0 + 1.0) / (n.n0 + 1.0))))
                 DESC, term
    LIMIT {_DRIFT_TOP}
    """,
)
def docs_vocab_drift_logratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary drift: smoothed document-frequency log-ratio of
    every term between two corpus halves (here doc_id parity; production
    compares crawl snapshots), top-{_DRIFT_TOP} by |log-ratio| — the
    data-quality tripwire that catches a scraper change, a new spam
    campaign, or a source going dark BEFORE the model trains on it.

    Scale shape: one tokenize + distinct-per-doc explode, one term
    aggregate with FILTER branches (single shuffle), a broadcast 1-row
    total, and a top-N TakeOrdered — no joins, no quadratic anything.
    The ordering key is a double computed from identical integers in
    both engines (bit-identical, so the sort agrees), ties break on the
    term, and the emitted value is floor-eps e4."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(
            F.array_distinct(
                word_tokens(F.col("text"))
            )
        ).alias("term"),
    )
    df = toks.groupBy("term").agg(
        F.count(F.when(F.col("half") == 0, 1)).alias("df0"),
        F.count(F.when(F.col("half") == 1, 1)).alias("df1"),
    )
    n = docs.agg(
        F.count(F.when(F.col("doc_id") % 2 == 0, 1)).cast("double").alias("n0"),
        F.count(F.when(F.col("doc_id") % 2 == 1, 1)).cast("double").alias("n1"),
    )
    lr = F.log(
        ((F.col("df1") + 1.0) / (F.col("n1") + 1.0))
        / ((F.col("df0") + 1.0) / (F.col("n0") + 1.0))
    )
    return (
        df.crossJoin(F.broadcast(n))
        .filter(F.col("df0") + F.col("df1") >= _DRIFT_MIN_DF)
        .select(
            "term",
            "df0",
            "df1",
            floor_eps(lr, 10000).cast("long").alias("logratio_e4"),
            F.abs(lr).alias("_absr"),
        )
        .orderBy(F.desc("_absr"), F.asc("term"))
        .limit(_DRIFT_TOP)
        .drop("_absr")
    )


docs_vocab_drift_logratio.__doc__ = docs_vocab_drift_logratio.__doc__.replace(
    "{_DRIFT_TOP}", str(_DRIFT_TOP)
)

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
