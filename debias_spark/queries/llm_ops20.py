"""Round-7 block, LLM wave (Y48): MMR (maximal marginal relevance)
diversity re-ranking over the cosine-retrieval candidates — the standard
RAG/retrieval post-processor that trades pure relevance for coverage so
the selected passages aren't five near-copies of the same chunk.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no retrieval surface; north-star extension per SURVEY §2.H (H8
family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators import similarity
from debias_spark.operators.media_codec import synth_payload_frame, synth_wav_payload
from debias_spark.registry import register

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


# Per-language equal-count downsample by deterministic md5 order — the
# same SQL text runs on both engines (md5 is the repo's portable hash).
_BALANCED_SQL = """
WITH ranked AS (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS {strty})), doc_id) AS rn
    FROM {docs}
), k AS (
    SELECT min(cnt) AS k FROM (
        SELECT count(*) AS cnt FROM {docs} GROUP BY lang
    )
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM ranked, k
WHERE rn <= k.k
GROUP BY lang
ORDER BY lang
"""


@register(
    "docs_lang_balanced_sample",
    "Y49",
    oracle=_BALANCED_SQL.format(strty="VARCHAR", docs="documents"),
)
def docs_lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsampling: every language keeps exactly
    K = min(per-language count) documents, chosen by deterministic
    md5(doc_id) order — the standard rebalancing step before training on
    a skewed multilingual corpus (no RNG, no seed file: the same corpus
    always yields the same sample on any cluster).  id_sum pins the
    EXACT selected set, not just its size.

    Scale: the rank is one window per language partition (each language
    sorts independently — parallel across langs, and at 100 TB you'd
    additionally pre-filter with a per-lang count-based md5-prefix
    threshold so the sort only sees ~K rows per lang); K is a 5-row
    aggregate broadcast back.  No global order anywhere.

    Plan shape: scan -> lang-partitioned window -> broadcast 1-row K ->
    filter -> 5-group aggregate."""
    return spark.sql(
        _BALANCED_SQL.format(strty="STRING", docs="{docs}"),
        docs=table(spark, sf_dir, "documents"),
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
