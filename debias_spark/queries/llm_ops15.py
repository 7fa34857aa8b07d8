"""Round-6 LLM-pipeline wave (Y37-Y40): tokenizer APPLICATION at corpus
scale (BPE encode + fertility), semantic dedup (SemDeDup-style
cluster-then-cosine), matryoshka coarse-to-fine retrieval, and
deterministic quality binning for curriculum scheduling.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no tokenizer/vector surface; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import EPS, floor_eps, floor_eps_sql
from debias_spark.operators.bpe import bpe_encode_oracle, bpe_fit, word_freqs
from debias_spark.operators.dedup import WORD_TOKENS_DUCK
from debias_spark.operators.similarity import SEM_ASSIGN_CTE_DUCK, SEM_K, dot, l2_norm
from debias_spark.registry import register

@register(
    "bpe_encode_corpus",
    "Y37",
    oracle=bpe_encode_oracle(10, WORD_TOKENS_DUCK),
    bench=False,  # shares bpe_vocab_fit's 10 driver-synchronized fit rounds
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: fit 10 BPE merges (Y11's loop), then encode
    every document and emit per-doc word / BPE-token / char counts plus
    fertility (chars per BPE token, the tokenizer-quality metric that
    decides vocabulary budgets per language).

    Scale shape — the half that actually runs at 100 TB: the fitted merge
    table is 10 driver rows, so encoding is ONE corpus pass applying a
    constant 20-replace expression chain per word (whole-stage codegen,
    no Python, no join) followed by one doc_id rollup.  The fit cost is
    Y11's and stays vocabulary-bounded.  The oracle replays fit AND
    encode: the b0..b9 merge chain, then the identical double-replace
    per rank over every word, linearly chained CTEs."""
    docs = table(spark, sf_dir, "documents")
    merges = bpe_fit(spark, word_freqs(docs), n_merges=10).collect()

    from debias_spark.operators.dedup import word_tokens

    words = docs.select(
        "doc_id", F.explode(word_tokens(F.col("text"))).alias("w")
    )
    s = F.array_join(F.split("w", ""), " ")
    padded = F.concat(F.lit(" "), s, F.lit(" "))
    for row in merges:
        search, repl = F.lit(f" {row.pair} "), F.lit(f" {row.merged} ")
        # the same double replace as the fit: pass 2 catches the
        # alternating back-to-back occurrences pass 1 skips
        padded = F.replace(F.replace(padded, search, repl), search, repl)
        padded = F.concat(F.lit(" "), F.trim(padded), F.lit(" "))
    n_sym = F.size(F.split(F.trim(padded), " "))
    per_word = words.select(
        "doc_id", n_sym.alias("n_sym"), F.length("w").alias("wc")
    )
    return per_word.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        F.sum("wc").cast("long").alias("sum_chars"),
        floor_eps(F.sum("wc").cast("double") / F.sum("n_sym"), 10000)
        .cast("long")
        .alias("fertility_e4"),
    )


_SEM_THRESH_E4 = 3500


@register(
    "semdedup_cluster_cosine",
    "Y38",
    oracle=SEM_ASSIGN_CTE_DUCK + f"""
    SELECT a1.cent_id,
           a1.vec_id AS id_a, a2.vec_id AS id_b,
           {floor_eps_sql("list_cosine_similarity(e1.v, e2.v)", 10000)} AS sim_e4
    FROM a a1
    JOIN a a2 ON a2.cent_id = a1.cent_id AND a1.vec_id < a2.vec_id
    JOIN e e1 ON e1.vec_id = a1.vec_id
    JOIN e e2 ON e2.vec_id = a2.vec_id
    WHERE {floor_eps_sql("list_cosine_similarity(e1.v, e2.v)", 10000)}
          >= {_SEM_THRESH_E4}
    """,
)
def semdedup_cluster_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public): cluster
    the embeddings (K=8 pinned-init assignment, exactly Y32's), then find
    near-duplicate pairs ONLY within each cluster (cosine >= 0.35 — the
    synthetic embeddings' ~99.5th within-cluster percentile; a real
    SemDeDup run sets ~0.95+ for genuine near-dups) — the
    clustering turns the quadratic all-pairs search into per-cluster
    blocks, the same bucketing idea LSH uses but in semantic space.

    Scale shape: assignment is one broadcast-K scan (Y32); the pair
    search shuffles by cent_id and is quadratic only within a cluster —
    at 100 TB, K scales with corpus size (production SemDeDup uses ~100k
    clusters) so cluster sizes and the per-block pair cost stay flat.
    Sims emit as floor-eps e4 integers and the threshold compares the
    INTEGER, so no float tie can split the engines at the boundary."""
    emb = table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    # assignment argmax orders on the floor-eps e4 INTEGER, not round():
    # here a flipped tie would change cluster membership.
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        "v",
        "nrm",
        floor_eps(dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 10000)
        .cast("long")
        .alias("sim_e4"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim_e4"), F.asc("cent_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id", "v")
    )

    # Within-cluster pair scoring runs as ONE numpy gram matrix per
    # cluster block (applyInPandas) instead of a self-join with the
    # Catalyst lambda fold: the HOF dot is interpreted per element
    # (SCALE.md expression rule 1), and the vectorized block cut this
    # key 2.2s -> 0.7s at sf0.1 (min of 3).  The e4-floor happens in numpy on the
    # same doubles DuckDB computes, so the integer grid absorbs the
    # matmul's pairwise-summation ulps exactly like everywhere else.
    def pair_block(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        v = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.sqrt((v * v).sum(axis=1))
        sims = (v @ v.T) / (nrm[:, None] * nrm[None, :])
        e4 = np.floor(sims * 10000 + EPS).astype(np.int64)
        iu = np.triu_indices(len(ids), 1)
        keep = e4[iu] >= _SEM_THRESH_E4
        a, b = ids[iu[0]][keep], ids[iu[1]][keep]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {
                "cent_id": np.full(len(lo), int(pdf["cent_id"].iloc[0])),
                "id_a": lo,
                "id_b": hi,
                "sim_e4": e4[iu][keep],
            }
        )

    return assigned.groupBy("cent_id").applyInPandas(
        pair_block, schema="cent_id long, id_a long, id_b long, sim_e4 long"
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


@register(
    "docs_quality_ntile_bins",
    "Y40",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '')) AS n_tokens
        FROM documents
    ), binned AS (
        SELECT doc_id, n_tokens,
               ntile(10) OVER (ORDER BY n_tokens, doc_id) AS bin
        FROM s
    )
    SELECT CAST(bin AS INTEGER) AS bin,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def docs_quality_ntile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: decile buckets over a deterministic integer
    quality proxy (token count; production swaps in the LM/quality score)
    with (score, doc_id) ordering so every document lands in exactly one
    reproducible bin — the sampling-schedule input for curriculum /
    quality-mixing training runs.

    Scale shape caveat stated honestly: ntile needs a total order, which
    at this SF is one global window sort.  At 100 TB the identical
    result comes from range-partitioning on precomputed quantile cuts
    (the zorder_cluster_key / equidepth-histogram machinery) — the
    decile CONTRACT (count-balanced, boundary-deterministic) is what
    this key pins."""
    from debias_spark.operators.dedup import word_tokens

    docs = table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", F.size(word_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    w = Window.orderBy("n_tokens", "doc_id")
    binned = s.select("doc_id", "n_tokens", F.ntile(10).over(w).alias("bin"))
    return (
        binned.groupBy(F.col("bin").cast("int").alias("bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("bin")
    )
