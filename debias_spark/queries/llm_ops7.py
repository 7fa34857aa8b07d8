"""LLM-pipeline wave 7 (Y11): BPE tokenizer-vocabulary fit — the
tokenizer-training step of a training-data pipeline, and the registry's
second iterative-algorithm representative (alongside dedup_clusters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from debias_spark.catalog import table
from debias_spark.operators.bpe import bpe_fit, bpe_oracle, word_freqs
from debias_spark.operators.dedup import WORD_TOKENS_DUCK, minhash_ctes_duck
from debias_spark.operators.text import EVAL_MAX_ID, NGRAM_AUDIT_ORACLE
from debias_spark.registry import register

@register(
    "bpe_vocab_fit",
    "Y11",
    oracle=bpe_oracle(10, WORD_TOKENS_DUCK),
    bench=False,  # 10 driver-synchronized rounds; excluded like dedup_clusters
)
def bpe_vocab_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit 10 BPE merges over the corpus vocabulary and return the merge
    table (rank, pair, merged, weighted count).  One corpus-scale
    word-count aggregation; the merge loop then iterates on the BOUNDED
    vocabulary frame with one 1-row argmax collect per round — the
    correct 100 TB shape for tokenizer training (the corpus never
    re-scans).  Greedy left-to-right merge application via non-
    overlapping string replace is identical in Spark and DuckDB, so the
    oracle replays the whole fit as 10 unrolled SQL rounds and
    hash-matches an actually-iterative engine run (same evidence
    doctrine as dedup_clusters' recursive-CTE closure)."""
    docs = table(spark, sf_dir, "documents")
    return bpe_fit(spark, word_freqs(docs), n_merges=10)


@register("docs_contamination_ngram_audit", "Y12", oracle=NGRAM_AUDIT_ORACLE)
def docs_contamination_ngram_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit against a DERIVED eval set: the
    benchmark docs' (doc_id < 20) distinct 8-token windows are joined
    against every training doc's windows — the production shape
    text_decontaminate's fixed phrase list only gestures at.  The eval
    gram set is bounded (eval benchmarks are small by nature), so it
    BROADCASTS; the train side streams through one window-lead gram
    build (codegen, cf. text_crossdoc_ngram_dup) and one doc_id rollup.
    At 100 TB the broadcast becomes a bloom-filter prefilter plus this
    exact join for survivors — same plan skeleton.  Output: contaminated
    doc ids with hit counts and a deterministic sample gram."""
    from pyspark.sql import functions as F

    from debias_spark.catalog import table as _table
    from debias_spark.operators.skew import fan_out
    from debias_spark.operators.text import word_ngrams_frame

    d = _table(spark, sf_dir, "documents")
    grams = word_ngrams_frame(fan_out(d), 8)  # scan-level fan_out (r13)
    eval_grams = (
        grams.filter(F.col("doc_id") < EVAL_MAX_ID).select("gram").distinct()
    )
    return (
        grams.filter(F.col("doc_id") >= EVAL_MAX_ID)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"), F.min("gram").alias("sample_gram"))
    )


def _recall_oracle(n_planes: int = 4, dim: int = 64, k: int = 3) -> str:
    """Composed replay: exact top-k and literal-hyperplane sign-LSH top-k
    (same constants as similarity_ann_lsh's oracle), left-joined."""
    from debias_spark.operators import similarity

    planes = similarity.hyperplanes(n_planes, dim)
    bucket = " + ".join(
        "(CASE WHEN list_dot_product(v, [{}]::DOUBLE[]) > 0"
        " THEN {} ELSE 0 END)".format(
            ",".join(repr(c) for c in plane), 1 << p
        )
        for p, plane in enumerate(planes)
    )
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), es AS (
        SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
               round(list_cosine_similarity(p.v, c.v), 4) AS sim
        FROM e p JOIN e c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < 10
    ), exact AS (
        SELECT query_id, cand_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, cand_id) AS rn
            FROM es
        ) WHERE rn <= {k}
    ), b AS (
        SELECT vec_id, v, ({bucket}) AS bucket FROM e
    ), asc_ AS (
        SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
               round(list_cosine_similarity(p.v, c.v), 4) AS sim
        FROM b p JOIN b c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
        WHERE p.vec_id < 10
    ), ann AS (
        SELECT query_id, cand_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, cand_id) AS rn
            FROM asc_
        ) WHERE rn <= {k}
    )
    SELECT x.query_id, count(x.cand_id) AS k_exact,
           count(a.cand_id) AS n_recovered,
           count(a.cand_id) * 10000 // count(x.cand_id) AS recall_bp
    FROM exact x LEFT JOIN ann a
      ON a.query_id = x.query_id AND a.cand_id = x.cand_id
    GROUP BY x.query_id
    """


@register(
    "similarity_lsh_recall_report",
    "Y13",
    oracle=_recall_oracle(4, 64, 3),
)
def similarity_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measured IN-ENGINE: per probe, how many of the exact
    cosine top-3 the sign-LSH bucket search recovered (recall@3) — the
    report that decides whether 4 hyperplanes are too aggressive before
    a 100 TB index build.  Left join exact -> ANN on (query, candidate):
    both sides are tiny per-probe top-k frames; the recall rollup is
    exact integer counts.  Both member pipelines are deterministic and
    SQL-replayable, so the WHOLE report carries a DuckDB oracle."""
    from pyspark.sql import functions as F

    from debias_spark.catalog import table as _table
    from debias_spark.operators import similarity

    emb = _table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, F.col("vec_id") < 10, k=3).select(
        "query_id", F.col("cand_id").alias("e_cand")
    )
    ann = similarity.ann_cosine_topk(
        emb, F.col("vec_id") < 10, k=3, n_planes=4, dim=64
    ).select(F.col("query_id").alias("a_q"), F.col("cand_id").alias("a_cand"))
    hits = exact.join(
        ann,
        (F.col("query_id") == F.col("a_q")) & (F.col("e_cand") == F.col("a_cand")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count("e_cand").alias("k_exact"),
        F.count("a_cand").alias("n_recovered"),
        F.expr("count(a_cand) * 10000 div count(e_cand)").alias("recall_bp"),
    )


def _jaccard_hist_oracle() -> str:
    ctes, jac = minhash_ctes_duck(num_hashes=32, bands=4)
    return f"""
    WITH {ctes}, verified AS (
        SELECT {jac} AS j
        FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
    )
    SELECT CAST(floor(j * 20) AS BIGINT) AS bucket_20th,
           count(*) AS n_pairs
    FROM verified GROUP BY bucket_20th
    """


@register("dedup_jaccard_histogram", "Y14", oracle=_jaccard_hist_oracle())
def dedup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity report for the MinHash dedup pipeline: the
    distribution of exact Jaccard over ALL LSH candidate pairs (no
    threshold), bucketed in 0.05 steps.  Reading this histogram is how
    the 0.8 cutoff gets chosen — a bimodal shape (noise lobe vs
    duplicate lobe) says the threshold sits safely in the valley; mass
    near the cutoff says tighten the bands first.  Same banding pipeline
    and DuckDB replay as dedup_minhash_lsh, minus the filter, plus a
    20-bucket rollup."""
    from pyspark.sql import functions as F

    from debias_spark.catalog import table as _table
    from debias_spark.operators.dedup import minhash_dedup

    docs = _table(spark, sf_dir, "documents")
    pairs = minhash_dedup(
        docs, "doc_id", "text", shingle_n=1, num_hashes=32, bands=4,
        threshold=0.0,
    )
    return (
        pairs.select(F.floor(F.col("jaccard") * 20).cast("long").alias("bucket_20th"))
        .groupBy("bucket_20th")
        .agg(F.count("*").alias("n_pairs"))
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


@register(
    "docs_lang_confusion_audit",
    "Y16",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                         x -> x <> '')) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, lang,
            CAST(len(list_intersect(toks, ['the','a','of','and','to','in','is'])) AS BIGINT) AS s_en,
            CAST(len(list_intersect(toks, ['der','die','das','und','zu','ein','ist'])) AS BIGINT) AS s_de,
            CAST(len(list_intersect(toks, ['el','la','de','y','que','un','es'])) AS BIGINT) AS s_es,
            CAST(len(list_intersect(toks, ['le','la','de','et','les','un','est'])) AS BIGINT) AS s_fr
        FROM t
    ), p AS (
        SELECT lang,
               CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
                    WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS pred_lang
        FROM s
    )
    SELECT lang AS labeled_lang, pred_lang, count(*) AS n_docs,
           CAST((count(*) * 10000)
               // sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
               AS row_share_bp
    FROM p GROUP BY lang, pred_lang
    """,
)
def docs_lang_confusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-vs-model agreement audit: the confusion matrix between the
    corpus's LABELED language column and the function-word language-ID
    heuristic (text_lang_id), with per-label row shares in basis points
    — the data-quality check that catches mislabeled-source batches
    before they poison a language-filtered training mix.  One rollup on
    (label, prediction); the share window runs over the <=16-cell
    matrix.  Counts exact, shares integer basis points."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from debias_spark.catalog import table as _table
    from debias_spark.operators.text import lang_predict, lang_scores

    docs = _table(spark, sf_dir, "documents")
    p = docs.select(
        "lang", lang_predict(lang_scores(F.col("text"))).alias("pred_lang")
    )
    g = p.groupBy("lang", "pred_lang").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang")
    return (
        g.withColumn("_tot", F.sum("n_docs").over(w))
        .select(
            F.col("lang").alias("labeled_lang"),
            "pred_lang",
            "n_docs",
            F.expr("(n_docs * 10000) div _tot").alias("row_share_bp"),
        )
    )


def _minhash_incremental_oracle(num_hashes: int = 32, bands: int = 4) -> str:
    ctes, jac = minhash_ctes_duck(num_hashes, bands)
    # reuse the sh/ex/sig/banded CTE chain, then split banded by batch
    # membership instead of self-joining the whole corpus
    return f"""
    WITH {ctes}, new_b AS (
        SELECT id, band_id, band_hash FROM banded WHERE id % 5 = 0
    ), idx_b AS (
        SELECT id, band_id, band_hash FROM banded WHERE id % 5 <> 0
    ), cand2 AS (
        SELECT n.id AS id, min(i.id) AS rep_id
        FROM new_b n JOIN idx_b i
          ON i.band_id = n.band_id AND i.band_hash = n.band_hash
        GROUP BY n.id
    )
    SELECT c.id AS id, c.rep_id AS rep_id, {jac} AS jaccard
    FROM cand2 c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
    WHERE {jac} >= 0.8
    """


@register(
    "dedup_minhash_incremental",
    "Y17",
    oracle=_minhash_incremental_oracle(32, 4),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a NEW batch (doc_id % 5 == 0 plays
    today's arrivals) is checked against the EXISTING corpus index (the
    rest) — the daily-pipeline shape where the historical side's band
    table is precomputed and only new-vs-index collisions are ever
    joined, never index-vs-index (the full self-dedup is
    dedup_minhash_lsh's job and needs running once, not daily).  Per new
    doc, the matched index representative is the min colliding index id
    across ALL bands (one aggregate on the join output), verified by
    exact Jaccard >= 0.8.  The banding pipeline and its DuckDB replay
    are shared with the other minhash keys; in production the idx_b
    frame is a parquet table keyed by (band_id, band_hash) and the join
    prunes by bucket."""
    from pyspark.sql import functions as F

    from debias_spark.catalog import table as _table
    from debias_spark.operators.dedup import jaccard, minhash_banded, word_shingles

    docs = _table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    banded = minhash_banded(sh, num_hashes=32, bands=4)
    new_b = banded.filter(F.col("id") % 5 == 0)
    idx_b = banded.filter(F.col("id") % 5 != 0).select(
        F.col("id").alias("i_id"),
        F.col("band_id").alias("i_band"),
        F.col("band_hash").alias("i_hash"),
    )
    cand = (
        new_b.join(
            idx_b,
            (F.col("i_band") == F.col("band_id"))
            & (F.col("i_hash") == F.col("band_hash")),
        )
        .groupBy("id")
        .agg(F.min("i_id").alias("rep_id"))
    )
    a_sh = sh
    b_sh = sh.select(F.col("id").alias("rep_id"), F.col("sh").alias("rep_sh"))
    return (
        cand.join(a_sh, "id")
        .join(b_sh, "rep_id")
        .select(
            "id",
            "rep_id",
            F.round(jaccard(F.col("sh"), F.col("rep_sh")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
