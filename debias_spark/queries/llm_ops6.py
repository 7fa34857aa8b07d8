"""LLM-pipeline wave 6 (X65-X66): token-budget data selection and LSH
index observability — the operational side of a training-data pipeline
(deciding WHAT to keep under a token budget, and checking the dedup
index is healthy) rather than another transform.

Determinism doctrine as everywhere: ordering keys and cumulative sums
are exact BIGINTs; no doubles cross an ordering or threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.operators.dedup import (
    WORD_TOKENS_DUCK,
    minhash_banded,
    minhash_ctes_duck,
    word_shingles,
    word_tokens,
)
from debias_spark.registry import register

_TOKEN_BUDGET = 4000  # tokens per source

# token BUDGETS count repetitions: WORD_TOKENS_DUCK is every token, not
# the distinct set shingling uses


@register(
    "docs_token_budget_curve",
    "X65",
    oracle=f"""
    WITH t AS (
        SELECT source, doc_id,
               CAST(len({WORD_TOKENS_DUCK}) AS BIGINT) AS n_tokens,
               (n_chars * 1000)
                   // greatest(CAST(len({WORD_TOKENS_DUCK}) AS BIGINT), 1)
                   AS score_milli
        FROM documents
    ), c AS (
        SELECT source, doc_id, n_tokens, score_milli,
               CAST(sum(n_tokens) OVER (PARTITION BY source
                                        ORDER BY score_milli DESC, doc_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_tokens
        FROM t
    )
    SELECT source, doc_id, score_milli, cum_tokens
    FROM c WHERE cum_tokens - n_tokens < {_TOKEN_BUDGET}
    """,
)
def docs_token_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection: within each source, rank documents by
    a quality proxy (mean token length in milli-chars — an exact BIGINT,
    so the ranking is engine-stable) and keep the prefix that fills a
    4 000-token budget — the 'take the best N tokens per domain' pass of
    corpus curation, with the admission rule on the doc's STARTING
    offset (same greedy contract as docs_compaction_plan).

    Plan: tokenize once per row (codegen), one shuffle on source, one
    in-partition sort for the running total.  The budget filter
    ``cum - n < B`` needs no second pass: the window already carries the
    cumulative count."""
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(word_tokens(F.col("text"))).cast("long")
    t = d.select(
        "source",
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.expr("n_chars * 1000").cast("long").alias("_chars_milli"),
    ).withColumn(
        "score_milli",
        F.expr("_chars_milli div greatest(n_tokens, 1)"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("score_milli"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < _TOKEN_BUDGET)
        .select("source", "doc_id", "score_milli", "cum_tokens")
    )


def _lsh_bucket_stats_oracle() -> str:
    ctes, _ = minhash_ctes_duck(num_hashes=32, bands=4)
    return f"""
    WITH {ctes}, sizes AS (
        SELECT band_id, count(*) AS bucket_size
        FROM banded GROUP BY band_id, band_hash
    )
    SELECT band_id, bucket_size, count(*) AS n_buckets,
           bucket_size * (bucket_size - 1) // 2 * count(*) AS candidate_pairs
    FROM sizes GROUP BY band_id, bucket_size
    """


@register("dedup_lsh_bucket_stats", "X66", oracle=_lsh_bucket_stats_oracle())
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH index observability: the bucket-size histogram per band, with
    the implied candidate-pair cost (size choose 2 per bucket).  This is
    the number you watch before unleashing a dedup run at 100 TB — a
    skewed band (one giant bucket) means the verify stage degenerates
    toward quadratic, and the fix (more bands / more hashes / salting
    hot buckets) is a tuning decision this report drives.  Shares the
    minhash banding pipeline (and its DuckDB replay) with
    dedup_minhash_lsh; one extra rollup on top."""
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    banded = minhash_banded(sh, num_hashes=32, bands=4)
    sizes = banded.groupBy("band_id", "band_hash").agg(
        F.count("*").alias("bucket_size")
    )
    return sizes.groupBy("band_id", "bucket_size").agg(
        F.count("*").alias("n_buckets"),
        F.expr("bucket_size * (bucket_size - 1) div 2 * count(*)").alias(
            "candidate_pairs"
        ),
    )


@register(
    "text_ngram_novelty_curve",
    "X68",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(list_distinct([t[i] || ' ' || t[i+1]
                                     FOR i IN range(1, len(t))])) AS gram
        FROM tok WHERE len(t) >= 2
    ), totals AS (
        SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id
    ), firsts AS (
        SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
    ), news AS (
        SELECT first_doc AS doc_id, count(*) AS n_new
        FROM firsts GROUP BY first_doc
    )
    SELECT t.doc_id, t.n_grams, coalesce(n.n_new, 0) AS n_new,
           (coalesce(n.n_new, 0) * 10000) // t.n_grams AS novelty_bp
    FROM totals t LEFT JOIN news n ON n.doc_id = t.doc_id
    """,
)
def text_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity curve: per document, how many of its distinct
    word bigrams appear for the FIRST time (by doc_id order) — the
    running-novelty statistic used to decide when more data from a
    source stops adding information.  'First' is attributed via a
    min(doc_id) aggregate per gram — order-free and engine-exact, where
    a cumulative-seen formulation would need a quadratic window.
    Novelty is reported in BIGINT basis points.

    Plan: explode distinct bigrams (map-side) into TWO aggregates —
    grams per doc, and first-claimant per gram re-aggregated to n_new
    per doc — then one join of two DOC-sized frames.  The original
    formulation joined the gram-level frame back to itself on the gram
    string (measured 7.65 s at sf0.1); attributing novelty from the
    firsts aggregate alone cuts the shuffled bytes from O(total grams x
    gram width) to O(docs) — same values, hash-checked by the same
    oracle."""
    d = table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("gram")
    )
    totals = g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    firsts = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    news = firsts.groupBy("first_doc").agg(F.count("*").alias("n_new"))
    return (
        totals.join(news, totals.doc_id == news.first_doc, "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
            F.expr("(coalesce(n_new, 0) * 10000) div n_grams").alias(
                "novelty_bp"
            ),
        )
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


@register(
    "embedding_dim_stats",
    "X72",
    oracle="""
    WITH x AS (
        SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings
    )
    SELECT dim, count(*) AS n,
           round(sum(v) / count(*), 6) AS mean,
           round((sum(v * v) - sum(v) * sum(v) / count(*)) / count(*), 6)
               AS var_pop
    FROM x GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moment profile of the embedding column (mean and
    population variance per coordinate) — the screening pass before
    whitening/PCA/quantizer design: dead dims (var ~ 0) and scale
    outliers show up here.  posexplode keeps dim attribution columnar;
    the aggregate is map-side-combined sums of v and v² per dim (64
    groups — trivially mergeable at any corpus size).  Both engines sum
    float64 and round to 6 dp; the values are O(0.1) so the last-ulp
    ordering difference sits ~7 orders below the rounding grain."""
    emb = table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v")
    ).select(F.col("dim0").cast("long").alias("dim"), "v")
    return x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.sum("v") / F.count("*"), 6).alias("mean"),
        F.round(
            (F.sum(F.col("v") * F.col("v")) - F.sum("v") * F.sum("v") / F.count("*"))
            / F.count("*"),
            6,
        ).alias("var_pop"),
    )


@register(
    "text_inverted_index_sample",
    "X75",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(list_distinct(list_filter(
                   string_split_regex(lower(text), '\\s+'), x -> x <> '')))
                   AS t
        FROM documents
    ), postings AS (
        SELECT t, count(*) AS df,
               coalesce(array_to_string(list_sort(list(doc_id))[1:10], ','),
                        '') AS sample_postings
        FROM tok GROUP BY t
    )
    SELECT t AS token, df, sample_postings
    FROM postings ORDER BY df DESC, token LIMIT 20
    """,
)
def text_inverted_index_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the search-infrastructure primitive): per
    token, its document frequency and the first 10 doc ids of its
    posting list; top 20 terms by df.  Posting lists are born SORTED and
    BOUNDED here — ``sort_array(collect_list())[:10]`` per group — which
    is the honest distributed shape: full postings at 100 TB get written
    as (token-bucketed, doc-sorted) parquet instead of materialized in
    one row, same aggregate skeleton.  Explode distinct tokens map-side,
    one shuffle on token, top-20 via the aggregated (vocabulary-sized)
    frame."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_tokens(F.col("text")))).alias("t"),
    )
    postings = tok.groupBy("t").agg(
        F.count("*").alias("df"),
        # comma-joined string, not an array column: the driver's value
        # hash compares scalar cells
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10), ","
        ).alias("sample_postings"),
    )
    return (
        postings.select(F.col("t").alias("token"), "df", "sample_postings")
        .orderBy(F.desc("df"), "token")
        .limit(20)
    )


_BM25_TERMS = ("spark", "query", "merge")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS t
        FROM documents
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
    ), corpus AS (
        SELECT count(*) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS total_len
        FROM dl
    ), tf AS (
        SELECT doc_id, t, count(*) AS tf FROM tok
        WHERE t IN ({terms}) GROUP BY doc_id, t
    ), df AS (
        SELECT t, count(*) AS df FROM tf GROUP BY t
    ), scored AS (
        SELECT tf.doc_id,
               ln((CAST(c.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                  / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
               * (CAST(tf.tf AS DOUBLE) * ({_BM25_K1} + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + {_BM25_K1} * (1.0 - {_BM25_B}
                                  + {_BM25_B} * CAST(dl.dl AS DOUBLE)
                                    * CAST(c.n_docs AS DOUBLE)
                                    / CAST(c.total_len AS DOUBLE)))
                   AS s
        FROM tf JOIN dl ON dl.doc_id = tf.doc_id
                JOIN df ON df.t = tf.t
                CROSS JOIN corpus c
    )
    SELECT doc_id, round(sum(s), 4) + 0.0 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY round(sum(s), 4) DESC, doc_id LIMIT 20
    """


@register("docs_bm25_search", "X76", oracle=_bm25_oracle())
def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search over the corpus for a fixed 3-term query:
    tf/df/doc-length statistics as exact BIGINT aggregates, the Okapi
    scoring formula as ONE double expression tree written identically in
    both engines (dl/avgdl is spelled dl*n_docs/total_len so the only
    divisions are the final ones), top 20 by rounded score.  Search
    relevance as pure relational algebra: explode -> two aggregates ->
    two broadcast joins (df is |query| rows, corpus stats 1 row) -> a
    vocabulary-bounded top-k.  At 100 TB the df/corpus frames stay tiny;
    only tf and dl scale, each one linear shuffle."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(word_tokens(F.col("text"))).alias("t")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    )
    tf = (
        tok.filter(F.col("t").isin(*_BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("t").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "t")
        .crossJoin(F.broadcast(corpus))
        .selectExpr(
            "doc_id",
            f"""ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                   / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                * (CAST(tf AS DOUBLE) * ({_BM25_K1} + 1.0))
                / (CAST(tf AS DOUBLE)
                   + {_BM25_K1} * (1.0 - {_BM25_B}
                                   + {_BM25_B} * CAST(dl AS DOUBLE)
                                     * CAST(n_docs AS DOUBLE)
                                     / CAST(total_len AS DOUBLE))) AS s""",
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg((F.round(F.sum("s"), 4) + 0.0).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )
