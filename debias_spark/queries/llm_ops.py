"""LLM-data-pipeline queries (SURVEY §2.H H7-H10 + the north-star dedup /
similarity / multimodal / text-analysis surface), over ``documents`` and
``embeddings``.

Implementation lives in debias_spark.operators.*; these wrappers pin the
query-key parameters (probe sets, thresholds, k) and pair each with a DuckDB
oracle where the semantics are SQL-expressible.  Thresholds are applied to
ROUNDED scores so membership is reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.operators.skew import fan_out
from debias_spark.operators import multimodal, similarity
from debias_spark.operators.dedup import minhash_dedup, simhash_pairs, word_tokens
from debias_spark.operators.text import (
    BPE_ISH_PATTERN,
    bpe_ish_token_count,
    fingerprint_md5,
    lang_predict,
    lang_scores,
    punct_ratio,
    quality_score,
    stopword_ratio,
    whitespace_token_count,
)
from debias_spark.registry import register

# --- dedup -------------------------------------------------------------------


@register(
    "dedup_exact",
    "H7",
    oracle="""
    SELECT min(doc_id) AS rep_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a hash aggregate with a deterministic representative
    (min doc_id) — not dropDuplicates, whose survivor is partition-order
    dependent.  At 100 TB, group by md5(text) first so the shuffle key is 16
    bytes (see text_fingerprint), then resolve representatives."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("n_copies")
    ).select("rep_id", "n_copies")


# DuckDB h60 spelling: identical value to operators.dedup.h60 (verified
# bit-equal at sf0.001/0.01)
def _h60_duck(x: str) -> str:
    return f"(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


_DUCK_TOKENS = (
    "list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),"
    " x -> x <> ''))"
)


def _band_selects_duck(num_hashes: int, bands: int, from_cte: str = "sig") -> str:
    """UNION ALL of per-band (id, band_id, band_hash) selects over a wide
    signature CTE — the DuckDB twin of operators.dedup.bands_from_sig,
    factored out so multi-band-config oracles (Y71) replay several band
    layouts from ONE signature CTE.  Text identical to the pre-split
    _minhash_ctes emission."""
    rpb = num_hashes // bands
    return " UNION ALL ".join(
        "SELECT id, {b} AS band_id, {bh} AS band_hash FROM {f}".format(
            b=b,
            f=from_cte,
            bh=
            _h60_duck(
                "concat_ws(',', {}, '{}')".format(
                    ", ".join(
                        f"h{b * rpb + r}::VARCHAR" for r in range(rpb)
                    ),
                    b,
                )
            )
        )
        for b in range(bands)
    )


def _minhash_ctes(
    num_hashes: int = 32, bands: int = 4, source: str = "documents"
) -> tuple[str, str]:
    """(cte_chain, jaccard_expr) for the DuckDB replay of minhash_dedup:
    same base-h60 + affine-permutation signatures, band hashes, and
    bucket-representative window.  Shared by the pair oracle, the
    recursive-closure cluster oracle, and (via ``source``) the Z20
    full-pipeline oracle, which runs the same chain over the exact-dedup
    representatives CTE instead of raw documents."""
    from debias_spark.operators.dedup import MINHASH_P, minhash_params

    sig_cols = ", ".join(
        f"min(((({_h60_duck('s')}) % {MINHASH_P}) * {a} + {b}) % {MINHASH_P})"
        f" AS h{h}"
        for h, (a, b) in enumerate(minhash_params(num_hashes))
    )
    band_selects = _band_selects_duck(num_hashes, bands)
    jac = (
        "round(len(list_intersect(a.sh, b.sh))::DOUBLE"
        " / len(list_distinct(a.sh || b.sh)), 4)"
    )
    ctes = f"""sh AS (
        SELECT doc_id AS id, {_DUCK_TOKENS} AS sh FROM {source}
        WHERE len({_DUCK_TOKENS}) > 0
    ), ex AS (
        SELECT id, unnest(sh) AS s FROM sh
    ), sig AS (
        SELECT id, {sig_cols} FROM ex GROUP BY id
    ), banded AS (
        {band_selects}
    ), cand AS (
        SELECT DISTINCT id, rep_id FROM (
            SELECT id, min(id) OVER (PARTITION BY band_id, band_hash) AS rep_id
            FROM banded
        ) WHERE id > rep_id
    )"""
    return ctes, jac


def _minhash_oracle(num_hashes: int = 32, bands: int = 4) -> str:
    """DuckDB replay of minhash_dedup, value-for-value: pair output with
    exact-Jaccard verification against the bucket representative."""
    ctes, jac = _minhash_ctes(num_hashes, bands)
    return f"""
    WITH {ctes}
    SELECT c.id AS id, c.rep_id AS rep_id, {jac} AS jaccard
    FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
    WHERE {jac} >= 0.8
    """


def _clusters_oracle(num_hashes: int = 32, bands: int = 4) -> str:
    """DuckDB replay of duplicate_clusters: the minhash pair CTEs feed a
    WITH RECURSIVE transitive closure (every node collects all reachable
    ids; its cluster label is the minimum).  SQL-expressible after all —
    recursion lives in the oracle, iteration (pointer-jumping min-label
    propagation) in the engine; both compute the same fixpoint."""
    ctes, jac = _minhash_ctes(num_hashes, bands)
    return f"""
    WITH RECURSIVE {ctes}, verified AS MATERIALIZED (
        -- MATERIALIZED is load-bearing: without it DuckDB re-evaluates
        -- the minhash chain on every ``reach`` recursion iteration
        -- (measured 2.1 s -> 0.2 s at sf0.01, r10 verdict item 2)
        SELECT c.id AS id, c.rep_id AS rep_id
        FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
        WHERE {jac} >= 0.8
    ), edges AS MATERIALIZED (
        SELECT id AS src, rep_id AS dst FROM verified
        UNION
        SELECT rep_id AS src, id AS dst FROM verified
    ), reach(node, r) AS (
        SELECT doc_id AS node, doc_id AS r FROM documents
        UNION
        SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r
    ), labeled AS (
        SELECT node AS id, min(r) AS cluster_id FROM reach GROUP BY node
    ), sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
    )
    SELECT l.id AS id, l.cluster_id AS cluster_id, s.cluster_size AS cluster_size
    FROM labeled l JOIN sizes s USING (cluster_id)
    """


@register(
    "dedup_minhash_lsh",
    "H9",
    oracle=_minhash_oracle(num_hashes=32, bands=4),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection: shingle -> 32-hash signature -> 4
    bands -> bucket join -> verify exact Jaccard >= 0.8 against the bucket
    representative.  Unigram shingles fit this bag-of-words corpus; n is a
    parameter.  The md5-backed h60 sketch hash is engine-portable, so the
    DuckDB oracle replays the ENTIRE pipeline — signatures, band buckets,
    representatives, verification — value-for-value."""
    docs = table(spark, sf_dir, "documents")
    return minhash_dedup(docs, "doc_id", "text", shingle_n=1, num_hashes=32, bands=4, threshold=0.8)


@register("dedup_clusters", "H9e", oracle=_clusters_oracle(), bench=False)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the MinHash near-dup
    pair graph (min-label propagation with pointer jumping,
    driver-controlled iteration with lineage checkpoints).  The full dedup
    endgame — from pairs to 'keep doc_id == cluster_id' — and the
    registry's representative of iterative algorithms.  The DuckDB oracle
    replays the pair pipeline and closes the graph with WITH RECURSIVE, so
    the component labels are hash-matched, not just row-counted."""
    from debias_spark.operators.dedup import duplicate_clusters

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", shingle_n=1, threshold=0.8)
    ids = docs.select(F.col("doc_id").alias("id"))
    return duplicate_clusters(ids, pairs, id_col="id", pair_cols=("id", "rep_id"))


def _simhash_oracle(max_hamming: int = 4, block_bits: int = 8) -> str:
    """DuckDB replay of simhash_pairs: h60 per distinct token, 60 majority
    votes, fingerprint reassembly, prefix blocking, Hamming filter."""
    votes = ", ".join(f"sum((h >> {b}) & 1) AS v{b}" for b in range(60))
    fp = " + ".join(
        f"(CASE WHEN v{b} * 2 >= n THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(60)
    )
    shift = 60 - block_bits
    return f"""
    WITH tok AS (
        SELECT doc_id AS id, unnest({_DUCK_TOKENS}) AS t FROM documents
    ), th AS (
        SELECT id, {_h60_duck("t")} AS h FROM tok
    ), votes AS (
        SELECT id, count(*) AS n, {votes} FROM th GROUP BY id
    ), fp AS (
        SELECT id, ({fp}) AS sh FROM votes
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON (a.sh >> {shift}) = (b.sh >> {shift})
                       AND a.id < b.id
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


@register("dedup_simhash", "H9b", oracle=_simhash_oracle(max_hamming=4, block_bits=8))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit md5-backed majority fingerprint over
    token hashes, candidates blocked on the top 8 fingerprint bits, Hamming
    <= 4 via bit_count(xor).  The engine-portable h60 sketch hash lets the
    DuckDB oracle recompute fingerprints, blocks, and pair distances
    value-for-value."""
    docs = table(spark, sf_dir, "documents")
    return simhash_pairs(docs, "doc_id", "text", max_hamming=4, block_bits=8)


@register(
    "dedup_ngram_jaccard",
    "H9c",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               list_distinct([substr(lower(text), i, 3)
                              FOR i IN range(1, greatest(length(text) - 2, 1) + 1)]) AS grams
        FROM documents WHERE doc_id < 60
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_common,
           round(len(list_intersect(a.grams, b.grams))::DOUBLE
                 / len(list_distinct(a.grams || b.grams)), 4) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.grams, b.grams))::DOUBLE
                / len(list_distinct(a.grams || b.grams)), 4) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 3-gram Jaccard near-dup pairs over a bounded probe window
    (doc_id < 60 keeps the demo pairwise; the scale path for unbounded
    corpora is the LSH variant above)."""
    # filter BEFORE fan_out (r13 advice): the doc_id < 60 probe window is
    # highly selective, so the round-robin exchange moves only survivors
    docs = fan_out(table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60))
    norm = F.lower("text")
    idx = F.sequence(F.lit(1), F.greatest(F.length("text") - 2, F.lit(1)))
    grams = F.array_distinct(F.transform(idx, lambda i: F.substring(norm, i, 3)))
    g = docs.select(F.col("doc_id").alias("id"), grams.alias("grams"))
    a = g.select(F.col("id").alias("id_a"), F.col("grams").alias("ga"))
    b = g.select(F.col("id").alias("id_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_distinct(F.concat("ga", "gb")))
    jac = F.round(inter.cast("double") / union.cast("double"), 4)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", inter.cast("long").alias("n_common"), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


@register(
    "dedup_embedding_cosine",
    "H9d",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
           round(list_cosine_similarity(p.v, c.v), 4) AS sim
    FROM e p JOIN e c ON p.vec_id < c.vec_id
    WHERE p.vec_id < 100
      AND round(list_cosine_similarity(p.v, c.v), 4) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bounded probe set vs corpus,
    rounded cosine >= 0.4 (this corpus's max pairwise cosine is ~0.51).
    Arrow path: numpy matrix-matrix scoring per batch — measured 5x over
    the Catalyst lambda fold at 100 probes x 2000 vectors, identical
    results (the expression variant stays in operators/similarity.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_above_arrow(emb, F.col("vec_id") < 100, threshold=0.4)


# --- similarity search -------------------------------------------------------


@register(
    "similarity_cosine_topk",
    "H8",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
               round(list_cosine_similarity(p.v, c.v), 4) AS sim
        FROM e p JOIN e c ON c.vec_id <> p.vec_id
        WHERE p.vec_id < 10
    )
    SELECT query_id, cand_id, sim FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, cand_id) AS rn
        FROM s
    ) WHERE rn <= 5
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact ANN baseline): 10 probe vectors
    against the corpus, top-5 each, ties broken on cand_id."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, F.col("vec_id") < 10, k=5)


def _ann_lsh_oracle(n_planes: int = 4, dim: int = 64, k: int = 3) -> str:
    """DuckDB replay of ann_cosine_topk.  The hyperplanes are seeded and
    rounded to 6 dp, so they are embedded as DOUBLE[] literals; bucket bit
    p = sign(v . plane_p) recomputed with list_dot_product.  'Approximate'
    means approximate vs the exact top-k — the LSH output itself is a
    deterministic function of (data, seed) and therefore oracle-checkable."""
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
    ), b AS (
        SELECT vec_id, v, ({bucket}) AS bucket FROM e
    ), s AS (
        SELECT p.vec_id AS query_id, c.vec_id AS cand_id,
               round(list_cosine_similarity(p.v, c.v), 4) AS sim
        FROM b p JOIN b c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
        WHERE p.vec_id < 10
    )
    SELECT query_id, cand_id, sim FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, cand_id) AS rn
        FROM s
    ) WHERE rn <= {k}
    """


@register("similarity_ann_lsh", "H8b", oracle=_ann_lsh_oracle(4, 64, 3))
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: sign-LSH over 4 fixed random
    hyperplanes; probes score only their own bucket (~2^4 fewer pairs).
    Approximate vs the exact baseline (recall asserted in tests), but a
    deterministic function of (data, seed) — the DuckDB oracle recomputes
    buckets from the same literal hyperplanes and hash-matches the
    output."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.ann_cosine_topk(emb, F.col("vec_id") < 10, k=3, n_planes=4, dim=64)


# --- text analysis -----------------------------------------------------------


@register(
    "text_tokenize_topterms",
    "H10",
    oracle=r"""
    SELECT token, count(*) AS n FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS token
        FROM documents
    ) GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
)
def text_tokenize_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + global term frequencies, top-20 with deterministic
    tiebreak.  explode stays JVM-side; the agg combines map-side."""
    docs = table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@register(
    "text_lang_id",
    "H10b",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                         x -> x <> '')) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id,
            CAST(len(list_intersect(toks, ['the','a','of','and','to','in','is'])) AS BIGINT) AS s_en,
            CAST(len(list_intersect(toks, ['der','die','das','und','zu','ein','ist'])) AS BIGINT) AS s_de,
            CAST(len(list_intersect(toks, ['el','la','de','y','que','un','es'])) AS BIGINT) AS s_es,
            CAST(len(list_intersect(toks, ['le','la','de','et','les','un','est'])) AS BIGINT) AS s_fr
        FROM t
    )
    SELECT doc_id, s_en, s_de, s_es, s_fr,
           CASE WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
                WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by function-word overlap (n-gram-free heuristic): score
    per language, argmax with deterministic tie order."""
    docs = table(spark, sf_dir, "documents")
    scores = lang_scores(F.col("text"))
    cols = [scores[lg].alias(f"s_{lg}") for lg in ("en", "de", "es", "fr")]
    return docs.select("doc_id", *cols, lang_predict(scores).alias("pred_lang"))


@register(
    "text_quality_score",
    "H10c",
    oracle=r"""
    WITH m AS (
        SELECT doc_id,
            CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
            (length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g')))::DOUBLE
                / nullif(length(text), 0) AS p,
            len(list_filter(string_split_regex(lower(text), '\s+'),
                t -> list_contains(['a','and','das','de','der','die','el','es','est','et',
                                    'ein','in','is','ist','la','le','les','of','que','the',
                                    'to','un','und','y','zu'], t)))::DOUBLE
                / nullif(len(list_filter(string_split_regex(lower(text), '\s+'),
                                         t -> t <> '')), 0) AS s
        FROM documents
    )
    SELECT doc_id, n_tokens,
           round(coalesce(p, 0), 4) + 0.0 AS p_ratio,
           round(coalesce(s, 0), 4) + 0.0 AS sw_ratio,
           round(0.5 * (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0
                             WHEN n_tokens > 0 THEN 0.5 ELSE 0.0 END)
                 + 0.25 * (1.0 - least(coalesce(p, 0) * 10, 1.0))
                 + 0.25 * least(coalesce(s, 0) * 5, 1.0), 4) + 0.0 AS quality
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: token count, punctuation ratio, stopword
    ratio, and a composite [0,1] score with explicit weights."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    t = F.col("text")
    return docs.select(
        "doc_id",
        whitespace_token_count(t).alias("n_tokens"),
        (F.round(F.coalesce(punct_ratio(t), F.lit(0.0)), 4) + 0.0).alias("p_ratio"),
        (F.round(F.coalesce(stopword_ratio(t), F.lit(0.0)), 4) + 0.0).alias("sw_ratio"),
        quality_score(t).alias("quality"),
    )


@register(
    "text_token_count",
    "H10d",
    oracle=r"""
    SELECT doc_id,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace runs, and a BPE-ish lexer regex
    (letter runs / digit runs / single symbols)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


@register(
    "text_fingerprint",
    "H10e",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents
    )
    SELECT doc_id, fp, CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same
    FROM f
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint of whitespace-normalized text + per-fingerprint
    group size — the 16-byte shuffle key exact dedup uses at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    f = docs.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))
    w = Window.partitionBy("fp")
    return f.withColumn("n_same", F.count("*").over(w))


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
