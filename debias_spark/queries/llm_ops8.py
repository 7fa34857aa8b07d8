"""Round-4 LLM-pipeline wave (Y18, Z23-Z24): bigram language-model quality
scoring, URL-canonicalization dedup, and asymmetric shingle-containment
near-superset detection.

No reference citations: the reference pipeline (call-debias.py) annotates
lines via a remote API and has no language modeling, URL handling, or
similarity machinery; these are north-star LLM-data-pipeline extensions
(SURVEY §2.H rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.dedup import word_tokens
from debias_spark.operators.skew import fan_out
from debias_spark.registry import register


@register(
    "text_bigram_lm_score",
    "Y18",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS t
        FROM documents
    ), bg AS (
        SELECT doc_id,
               unnest([{{'w1': t[i], 'w2': t[i + 1]}}
                       FOR i IN range(1, len(t))], recursive := true)
        FROM toks
    ), uni AS (
        SELECT w, count(*) AS n1
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), vv AS (
        SELECT count(*)::DOUBLE AS v FROM uni
    ), big AS (
        SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2
    )
    SELECT bg.doc_id,
           count(*) AS n_bigrams,
           {floor_eps_sql("avg(-ln((big.n12 + 1.0) / (uni.n1 + vv.v)))", 1000000)}
               AS avg_nll_e6
    FROM bg
    JOIN big ON bg.w1 = big.w1 AND bg.w2 = big.w2
    JOIN uni ON bg.w1 = uni.w
    CROSS JOIN vv
    GROUP BY bg.doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per document: -mean ln p(w2 | w1) with add-one
    smoothing over the corpus vocabulary — the step past Z10's unigram
    surprisal toward the KenLM-style perplexity filters production
    pipelines use for quality bucketing (high = disfluent/gibberish).

    p(w2|w1) = (C(w1,w2) + 1) / (C(w1) + V), with C(w1) the corpus
    occurrence count and V the distinct-token count.  Scale shape: token
    and bigram counts are map-side-combined hash aggregates; scoring is
    two equi-joins (bigram table on (w1, w2), unigram table on w1 — both
    shuffle joins since a corpus vocabulary outgrows a broadcast; AQE
    handles stop-bigram skew) and one per-doc aggregation.  No Python."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", word_tokens(F.col("text")).alias("toks"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                " (w, i) -> struct(w AS w1, toks[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    uni = (
        toks.select(F.explode("toks").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("n1"))
    )
    vocab = uni.agg(F.count("*").cast("double").alias("v"))
    big = bg.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    nll = -F.log((F.col("n12") + F.lit(1.0)) / (F.col("n1") + F.col("v")))
    return (
        bg.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            floor_eps(F.avg(nll), 1000000).cast("long").alias("avg_nll_e6"),
        )
    )


# The messy-URL synthesis shared by the Spark query and the oracle: the
# documents table has no URL column, so one is derived deterministically
# from (source, doc_id) with the four classic canonicalization hazards —
# scheme case, www prefix, trailing slash, tracking query — distributed by
# doc_id residues so the same canonical target appears under many spellings.
_URL_SPARK = (
    "concat("
    " CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END,"
    " CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,"
    " source,"
    " CASE WHEN doc_id % 5 = 0 THEN '.Example.COM' ELSE '.example.com' END,"
    " '/p/', CAST(doc_id % 40 AS STRING),"
    " CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,"
    " CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=x' ELSE '' END)"
)
_URL_DUCK = _URL_SPARK.replace("AS STRING", "AS VARCHAR")


@register(
    "docs_dedup_url",
    "Z23",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, {_URL_DUCK} AS url FROM documents
    ), c AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(url, '^https?://', '', 'i'),
                       '^www\\.', '', 'i'),
                   '\\?.*$', '') AS rest
        FROM u
    ), s AS (
        SELECT doc_id,
               lower(split_part(rest, '/', 1)) AS host,
               regexp_replace(
                   substr(rest, len(split_part(rest, '/', 1)) + 1),
                   '/$', '') AS path
        FROM c
    )
    SELECT host || path AS canon_url,
           count(*) AS n_ids,
           min(doc_id) AS rep_doc_id
    FROM s GROUP BY host || path
    """,
)
def docs_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: normalize scheme/www/host-case/trailing
    slash/tracking-query variants of the same address and keep one
    representative per canonical URL — the first stage of every web-corpus
    pipeline (exact text dedup only fires after URL dedup has collapsed
    re-crawls).

    Canonicalization is pure string expressions (whole-stage codegen);
    dedup is one hash aggregate on the canonical key with min(doc_id) as
    the deterministic representative — the same 16-byte-shuffle shape as
    dedup_exact, so it holds at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    u = docs.select("doc_id", F.expr(_URL_SPARK).alias("url"))
    rest = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("url", r"(?i)^https?://", ""), r"(?i)^www\.", ""
        ),
        r"\?.*$",
        "",
    )
    c = u.select("doc_id", rest.alias("rest"))
    host = F.substring_index("rest", "/", 1)
    s = c.select(
        "doc_id",
        F.lower(host).alias("host"),
        F.regexp_replace(
            F.expr("substr(rest, length(substring_index(rest, '/', 1)) + 1)"),
            r"/$",
            "",
        ).alias("path"),
    )
    return (
        s.select("doc_id", F.concat("host", "path").alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_ids"),
            F.min("doc_id").alias("rep_doc_id"),
        )
    )


_CONTAIN_DF_CAP = 20  # shingles seen in more docs are boilerplate: excluded
_CONTAIN_TAU = 0.5


@register(
    "docs_dedup_containment",
    "Z24",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, g
        FROM (
            SELECT doc_id,
                   unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                           FOR i IN range(1, greatest(len(t) - 2, 1))]) AS g
            FROM toks
        )
    ), good AS (
        SELECT g FROM sh GROUP BY g HAVING count(*) <= {_CONTAIN_DF_CAP}
    ), post AS (
        SELECT sh.doc_id, sh.g FROM sh JOIN good USING (g)
    ), sz AS (
        SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_common,
           round(count(*)::DOUBLE / max(sz.n_sh), 4) AS containment
    FROM post a
    JOIN post b ON a.g = b.g AND a.doc_id <> b.doc_id
    JOIN sz ON sz.doc_id = a.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING round(count(*)::DOUBLE / max(sz.n_sh), 4) >= {_CONTAIN_TAU}
    """,
)
def docs_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment: directed pairs (a, b) where at least
    {tau} of doc a's discriminative 4-token shingles also appear in doc b —
    the boilerplate/quotation/near-superset detector symmetric Jaccard
    (H9c) misses, since a short doc embedded in a long one has low Jaccard
    but high containment.

    Scale shape: pair generation is inverted-index postings expansion —
    never all-pairs, never a self-join.  One aggregate builds each
    shingle's posting list; lists longer than {cap} docs (boilerplate by
    definition) are dropped from BOTH the index and each doc's
    denominator, so expanding a list to its ordered doc pairs is a
    bounded {cap}^2 in-row fan-out that Catalyst evaluates inside the
    same stage — no second shuffle of the postings and no recomputation
    of the upstream for a join's two sides.  Counting expanded pairs
    gives |Sa ∩ Sb| exactly; one shuffle join adds |Sa|.

    Expression discipline: the 4-gram build is word_shingles'
    lambda-bound zip_with fold (operators/dedup.py — tokens split once,
    single-pass per offset, no per-position slices), and posting-list
    pair expansion is TWO plain explodes with an inequality filter
    instead of a nested transform-lambda struct build (0.18 s vs 0.24 s
    for the expansion alone at sf0.1 — lambda HOFs run interpreted
    outside whole-stage codegen)."""
    from debias_spark.operators.dedup import word_shingles

    docs = fan_out(table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 4)).alias("g")
    )
    postings = (
        sh.groupBy("g")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") <= _CONTAIN_DF_CAP)
    )
    sz = (
        postings.select(F.explode("ids").alias("id_a"))
        .groupBy("id_a")
        .agg(F.count("*").alias("n_sh"))
    )
    pairs = (
        postings.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    contain = F.round(
        F.col("n_common").cast("double") / F.col("n_sh").cast("double"), 4
    )
    return (
        pairs.join(sz, "id_a")
        .select("id_a", "id_b", "n_common", contain.alias("containment"))
        .filter(F.col("containment") >= _CONTAIN_TAU)
    )


docs_dedup_containment.__doc__ = docs_dedup_containment.__doc__.replace(
    "{tau}", str(_CONTAIN_TAU)
).replace("{cap}", str(_CONTAIN_DF_CAP))
