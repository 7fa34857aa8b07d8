"""Round-6 LLM wave (Y45-Y46): multinomial naive-Bayes language
classification (train/predict/confusion entirely in SQL, integer
micro-nat scores) and PMI token co-occurrence over a bounded top-df
vocabulary — the classifier-based lang-id audit and the collocation
statistic a corpus-quality pipeline runs next to the heuristic lang-id
(H10b) and TF-IDF (Z22) keys.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no SQL layer; north-star extensions per SURVEY §2.H / §8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps_sql
from debias_spark.registry import register

# Laplace-smoothed multinomial NB, 80/20 split on doc_id % 5.  All
# log-probabilities are rounded to INTEGER micro-nats per token FIRST
# (floor_eps_sql(ln(p), 1e6), a deterministic function of integer
# counts) and only then summed — BIGINT addition is order-independent,
# so Spark's partition-order-dependent double summation never enters the
# hash (the same discipline as the Y18 bigram-LM key).
_NB_SQL = f"""
WITH train_tok AS {{mat}}(
    SELECT doc_id, lang, token
    FROM (
        SELECT doc_id, lang, {{explode}} AS token FROM {{docs}}
        WHERE doc_id % 5 != 0
    ) WHERE token != ''
), test_tok AS (
    SELECT doc_id, lang AS actual_lang, token, count(*) AS m
    FROM (
        SELECT doc_id, lang, {{explode}} AS token FROM {{docs}}
        WHERE doc_id % 5 = 0
    ) WHERE token != ''
    GROUP BY doc_id, lang, token
), priors AS (
    SELECT lang,
           count(*) AS lang_docs,
           sum(count(*)) OVER () AS total_docs
    FROM {{docs}} WHERE doc_id % 5 != 0 GROUP BY lang
), vocab AS (
    SELECT count(DISTINCT token) AS v FROM train_tok
), lang_tot AS (
    SELECT lang, count(*) AS tot FROM train_tok GROUP BY lang
), counts AS (
    SELECT lang, token, count(*) AS c FROM train_tok GROUP BY lang, token
), scored AS (
    SELECT tt.doc_id, tt.actual_lang, lt.lang,
           sum(tt.m * {floor_eps_sql("ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)"
                                     " / (lt.tot + vocab.v))", 1000000)}) AS ll_micro
    FROM test_tok tt
    CROSS JOIN lang_tot lt
    CROSS JOIN vocab
    LEFT JOIN counts c ON c.lang = lt.lang AND c.token = tt.token
    GROUP BY tt.doc_id, tt.actual_lang, lt.lang
), preds AS (
    SELECT doc_id, actual_lang, lang AS pred_lang,
           row_number() OVER (
               PARTITION BY doc_id
               ORDER BY ll_micro
                   + {floor_eps_sql("ln(CAST(p.lang_docs AS DOUBLE) / p.total_docs)", 1000000)}
                   DESC,
                   lang ASC) AS rn
    FROM scored JOIN priors p USING (lang)
)
SELECT actual_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM preds WHERE rn = 1
GROUP BY actual_lang, pred_lang
ORDER BY actual_lang, pred_lang
"""

_SPARK_EXPLODE = (
    "explode(filter(split(lower(text), '\\\\s+'), t -> t != ''))"
)
_DUCK_EXPLODE = (
    "unnest(list_filter(string_split_regex(lower(text), '\\s+'),"
    " t -> t != ''))"
)


@register(
    "text_naive_bayes_lang",
    "Y45",
    oracle=_NB_SQL.format(
        explode=_DUCK_EXPLODE, docs="documents", mat="MATERIALIZED "
    ),
)
def text_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier, trained and evaluated
    inside the engine: docs with doc_id % 5 != 0 train Laplace-smoothed
    per-language token likelihoods, the held-out 20% is argmax-scored,
    and the result is the actual x predicted confusion matrix — the
    model-based cross-check of the heuristic n-gram lang-id (H10b) that a
    corpus pipeline uses to audit language labels before sampling.

    Argmax tie-break is deterministic (score DESC, lang ASC via
    row_number).  See _NB_SQL for the integer micro-nat discipline that
    makes the hash exact despite log-space scoring.

    Scale: token counts and language totals are plain partial-aggregating
    groupBys; the scoring join fans each held-out token row out x5
    (langs) against a token-count table keyed by (lang, token) — a hash
    join whose build side is vocabulary-bounded, with the 5-row priors /
    1-row vocab-size entering as broadcasts.  Nothing holds state
    proportional to corpus size except the (lang, token) counts, which is
    the model itself.

    Plan shape: two generator+aggregate legs -> broadcast-joined scoring
    -> per-doc window argmax -> tiny confusion aggregate."""
    return spark.sql(
        _NB_SQL.format(explode=_SPARK_EXPLODE, docs="{docs}", mat=""),
        docs=table(spark, sf_dir, "documents"),
    )


# Pairs are generated ONLY within a top-df vocabulary (200 terms) and per
# doc as DISTINCT presence pairs, so the self-join output is bounded by
# docs x C(in-vocab-terms-per-doc, 2) — never all-pairs over the corpus
# vocabulary.  PMI itself is ln(n_ab * N / (df_a * df_b)) over pure
# integer counts, emitted as integer micro-nats.
#
# dt (the vocab-filtered doc-token table, one distinct shuffle + a df
# window behind it) is consumed twice by the self-join: the Spark side
# localCheckpoints it once (memory rule: checkpoint reused frames whose
# recompute contains a shuffle), the DuckDB side materializes it.
_PMI_DT_SQL = """
WITH tok AS {mat}(
    SELECT DISTINCT doc_id, token
    FROM (
        SELECT doc_id, {explode} AS token FROM {docs}
    ) WHERE token != ''
), df AS (
    SELECT token, count(*) AS df FROM tok GROUP BY token
), vocab AS (
    SELECT token, df FROM (
        SELECT token, df,
               row_number() OVER (ORDER BY df DESC, token ASC) AS rn
        FROM df
    ) WHERE rn <= 200
)
SELECT t.doc_id, t.token, v.df
FROM tok t JOIN vocab v ON t.token = v.token
"""

_PMI_TAIL_SQL = f"""
WITH {{dt_cte}}n_docs AS (
    SELECT count(*) AS n FROM {{docs}}
), pairs AS (
    SELECT a.token AS tok_a, b.token AS tok_b,
           a.df AS df_a, b.df AS df_b, count(*) AS n_ab
    FROM {{dt}} a JOIN {{dt}} b
      ON a.doc_id = b.doc_id AND a.token < b.token
    GROUP BY a.token, b.token, a.df, b.df
    HAVING count(*) >= 5
), scored AS (
    SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
           {floor_eps_sql("ln(CAST(n_ab AS DOUBLE) * n.n / (df_a * df_b))", 1000000)}
               AS pmi_micro
    FROM pairs CROSS JOIN n_docs n
)
SELECT tok_a, tok_b, n_ab, pmi_micro
FROM (
    SELECT *, row_number() OVER (
        ORDER BY pmi_micro DESC, tok_a ASC, tok_b ASC) AS rn
    FROM scored
) WHERE rn <= 20
ORDER BY pmi_micro DESC, tok_a, tok_b
"""

_PMI_ORACLE = _PMI_TAIL_SQL.format(
    dt_cte=(
        "dt AS MATERIALIZED ("
        + _PMI_DT_SQL.format(
            explode=_DUCK_EXPLODE, docs="documents", mat="MATERIALIZED "
        )
        + "), "
    ),
    dt="dt",
    docs="documents",
)


@register(
    "text_pmi_cooccurrence",
    "Y46",
    oracle=_PMI_ORACLE,
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token co-occurrence: the top-20
    most-associated vocabulary pairs (PMI = ln(P(a,b)/(P(a)P(b))) over
    document-level presence), min co-occurrence 5 — the collocation
    surface a corpus explorer uses to spot boilerplate and topic
    clumping before dedup thresholds are set.

    The 100 TB guard is the vocabulary bound: pairs come from a
    deterministic top-200-df vocabulary (ties broken by token), so the
    per-doc self-join emits at most C(min(200, doc_len), 2) rows per
    document and the pair-aggregate keyspace is <= C(200,2) = 19900 —
    constants, independent of corpus size.  df/N/n_ab are all integers;
    the log is emitted as integer micro-nats (floor rule), making the
    hash exact.

    Plan shape: generator -> distinct (doc,token) -> df aggregate ->
    broadcast vocab semi-join -> co-located self-join on doc_id ->
    bounded pair aggregate -> global top-20 window over <=19900 rows."""
    docs = table(spark, sf_dir, "documents")
    dt = spark.sql(
        _PMI_DT_SQL.format(explode=_SPARK_EXPLODE, docs="{docs}", mat=""),
        docs=docs,
    ).localCheckpoint(eager=True)
    return spark.sql(
        _PMI_TAIL_SQL.format(dt_cte="", dt="{dt}", docs="{docs}"),
        dt=dt,
        docs=docs,
    )


_TOKENS_DUCK = (
    "CASE WHEN trim(text) = '' THEN 0 ELSE "
    "len(string_split_regex(trim(text), '\\s+')) END"
)


@register(
    "docs_shard_token_balance",
    "Y47",
    oracle=f"""
    WITH per_doc AS (
        SELECT substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) AS shard,
               CAST({_TOKENS_DUCK} AS BIGINT) AS n_tokens
        FROM documents
    ), shards AS (
        SELECT shard, count(*) AS n_docs, sum(n_tokens) AS tok
        FROM per_doc GROUP BY shard
    )
    SELECT shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(tok AS BIGINT) AS n_tokens,
           CAST(floor(tok * 1000.0 / sum(tok) OVER ()) AS BIGINT)
               AS tokens_permille
    FROM shards
    ORDER BY shard
    """,
)
def docs_shard_token_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard audit: documents hash into 16 shards by the
    last hex digit of md5(doc_id) — the content-independent, seed-free
    assignment a training pipeline uses to split a corpus into epoch
    files — and the key reports per-shard doc counts, token totals, and
    each shard's per-mille share of the corpus token budget.  A skewed
    share column is the early warning that one trainer rank will starve.

    Hash sharding (vs greedy sequential packing) is the 100 TB answer:
    assignment is a pure per-row projection — no global order, no
    cumulative window, nothing to coordinate — and the law of large
    numbers does the balancing (per-mille shares concentrate around
    1000/16 = 62 as docs-per-shard grows).  The audit itself is a
    16-group aggregate; the share window runs over 16 rows.

    Integer discipline: token counts are integers, and the share is
    emitted as floor(tok*1000/total) — int*int -> int/int IEEE division,
    deterministic on both engines.

    Plan shape: scan -> project (md5 + tokenize-count) -> 16-key hash
    aggregate with map-side partials -> 16-row window."""
    return spark.sql(
        """
        WITH per_doc AS (
            SELECT substr(md5(CAST(doc_id AS STRING)), 32, 1) AS shard,
                   CAST(CASE WHEN trim(text) = '' THEN 0 ELSE
                        size(split(trim(text), '\\\\s+')) END AS BIGINT)
                       AS n_tokens
            FROM {documents}
        ), shards AS (
            SELECT shard, count(*) AS n_docs, sum(n_tokens) AS tok
            FROM per_doc GROUP BY shard
        )
        SELECT shard,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(tok AS BIGINT) AS n_tokens,
               CAST(floor(tok * 1000.0 / sum(tok) OVER ()) AS BIGINT)
                   AS tokens_permille
        FROM shards
        ORDER BY shard
        """,
        documents=table(spark, sf_dir, "documents"),
    )
