"""Text-analysis keys over ``documents``: tokenization and term
statistics, language id and quality scores, Gopher rules, readability,
language-model scores, PII redaction, chunking and packing, n-gram and
TF-IDF statistics, BPE vocabulary fit and encoding.

The reference annotates lines through a remote API and has no text
statistics; north-star extensions per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.bpe import bpe_encode_oracle, bpe_fit, bpe_oracle, word_freqs
from debias_spark.operators.dedup import WORD_TOKENS_DUCK, bind_once, word_shingles, word_tokens
from debias_spark.operators.skew import fan_out
from debias_spark.operators.text import (
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


@register(
    "text_readability_flesch",
    "Y35",
    oracle=f"""
    WITH c AS MATERIALIZED (
        SELECT doc_id,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
               greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1) AS n_words,
               len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syllables
        FROM documents
    )
    SELECT doc_id,
           CAST(n_sentences AS INTEGER) AS n_sentences,
           CAST(n_words AS INTEGER) AS n_words,
           CAST(n_syllables AS INTEGER) AS n_syllables,
           {floor_eps_sql("206.835 - 1.015 * n_words / n_sentences"
                          " - 84.6 * n_syllables / n_words", 100)} AS flesch_centi
    FROM c
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: sentences = punctuation runs
    [.!?]+, words = letter runs, syllables ~ vowel-group runs (the
    standard dictionary-free approximation) — three regexp_count passes,
    all codegen, no tokenizer UDF.  Clamps (>=1) keep the ratios defined
    on degenerate docs.  Complements the gopher/quality keys (Y2)
    with the classic readability axis a training-data quality pipeline
    filters on.

    Scale shape: pure map-side projection — three regex scans per row, no
    shuffle at all."""
    docs = table(spark, sf_dir, "documents")
    n_sent = F.greatest(F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1))
    n_words = F.greatest(F.regexp_count("text", F.lit(r"[A-Za-z]+")), F.lit(1))
    n_syll = F.regexp_count("text", F.lit(r"[aeiouyAEIOUY]+"))
    c = docs.select(
        "doc_id",
        n_sent.cast("int").alias("n_sentences"),
        n_words.cast("int").alias("n_words"),
        n_syll.cast("int").alias("n_syllables"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("n_words") / F.col("n_sentences")
        - F.lit(84.6) * F.col("n_syllables") / F.col("n_words")
    )
    return c.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        floor_eps(score, 100).cast("long").alias("flesch_centi"),
    )


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


_ZIPF_TOP = 200


@register(
    "text_zipf_slope",
    "Y44",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ), freq AS MATERIALIZED (
        SELECT term, count(*) AS f FROM toks GROUP BY term
    ), ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r
        FROM freq ORDER BY f DESC, term LIMIT {_ZIPF_TOP}
    )
    SELECT count(*) AS n_terms,
           {floor_eps_sql("regr_slope(ln(f::DOUBLE), ln(r::DOUBLE))", 10000)} AS slope_e4,
           {floor_eps_sql("regr_intercept(ln(f::DOUBLE), ln(r::DOUBLE))", 10000)} AS intercept_e4,
           {floor_eps_sql("regr_r2(ln(f::DOUBLE), ln(r::DOUBLE))", 10000)} AS r2_e4
    FROM ranked
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus vocabulary: regress log(frequency)
    on log(rank) for the top-200 terms — natural text sits near slope
    -1, and deviation is a cheap whole-corpus health check (template
    spam flattens the head; OCR noise fattens the tail).  Slope,
    intercept and R-squared come from the built-in regression aggregates
    (mergeable moment state, one pass).

    Scale shape: one token count (map-side combined), a top-N
    TakeOrdered for the head, ranks from a window over N rows, and a
    3-number aggregate.  Ranks are deterministic ((freq desc, term)
    ordering) and the fit emits floor-eps e4 integers."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            word_tokens(F.col("text"))
        ).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count("*").alias("f"))
    head = freq.orderBy(F.desc("f"), F.asc("term")).limit(_ZIPF_TOP)
    ranked = head.select(
        "f", F.row_number().over(Window.orderBy(F.desc("f"), F.asc("term"))).alias("r")
    )
    lf, lr = F.log(F.col("f").cast("double")), F.log(F.col("r").cast("double"))
    return ranked.agg(
        F.count("*").alias("n_terms"),
        floor_eps(F.regr_slope(lf, lr), 10000).cast("long").alias("slope_e4"),
        floor_eps(F.regr_intercept(lf, lr), 10000).cast("long").alias("intercept_e4"),
        floor_eps(F.regr_r2(lf, lr), 10000).cast("long").alias("r2_e4"),
    )


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


@register(
    "text_kl_divergence_lang",
    "Y50",
    oracle=rf"""
    WITH toks AS (
        SELECT lang,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS token
        FROM documents
    ), lt AS MATERIALIZED (
        SELECT lang, token, count(*) AS c FROM toks GROUP BY 1, 2
    ), n AS (SELECT lang, sum(c) AS n FROM lt GROUP BY 1),
    g AS (SELECT token, sum(c) AS g FROM lt GROUP BY 1),
    m AS (SELECT sum(c) AS m FROM lt)
    SELECT lt.lang,
           CAST(any_value(n.n) AS BIGINT) AS n_tokens,
           {floor_eps_sql("sum((lt.c / CAST(n.n AS DOUBLE))"
                          " * ln(CAST(lt.c * m.m AS DOUBLE)"
                          " / CAST(n.n * g.g AS DOUBLE)))", 1000000)} AS kl_e6
    FROM lt
    JOIN n ON n.lang = lt.lang
    JOIN g ON g.token = lt.token
    CROSS JOIN m
    GROUP BY lt.lang
    ORDER BY lt.lang
    """,
)
def text_kl_divergence_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language KL divergence of the unigram token distribution
    against the whole-corpus distribution — the drift diagnostic a
    mixture-balancing pipeline watches (a shard whose KL spikes is
    drawing from a different distribution than the corpus it is supposed
    to represent).  KL(p_lang || p_corpus) = sum_t p(t|lang) *
    ln(p(t|lang) / p(t)); every probability is a ratio of exact bigint
    counts, spelled as ln((c*m)/(n*g)) so both engines form the SAME two
    exact integers before the one division and the one transcendental —
    the floor-eps e6 emission then matches the audited Z10/Y18 NLL
    pattern (tools/float_margin_audit.py gates the near-boundary risk).

    Scale shape: ONE token explode feeds one (lang, token) aggregate
    (map-side combined — the explode never shuffles raw tokens, only
    (lang, token, count) partials); that ~|langs|x|vocab| frame is
    localCheckpointed (4 downstream consumers, recompute would re-scan
    the corpus — memory rule: checkpoint when the recomputed stage
    contains a shuffle) and everything after runs on aggregates the
    size of the vocabulary: lang totals, token totals, and the grand
    total all broadcast."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            word_tokens(F.col("text"))
        ).alias("token"),
    )
    lt = (
        toks.groupBy("lang", "token")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    n = lt.groupBy("lang").agg(F.sum("c").alias("n"))
    g = lt.groupBy("token").agg(F.sum("c").alias("g"))
    m = lt.agg(F.sum("c").alias("m"))
    contrib = (F.col("c") / F.col("n").cast("double")) * F.log(
        (F.col("c") * F.col("m")).cast("double")
        / (F.col("n") * F.col("g")).cast("double")
    )
    return (
        lt.join(F.broadcast(n), "lang")
        .join(F.broadcast(g), "token")
        .crossJoin(F.broadcast(m))
        .groupBy("lang")
        .agg(
            F.any_value("n").cast("long").alias("n_tokens"),
            floor_eps(F.sum(contrib), 1000000)
            .cast("long")
            .alias("kl_e6"),
        )
        .orderBy("lang")
    )


@register(
    "text_trigram_diversity",
    "Y51",
    oracle=rf"""
    WITH toks AS (
        SELECT lang,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS ts
        FROM documents
    ), tri AS (
        SELECT lang,
               unnest(list_transform(range(1, len(ts) - 1), i ->
                   ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS tg
        FROM toks
    ), lt AS (
        SELECT lang, tg, count(*) AS c FROM tri GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_trigrams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           {floor_eps_sql("CAST(count(*) * 1000000 AS DOUBLE)"
                          " / CAST(sum(c) AS DOUBLE)")} AS diversity_e6
    FROM lt
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_trigram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-trigram diversity per language: distinct word trigrams /
    total word trigrams — the corpus-level repetition diagnostic
    (degenerate or templated text collapses the ratio; the per-document
    twin is Y2's repetition ratio).  Trigrams are built with lead()
    windows over exploded (doc_id, pos) tokens, NOT sequence(0, size-3):
    Spark's sequence(0, -1) infers step -1 and yields [0, -1] for short
    docs, while lead() nulls fall out of a single isNotNull filter;
    docs with <3 tokens contribute nothing on both engines.  The ratio
    is a pure integer rational emitted floor-eps e6 (benign exact-tie
    class: both engines floor the identical correctly-rounded double).

    Scale shape: one shuffle keys tokens by doc_id (the natural
    parallelism unit — each doc's trigrams assemble independently; no
    global window anywhere), then the (lang, trigram) aggregate
    map-side combines, and the final per-lang rollup runs over distinct
    trigrams only.  Pre-aggregating (lang, tg, c) before the per-lang
    sum/count avoids the mixed distinct+sum Expand replica through the
    shuffle (memory rule 7)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        "doc_id",
        F.posexplode(
            word_tokens(F.col("text"))
        ).alias("pos", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        toks.withColumn("t1", F.lead("token", 1).over(w))
        .withColumn("t2", F.lead("token", 2).over(w))
        .where(F.col("t2").isNotNull())
        .select("lang", F.concat_ws(" ", "token", "t1", "t2").alias("tg"))
    )
    lt = tri.groupBy("lang", "tg").agg(F.count("*").alias("c"))
    return (
        lt.groupBy("lang")
        .agg(
            F.sum("c").alias("n_trigrams"),
            F.count("*").alias("n_distinct"),
            floor_eps(
                (F.count("*") * 1000000).cast("double") / F.sum("c").cast("double")
            )
            .cast("long")
            .alias("diversity_e6"),
        )
        .orderBy("lang")
    )


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


_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')"


@register(
    "text_gopher_rules",
    "Y1",
    oracle=rf"""
    WITH m AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct,
               list_sum(list_transform({_TOKS}, t -> length(t)))::DOUBLE AS sum_len
        FROM documents
    )
    SELECT doc_id, n_tokens,
           {floor_eps_sql("coalesce(sum_len / nullif(n_tokens, 0), 0)", 10000)}
               AS mean_word_len_e4,
           {floor_eps_sql("coalesce(n_distinct::DOUBLE / nullif(n_tokens, 0), 0)", 10000)}
               AS frac_unique_e4,
           (n_tokens >= 10 AND n_tokens <= 100000
            AND coalesce(sum_len / nullif(n_tokens, 0), 0) BETWEEN 2 AND 12
            AND coalesce(n_distinct::DOUBLE / nullif(n_tokens, 0), 0) >= 0.1) AS passes
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate: token-count band, mean word
    length band, unique-token fraction floor.  Pure codegen arithmetic —
    the shape of every rule-based corpus filter at 100 TB (one scan, no
    shuffle, fully pushed)."""
    docs = table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    ).cast("double")
    mean_wl = F.coalesce(sum_len / F.nullif(n_tokens, F.lit(0)), F.lit(0.0))
    frac_uq = F.coalesce(
        n_distinct.cast("double") / F.nullif(n_tokens, F.lit(0)), F.lit(0.0)
    )
    passes = (
        (n_tokens >= 10)
        & (n_tokens <= 100000)
        & (mean_wl >= 2)
        & (mean_wl <= 12)
        & (frac_uq >= 0.1)
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        floor_eps(mean_wl, 10000).cast("long").alias("mean_word_len_e4"),
        floor_eps(frac_uq, 10000).cast("long").alias("frac_unique_e4"),
        passes.alias("passes"),
    )


@register(
    "text_repetition_ratio",
    "Y2",
    oracle=r"""
    WITH g AS (
        SELECT doc_id, unnest([w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]) AS gram
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS w
              FROM documents)
    ), per_gram AS (
        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
    ), per_doc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
               max(c)::DOUBLE / sum(c) AS ratio
        FROM per_gram GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_bigrams, 0) AS n_bigrams,
           round(coalesce(p.ratio, 0), 4) + 0.0 AS top_bigram_ratio
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detector (Gopher's duplicate-n-gram family): share of all
    word bigrams taken by the single most frequent bigram.  High ratio =
    boilerplate/spam.  Relational shape — explode + two-level aggregate —
    because per-doc in-array counting is O(distinct x n) interpreted,
    measured 5x slower; the shuffle key (doc_id, gram) scales linearly."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    w = word_tokens(F.col("text"))
    d = docs.select("doc_id", w.alias("w"))

    # Bigram spelling doctrine (operators/dedup.py word_shingles, minus the
    # distinct): one bound zip_with over the two offset slices.  A/B vs the
    # previous transform(sequence)+2-indexed-gets spelling measured EQUAL
    # (0.636s vs 0.638s interleaved min-of-4, load<1) — the r04 bench move
    # (0.97s -> 1.41s) was host contention, not the builder; kept for
    # consistency with the bound-slice doctrine.
    def build(toks):
        m = F.greatest(F.size(toks) - 1, F.lit(0))
        pairs = F.zip_with(
            F.slice(toks, 1, m), F.slice(toks, 2, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        return F.when(F.size(toks) >= 2, pairs).otherwise(
            F.array().cast("array<string>")
        )

    grams = bind_once(F.col("w"), build)
    per_gram = (
        d.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        (F.max("c").cast("double") / F.sum("c")).alias("ratio"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            (F.round(F.coalesce("ratio", F.lit(0.0)), 4) + 0.0).alias("top_bigram_ratio"),
        )
    )


@register(
    "text_pii_redact",
    "Y3",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               substr(text, 1, 20) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS line
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(line,
               '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
               '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
    FROM t
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/phone patterns replaced with typed placeholders.
    (The corpus is synthetic, so PII-ish strings are injected first — the
    redaction plan is what matters.)  Pure regexp_replace: codegen, no UDF,
    patterns chosen to behave identically under Java regex and RE2."""
    docs = table(spark, sf_dir, "documents")
    line = F.concat(
        F.substring("text", 1, 20),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(line, "[A-Za-z0-9.]+@[A-Za-z0-9.]+", "<EMAIL>"),
        "[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    return docs.select("doc_id", redacted.alias("redacted"))


@register(
    "text_decontaminate",
    "Y9",
    oracle="""
    SELECT doc_id,
           (contains(lower(text), 'data table')
            OR contains(lower(text), 'hash value')
            OR contains(lower(text), 'join small')) AS contaminated,
           CASE WHEN contains(lower(text), 'data table') THEN 'data table'
                WHEN contains(lower(text), 'hash value') THEN 'hash value'
                WHEN contains(lower(text), 'join small') THEN 'join small'
                ELSE NULL END AS matched_phrase
    FROM documents
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents containing any phrase from
    the eval-set n-gram list (here 3 fixed phrases; production scale joins
    against a broadcast n-gram set or a bloom filter of eval 13-grams —
    same plan shape, the phrase list is the tiny side)."""
    docs = table(spark, sf_dir, "documents")
    low = F.lower("text")
    phrases = ["data table", "hash value", "join small"]
    flag = None
    matched = F.lit(None).cast("string")
    # reversed build => first-listed phrase wins the matched label
    for p in reversed(phrases):
        hit = low.contains(p)
        flag = hit if flag is None else (hit | flag)
        matched = F.when(hit, F.lit(p)).otherwise(matched)
    return docs.select("doc_id", flag.alias("contaminated"), matched.alias("matched_phrase"))


@register(
    "text_rolling_hash",
    "Y8",
    oracle=r"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                       list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
                       t -> CAST(length(t) * 31 + ascii(substr(t, 1, 1)) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 1000000007) AS roll_hash
    FROM documents
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint as a polynomial ROLLING hash over the token
    stream (Rabin-Karp family): order-sensitive unlike the md5-of-
    normalized-text fingerprint, so reordered near-dups hash apart.  Token
    codes and the modular fold are chosen to be exactly computable in both
    engines (no 64-bit overflow under ANSI: acc < 1e9, step < 1.4e11)."""
    docs = table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    codes = F.transform(
        toks,
        lambda t: (F.length(t) * 31 + F.ascii(F.substring(t, 1, 1))).cast("long"),
    )
    roll = F.aggregate(
        codes, F.lit(0).cast("long"), lambda acc, x: (acc * 131 + x) % 1000000007
    )
    return docs.select("doc_id", roll.alias("roll_hash"))


@register(
    "text_chunk_documents",
    "Y6",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        FROM documents
    ), starts AS (
        SELECT doc_id, w, unnest(range(0, len(w), 32)) AS s
        FROM t WHERE len(w) > 0
    )
    SELECT doc_id, CAST(s / 32 AS INTEGER) AS chunk_idx,
           array_to_string(w[s + 1 : s + 48], ' ') AS chunk_text,
           CAST(least(len(w) - s, 48) AS BIGINT) AS n_tokens
    FROM starts
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: fixed-size token windows (48 tokens, stride
    32 -> 16-token overlap), one row per chunk.  Pure explode arithmetic —
    the pretokenization fan-out stage of every LLM data pipeline, linear
    and shuffle-free."""
    docs = table(spark, sf_dir, "documents")
    w = word_tokens(F.col("text"))
    d = docs.select("doc_id", w.alias("w")).filter(F.size("w") > 0)
    CHUNK, STRIDE = 48, 32
    # chunk starts = every stride multiple strictly below the token count
    starts = F.sequence(F.lit(0), F.size("w") - 1, F.lit(STRIDE))
    ex = d.select("doc_id", "w", F.explode(starts).alias("s"))
    return ex.select(
        "doc_id",
        (F.col("s") / STRIDE).cast("int").alias("chunk_idx"),
        F.array_join(F.slice("w", F.col("s") + 1, CHUNK), " ").alias("chunk_text"),
        F.least(F.size("w") - F.col("s"), F.lit(CHUNK)).cast("long").alias("n_tokens"),
    )


@register(
    "text_pack_sequences",
    "Y7",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor(doc_id / 100) * 1000000
                + floor((sum(n_tokens) OVER (PARTITION BY floor(doc_id / 100)
                         ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                        / 512) AS BIGINT) AS pack_id
    FROM t
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to ~512-token training sequences by
    running token count within 100-doc shards (offset-based binning).
    The shard partition keeps the window parallel — a single global
    ORDER BY window would serialize the whole corpus through one task at
    100 TB; pack ids are globally unique via the shard prefix."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(word_tokens(F.col("text"))).cast("long")
    shard = F.floor(F.col("doc_id") / 100)
    t = docs.select("doc_id", n_tok.alias("n_tokens"), shard.alias("shard"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.select(
        "doc_id",
        "n_tokens",
        (
            F.col("shard") * 1000000
            + F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512)
        ).alias("pack_id"),
    )


@register(
    "text_ngram_counts",
    "Z2",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           t -> t <> '') AS t
        FROM documents
    ), bi AS (
        SELECT unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS bigram
        FROM toks WHERE len(t) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM bi GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word-bigram counts, top 20 with deterministic tiebreak —
    the n-gram frequency table behind contamination screens and classic LM
    statistics.  Bigrams are built per-row with zip_with against the
    shifted token array (JVM codegen, no Python); only (bigram, partial
    count) rows reach the shuffle thanks to map-side combine, so the
    exploded bigram rows never leave their executor."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    # zip_with pads the shorter (shifted) side with null -> trailing null
    # bigram per doc; filter it out before exploding.
    bigrams = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
        lambda x: x.contains(" "),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "text_vocab_coverage",
    "Z17",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ), toks_clean AS (
        SELECT doc_id, tok FROM toks WHERE tok <> ''
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
            FROM toks_clean GROUP BY tok
        ) WHERE rn <= 20
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           count(v.tok) AS n_in_vocab,
           round(count(v.tok) * 1.0 / count(*), 4) + 0.0 AS coverage
    FROM toks_clean t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build a top-20 frequency vocab from
    the corpus itself, then score every document's in-vocab token fraction
    (the OOV-rate check run before committing to a tokenizer).  The vocab
    is a two-stage top-k (partial counts -> global top-k, tiny) broadcast
    back into a single pass over the exploded tokens."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(word_tokens(F.col("text"))).alias(
            "tok"
        ),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
        .select("tok", F.lit(1).alias("_v"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count("_v").alias("n_in_vocab"),
            (F.round(F.count("_v") / F.count("*"), 4) + 0.0).alias("coverage"),
        )
    )


@register(
    "text_tfidf_top_terms",
    "Z22",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
        FROM documents
    ), tc AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, count(*) AS n_docs FROM tc GROUP BY tok
    ), total AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tc.doc_id, tc.tok,
               round(tc.tf * ln((SELECT n FROM total) * 1.0 / df.n_docs), 6) + 0.0
                   AS tfidf,
               row_number() OVER (
                   PARTITION BY tc.doc_id
                   ORDER BY tc.tf * ln((SELECT n FROM total) * 1.0 / df.n_docs) DESC,
                            tc.tok) AS rn
        FROM tc JOIN df ON tc.tok = df.tok
    )
    SELECT doc_id, tok AS top_term, tfidf FROM scored WHERE rn = 1
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: per document, the single highest-scoring
    term (tf x ln(N / df), ties to the alphabetically first term).

    Plan: one explode -> (doc, term) count shuffle; document frequencies
    aggregate FROM that counted frame (term already the key, so the second
    aggregate is cheap) and broadcast back; the final per-doc top-1 is a
    window over the counted frame.  N comes from a driver scalar count —
    one tiny job."""
    docs = table(spark, sf_dir, "documents")
    n_total = docs.count()
    toks = docs.select(
        "doc_id",
        F.explode(word_tokens(F.col("text"))).alias(
            "tok"
        ),
    )
    # the counted frame feeds BOTH the df aggregate and the scored join —
    # materialize it once instead of re-running the explode+count shuffle
    # per consumer (1.36 -> 1.14 s at sf0.1)
    tc = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    df_counts = tc.groupBy("tok").agg(F.count("*").alias("n_docs"))
    scored = tc.join(F.broadcast(df_counts), "tok").withColumn(
        "score", F.col("tf") * F.log(F.lit(float(n_total)) / F.col("n_docs"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("tok").alias("top_term"),
            (F.round(F.col("score"), 6) + 0.0).alias("tfidf"),
        )
    )


VOCAB_TOP = 1000  # unigram-LM vocabulary cap (bounded broadcast at any corpus size)


@register(
    "text_unigram_logprob",
    "Z47",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS token
        FROM documents
    ), vocab AS (
        SELECT token, count(*) AS n
        FROM toks GROUP BY token
        ORDER BY n DESC, token LIMIT {VOCAB_TOP}
    ), total AS (
        SELECT sum(n)::DOUBLE AS big_n FROM vocab
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           {floor_eps_sql("avg(-ln(coalesce(v.n, 1) / (total.big_n + 1.0)))", 1000000)} AS avg_surprisal_e6
    FROM toks t
    LEFT JOIN vocab v ON t.token = v.token
    CROSS JOIN total
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal score per document: -mean ln p(token), with a
    top-{V} vocabulary and an add-one floor for out-of-vocabulary tokens —
    the classic cheap quality filter (high surprisal = gibberish or boilerplate
    outliers; production swaps the table for KenLM scores).

    Scale shape: the vocabulary is COUNT-BOUNDED (top-V), so it broadcasts
    at any corpus size; the token explode aggregates map-side into the
    vocab build, and the scoring pass is explode -> broadcast-hash lookup ->
    per-doc agg (one doc_id shuffle).  No Python anywhere."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            word_tokens(F.col("text"))
        ).alias("token"),
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(VOCAB_TOP)
    )
    total = vocab.agg(F.sum("n").cast("double").alias("big_n"))
    surprisal = -F.log(
        F.coalesce(F.col("n"), F.lit(1)) / (F.col("big_n") + F.lit(1.0))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            floor_eps(F.avg(surprisal), 1000000).cast("long").alias("avg_surprisal_e6"),
        )
    )


text_unigram_logprob.__doc__ = text_unigram_logprob.__doc__.replace("{V}", str(VOCAB_TOP))


@register(
    "text_crossdoc_ngram_dup",
    "X55",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest([array_to_string(t[i:i+7], ' ')
                           -- len-7 upper bound: the inclusive slice t[i:i+7]
                           -- clamps at i=len-6 to a 7-token gram the Spark
                           -- lead(t,7) build never emits
                           FOR i IN range(1, greatest(len(t) - 7, 0) + 1)])
                       AS gram
            FROM toks
        )
    )
    SELECT gram, count(*) AS n_docs
    FROM grams GROUP BY gram HAVING count(*) >= 2
    ORDER BY n_docs DESC, gram
    LIMIT 50
    """,
)
def text_crossdoc_ngram_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-sequence duplication: 8-token windows appearing
    in >= 2 distinct documents, top 50 — the exact-substring stage of
    corpus dedup (sequence-level complement to the document-level
    MinHash/SimHash keys; at 100 TB the gram column is replaced by its
    16-byte md5 so the shuffle never carries text, same discipline as
    text_fingerprint).

    Plan shape: posexplode tokens, then the gram is ``concat_ws`` of 7
    ``lead`` columns sharing ONE window spec — all whole-stage codegen.
    The interpreted array-lambda alternative (transform + array_join per
    window position) measured 4x slower at sf0.1 (4.5s -> 1.1s): per-window
    array slicing re-copies tokens in the HOF interpreter.  The lead-window
    form also handles <8-token documents exactly (the trailing lead is
    null -> filtered), where ``sequence(1, 0)`` in the lambda form counts
    DOWN and would emit short grams.  countDistinct collapses within-doc
    repeats; one doc_id shuffle for the window, one gram shuffle for the
    count."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    ex = d.select("doc_id", F.posexplode(toks).alias("pos", "t"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, 8)]
    grams = (
        ex.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("gram"),
            F.lead("t", 7).over(w).alias("_t7"),
        )
        .filter(F.col("_t7").isNotNull())
        .drop("_t7")
    )
    return (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "gram")
        .limit(50)
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
