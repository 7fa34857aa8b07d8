"""Training-corpus curation keys over ``documents``: quality binning and
filter chains, vocabulary drift and language audits, token budgets,
sequence packing, shard balance and rendezvous stability, importance
resampling, length trims, BM25 search, and corpus mixture / epoch
planning.

The reference has no corpus surface; north-star extensions per SURVEY §2.H.  Ordering keys and
cumulative sums are exact BIGINTs; no double crosses an ordering or a
threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.dedup import WORD_TOKENS_DUCK, h60, word_tokens
from debias_spark.operators.packing import nfd_pack, nfd_pack_duck_ctes
from debias_spark.operators.packing import PACK_CAP as _CAP
from debias_spark.operators.packing import PACK_SHARD as _SHARD
from debias_spark.operators.skew import fan_out
from debias_spark.registry import register


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


# ---------------------------------------------------------------------------
# Y69: epoch / repeat-factor plan under a token budget
# ---------------------------------------------------------------------------
_BUDGET_X = 3  # token budget = 3x the corpus


_EPOCH_CAP = 4  # no source repeats more than 4 epochs


# target mixture weight per source: w(srcK) = K + 1 (a stand-in for the
# hand-configured mixture table a real run ships); W = sum of weights
_W_EXPR_DUCK = "CAST(substr(source, 4) AS BIGINT) + 1"


_W_EXPR_SPARK = "CAST(substring(source, 4, 8) AS BIGINT) + 1"


@register(
    "corpus_repeat_epoch_plan",
    "Y69",
    oracle=f"""
    WITH s AS MATERIALIZED (
        SELECT source, {_W_EXPR_DUCK} AS w,
               CAST(sum(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x <> ''))) AS BIGINT) AS toks
        FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(toks) * {_BUDGET_X} AS budget, sum(w) AS wsum FROM s
    ), a1 AS (
        SELECT s.source, s.w, s.toks,
               least({_EPOCH_CAP} * s.toks, tot.budget * s.w // tot.wsum)
                   AS alloc1,
               (tot.budget * s.w // tot.wsum) >= {_EPOCH_CAP} * s.toks
                   AS capped
        FROM s, tot
    ), left_ AS (
        SELECT (SELECT budget FROM tot) - sum(alloc1) AS leftover,
               sum(CASE WHEN NOT capped THEN w ELSE 0 END) AS w_unc
        FROM a1
    )
    SELECT a.source, a.toks, a.w,
           CAST(a.alloc1 + CASE WHEN a.capped THEN 0
                           ELSE l.leftover * a.w // nullif(l.w_unc, 0) END
               AS BIGINT) AS alloc_tokens,
           -- nullif on the token supply too (r9 advice): a zero-token
           -- source must be NULL in BOTH engines, not a DuckDB // 0 crash
           CAST((a.alloc1 + CASE WHEN a.capped THEN 0
                            ELSE l.leftover * a.w // nullif(l.w_unc, 0) END)
               * 10000 // nullif(a.toks, 0) AS BIGINT) AS epochs_e4,
           CAST(CASE WHEN a.capped THEN 1 ELSE 0 END AS BIGINT) AS capped
    FROM a1 a, left_ l ORDER BY a.source
    """,
)
def corpus_repeat_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch/repeat-factor planning for a token-budgeted training run
    (the data-constrained-scaling allocation step): each source has a
    target mixture weight; its allocation = budget * w / W, CAPPED at 4
    epochs of its actual token supply (repeating a small source more
    stops helping), with one redistribution round pushing the capped
    surplus to uncapped sources proportionally.  Output per source:
    token supply, weight, final allocated tokens, epochs in e4, and the
    cap flag — the table a run planner turns into per-source sampling
    rates.

    Scale shape: one corpus-scale token-count aggregation (map-side
    combine onto ~|sources| rows), then pure integer arithmetic on the
    bounded source table via two 1-row broadcast aggregates — zero
    floats, zero collects, batching-independent."""
    from debias_spark.operators.dedup import word_tokens

    docs = table(spark, sf_dir, "documents")
    s = (
        docs.select(
            "source", F.size(word_tokens(F.col("text"))).cast("long").alias("nt")
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("toks"))
        .withColumn("w", F.expr(_W_EXPR_SPARK))
    )
    tot = s.agg(
        (F.sum("toks") * _BUDGET_X).alias("budget"), F.sum("w").alias("wsum")
    )
    a1 = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "w",
        "toks",
        F.expr(
            f"least({_EPOCH_CAP} * toks, budget * w div wsum)"
        ).alias("alloc1"),
        F.expr(f"(budget * w div wsum) >= {_EPOCH_CAP} * toks").alias("capped"),
        "budget",
    )
    left = a1.agg(
        (F.max("budget") - F.sum("alloc1")).alias("leftover"),
        F.sum(F.when(~F.col("capped"), F.col("w")).otherwise(F.lit(0))).alias(
            "w_unc"
        ),
    )
    return (
        a1.crossJoin(F.broadcast(left))
        .select(
            "source",
            "toks",
            "w",
            F.expr(
                "alloc1 + (CASE WHEN capped THEN 0"
                " ELSE leftover * w div nullif(w_unc, 0) END)"
            ).alias("alloc_tokens"),
            F.expr(
                "(alloc1 + (CASE WHEN capped THEN 0"
                " ELSE leftover * w div nullif(w_unc, 0) END))"
                " * 10000 div nullif(toks, 0)"
            ).alias("epochs_e4"),
            F.col("capped").cast("long").alias("capped"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Y70: rendezvous-hash shard stability under shard-count change
# ---------------------------------------------------------------------------
_SHARDS_FROM, _SHARDS_TO = 4, 5


def _hrw_rank_duck(n_shards: int) -> str:
    """Per-doc winning shard among 0..n_shards-1 by max h60(doc_id:shard)."""
    return f"""
        SELECT doc_id, s AS shard FROM (
            SELECT doc_id, s,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY h DESC, s) AS rn
            FROM (
                SELECT doc_id, CAST(t.s AS BIGINT) AS s,
                       (('0x' || substr(md5(doc_id::VARCHAR || ':' || t.s::VARCHAR),
                                        1, 15))::BIGINT) AS h
                FROM documents, range(0, {n_shards}) t(s)
            )
        ) WHERE rn = 1
    """


@register(
    "docs_shard_rendezvous_stability",
    "Y70",
    oracle=f"""
    WITH h4 AS MATERIALIZED ({_hrw_rank_duck(_SHARDS_FROM)}),
    h5 AS MATERIALIZED ({_hrw_rank_duck(_SHARDS_TO)}),
    j AS (
        SELECT h4.doc_id, h4.shard AS shard_from,
               CASE WHEN h4.shard <> h5.shard THEN 1 ELSE 0 END AS mv_hrw,
               CASE WHEN h4.doc_id % {_SHARDS_FROM}
                         <> h4.doc_id % {_SHARDS_TO} THEN 1 ELSE 0 END AS mv_mod
        FROM h4 JOIN h5 USING (doc_id)
    )
    SELECT shard_from,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(mv_hrw) AS BIGINT) AS n_moved_hrw,
           CAST(sum(mv_mod) AS BIGINT) AS n_moved_mod,
           CAST(sum(mv_hrw) * 10000 // count(*) AS BIGINT) AS moved_hrw_bp,
           CAST(sum(mv_mod) * 10000 // count(*) AS BIGINT) AS moved_mod_bp
    FROM j GROUP BY shard_from ORDER BY shard_from
    """,
)
def docs_shard_rendezvous_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment stability when a corpus resizes from 4 to 5
    shards: rendezvous (highest-random-weight) hashing — shard(doc) =
    argmax over shards of h60('doc_id:shard') — moves ONLY the docs the
    new shard wins (~1/5), while naive modulo sharding moves ~4/5 and
    forces a near-total reshuffle of a 100 TB corpus on every topology
    change.  The report quantifies both, per current shard, in exact
    counts and basis points.

    Scale shape: a 5-way position explode per doc (fused generator), an
    argmax via one per-doc struct-max aggregate — no window over the
    corpus, no join wider than doc_id — and the same md5-derived h60
    the dedup family uses, so the DuckDB oracle replays it exactly."""
    from debias_spark.operators.dedup import h60

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def hrw(n_shards: int, out: str) -> DataFrame:
        ex = docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("s"),
        ).select(
            "doc_id",
            F.col("s").cast("long").alias("s"),
            h60(
                F.concat_ws(":", F.col("doc_id").cast("string"),
                            F.col("s").cast("string"))
            ).alias("h"),
        )
        # argmax by (h desc, s asc): max of struct(h, -s), shard = -neg
        return ex.groupBy("doc_id").agg(
            (-F.max(F.struct(F.col("h"), (-F.col("s")).alias("ns"))).getField(
                "ns"
            )).alias(out)
        )

    j = hrw(_SHARDS_FROM, "shard_from").join(hrw(_SHARDS_TO, "shard_to"), "doc_id")
    g = j.select(
        "shard_from",
        (F.col("shard_from") != F.col("shard_to")).cast("long").alias("mv_hrw"),
        (
            F.col("doc_id") % _SHARDS_FROM != F.col("doc_id") % _SHARDS_TO
        ).cast("long").alias("mv_mod"),
    )
    return (
        g.groupBy("shard_from")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("mv_hrw").alias("n_moved_hrw"),
            F.sum("mv_mod").alias("n_moved_mod"),
        )
        .select(
            "shard_from",
            "n_docs",
            "n_moved_hrw",
            "n_moved_mod",
            F.expr("n_moved_hrw * 10000 div n_docs").alias("moved_hrw_bp"),
            F.expr("n_moved_mod * 10000 div n_docs").alias("moved_mod_bp"),
        )
        .orderBy("shard_from")
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


_BUDGET = 100_000  # total sampled-doc budget the mixture distributes


@register(
    "corpus_mixture_temperature",
    "Y53",
    oracle=f"""
    WITH l AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang
    ), s AS (
        SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w
        FROM l
    ), tot AS (
        -- left-fold in lang order: Spark's aggregate() fold and DuckDB's
        -- list_reduce add in the identical sequence, so the float sum is
        -- bit-identical (plain sum() has no cross-engine order contract)
        SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS sw
        FROM s
    )
    SELECT s.lang, s.n_docs,
           {floor_eps_sql("s.w / tot.sw", 1000000)} AS weight_e6,
           {floor_eps_sql(f"{_BUDGET} * s.w / tot.sw")} AS target_docs
    FROM s, tot
    ORDER BY s.lang
    """,
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (T=2, i.e. alpha=0.5): sampling
    weight w_l ∝ n_l^0.5, the standard rebalancing between proportional
    (alpha=1, big languages dominate) and uniform (alpha=0) when fixing a
    multilingual training mix; emits each language's weight and its share
    of a fixed document budget.  alpha=0.5 is deliberately the SQRT
    exponent: sqrt is IEEE correctly-rounded on both engines, whereas a
    general pow(n, 0.7) is transcendental and may differ in the last ulp
    (float doctrine).  The weight normalizer is a 5-element left-fold in
    lang order on both engines (rule: never trust cross-engine float sum
    order), so every emitted integer is bit-stable.

    Scale shape: one map-side-combined count per language, a 5-row fold,
    one broadcast back.  The mixture table is what a downstream
    sample_mixture_weighted-style stage consumes."""
    docs = table(spark, sf_dir, "documents")
    l = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    s = l.select(
        "lang", "n_docs", F.sqrt(F.col("n_docs").cast("double")).alias("w")
    )
    tot = s.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("lang", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("sw")
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            floor_eps(F.col("w") / F.col("sw"), 1000000)
            .cast("long")
            .alias("weight_e6"),
            floor_eps(F.lit(_BUDGET) * F.col("w") / F.col("sw"))
            .cast("long")
            .alias("target_docs"),
        )
        .orderBy("lang")
    )


@register(
    "docs_pack_nextfit_decreasing",
    "Y55",
    oracle=rf"""
    WITH RECURSIVE t AS MATERIALIZED (
        SELECT doc_id,
               doc_id // {_SHARD} AS shard,
               CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), t2 AS (
        SELECT doc_id, shard, n_tokens FROM t WHERE n_tokens > 0
    ), {nfd_pack_duck_ctes("t2", _CAP)}
    SELECT doc_id, n_tokens,
           CAST(shard * 10000 + bin_id AS BIGINT) AS pack_id
    FROM pack ORDER BY doc_id
    """,
)
def docs_pack_nextfit_decreasing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing, next-fit-decreasing: within each 100-doc
    shard, documents sorted by token count (desc, doc_id tiebreak) fill
    512-token bins; a doc that overflows the open bin starts a new one
    (an oversized doc takes its own bin and leaves it closed).  NFD is
    the one-pass streaming-friendly packer — FFD's bin SEARCH needs
    random access to all open bins, which breaks the sequential-fold
    shape; NFD wastes a bounded tail per bin in exchange for O(1) state.
    Packing is inherently sequential, so it runs as a python loop per
    shard (applyInPandas) — exactly the per-partition-imperative escape
    hatch — and the DuckDB oracle replays EVERY bin decision with a
    recursive CTE over the same ordering (helper CTEs joined, never
    correlated — the X136 doctrine).  The packer lives in
    operators/packing.py so the corpus-build capstone (Z75) provably
    packs with the IDENTICAL policy.

    Scale shape: shards are independent (one shuffle on shard id), each
    is a bounded 100-doc loop; pack ids are globally unique via the
    shard prefix — the same contract as Y7."""
    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(
        word_tokens(F.col("text"))
    ).cast("long")
    t = (
        docs.select(
            "doc_id",
            (F.col("doc_id") / _SHARD).cast("long").alias("shard"),
            n_tok.alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    return nfd_pack(t, _CAP).orderBy("doc_id")


@register(
    "docs_trigram_renyi_entropy",
    "Y56",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, substring(lower(text), 1, 512) AS txt
        FROM documents WHERE len(text) >= 3
    ), g AS (
        SELECT doc_id, substring(txt, i + 1, 3) AS gram
        FROM t, unnest(range(0, len(txt) - 2)) AS u(i)
    ), c AS MATERIALIZED (
        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
    ), s AS (
        SELECT doc_id,
               sum(c) AS n,
               sum(c * c) AS c2,
               count(*) AS n_distinct
        FROM c GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_grams,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           {floor_eps_sql("ln(CAST(n * n AS DOUBLE) / CAST(c2 AS DOUBLE))", 1000000)}
               AS renyi2_e6
    FROM s ORDER BY doc_id
    """,
)
def docs_trigram_renyi_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rényi-2 (collision) entropy of each document's character-trigram
    distribution: H2 = -ln(Σ c²/N²) = ln(N²/Σc²) — low H2 means a few
    trigrams dominate (boilerplate, repeated strings, key-mashing), the
    same signal Shannon entropy gives but with ONE logarithm of a ratio
    of EXACT integers, so both engines call ln on the identical double
    and the floor-eps e6 emission is bit-stable (a Shannon spelling
    needs Σ c·ln c — hundreds of transcendental terms whose last-ulp
    differences accumulate across engines; H2 is the determinism-safe
    member of the Rényi family, and it complements Y51's distinct-count
    diversity with a mass-concentration measure).

    Scale shape: trigram explode -> one map-side-combined (doc, gram)
    count -> one per-doc moment aggregate.  Linear, no joins.  The cost
    is the generator itself (measured: explode of ~300 grams/doc is
    ~1.5s of the 2.5s at sf0.1; integer-coded gram keys were A/B'd at
    5.3s — three ascii(substring()) calls per gram cost more than the
    string shuffle saves — and per-row HOF folds are the interpreted
    path, rule 1), so the spelled form IS the fast form; at 100 TB the
    explode parallelizes with the scan and nothing here is a barrier."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    # quality signals need a bounded sample, not the whole document: the
    # 512-char prefix bounds per-doc work on arbitrarily long real-world
    # documents (this corpus averages ~300 chars, so it is a no-op here)
    t = docs.select(
        "doc_id", F.substring(F.lower("text"), 1, 512).alias("txt")
    ).filter(F.length(F.col("text")) >= 3)
    g = t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("txt") - 2)).alias("i"),
        "txt",
    ).select("doc_id", F.expr("substring(txt, i, 3)").alias("gram"))
    c = g.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    s = c.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("c")).alias("c2"),
        F.count("*").alias("n_distinct"),
    )
    return s.select(
        "doc_id",
        F.col("n").cast("long").alias("n_grams"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        floor_eps(
            F.log((F.col("n") * F.col("n")).cast("double") / F.col("c2").cast("double")),
            1000000,
        )
        .cast("long")
        .alias("renyi2_e6"),
    ).orderBy("doc_id")


@register(
    "docs_length_percentile_trim",
    "Y58",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
    ), cuts AS (
        -- exact inverted-CDF percentiles on integer lengths: both
        -- engines pick actual data values, no interpolation ambiguity
        SELECT quantile_disc(n_chars, 0.05) AS lo,
               quantile_disc(n_chars, 0.95) AS hi
        FROM t
    )
    SELECT t.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN t.n_chars >= cuts.lo AND t.n_chars <= cuts.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN t.n_chars >= cuts.lo AND t.n_chars <= cuts.hi
                         THEN t.doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
           CAST(max(cuts.lo) AS BIGINT) AS lo_cut,
           CAST(max(cuts.hi) AS BIGINT) AS hi_cut
    FROM t, cuts
    GROUP BY t.lang ORDER BY t.lang
    """,
)
def docs_length_percentile_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-percentile corpus trim: drop the shortest and longest 5%
    of documents by character count — the outlier-trim stage every
    pretraining pipeline runs before quality scoring (fragments and
    concatenation accidents live in the tails).  Cutoffs are EXACT
    discrete percentiles (percentile_disc / quantile_disc pick real data
    values, so both engines cut at the identical integer — no
    interpolated float threshold); kept_id_sum pins the exact surviving
    set per language.

    Scale shape: one mergeable exact-percentile aggregate (count-map
    partials) broadcast back over the scan; one grouped rollup.  At
    100 TB the exact percentile swaps for approx_percentile with a
    banded guard (the X4c pattern) — the plan shape is unchanged."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    cuts = docs.agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY n_chars)").alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)").alias("hi"),
    )
    j = docs.crossJoin(F.broadcast(cuts))
    kept = (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(F.when(kept, F.col("doc_id")).otherwise(0))
            .cast("long")
            .alias("kept_id_sum"),
            F.max("lo").cast("long").alias("lo_cut"),
            F.max("hi").cast("long").alias("hi_cut"),
        )
        .orderBy("lang")
    )


def _x53_oracle() -> str:
    from debias_spark.operators.text import (
        QUALITY_PUNCT_DUCK,
        QUALITY_TOKENS_DUCK,
        QUALITY_VERDICT_DUCK,
    )

    verdict = QUALITY_VERDICT_DUCK.format(
        n_chars="n_chars", n_tokens="n_tokens", n_punct="n_punct"
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               {QUALITY_TOKENS_DUCK.format(x="text")} AS n_tokens,
               {QUALITY_PUNCT_DUCK.format(x="text")} AS n_punct
        FROM documents
    ), flagged AS (
        SELECT doc_id, lang, {verdict} AS verdict
        FROM toks
    )
    SELECT lang, verdict, count(*) AS n_docs
    FROM flagged GROUP BY lang, verdict
    ORDER BY lang, verdict
    """


@register("docs_quality_filterchain", "X53", oracle=_x53_oracle())
def docs_quality_filterchain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed quality gate: the keep/drop decision a training-data
    pipeline makes per document, as ONE first-match-wins rule chain
    (length -> word-shape -> punctuation density) with per-language
    verdict counts for monitoring.  All rules are single-pass codegen
    expressions over the scan — no joins, no windows, one rollup shuffle;
    integer ratios compared via exact arithmetic.  The individual rules
    are the text_gopher_rules/text_quality_score building blocks; this key
    is their composition, which is what actually ships.  The rule chain
    lives in operators/text.py (quality_verdict) so the corpus-build
    capstone (Z75) provably applies the IDENTICAL gate."""
    from debias_spark.operators.text import quality_features, quality_verdict

    d = table(spark, sf_dir, "documents")
    n_tokens, n_punct = quality_features(F.col("text"))
    verdict = quality_verdict(
        F.col("n_chars"), F.col("n_tokens"), F.col("n_punct")
    )
    return (
        d.select(
            "lang",
            "n_chars",
            n_tokens.alias("n_tokens"),
            n_punct.alias("n_punct"),
        )
        .select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "verdict")
    )


_COMPACT_TARGET = 8000  # chars per output file


@register(
    "docs_compaction_plan",
    "X59",
    oracle=f"""
    WITH c AS (
        SELECT source, doc_id, n_chars,
               CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_chars
        FROM documents
    )
    SELECT source, doc_id, cum_chars,
           CAST((cum_chars - n_chars) // {_COMPACT_TARGET} AS BIGINT) AS file_id
    FROM c
    """,
)
def docs_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning: assign documents to ~8 kB output
    files per source by bucketing each doc's starting byte offset
    (running total of sizes) — the bin-packing pass behind OPTIMIZE /
    compaction jobs, as a pure window + integer division (no driver
    loop).  A doc straddling a boundary belongs to the file its FIRST
    byte lands in, so file sizes may overshoot by at most one doc — the
    standard greedy contract.

    Plan: one shuffle on source, one in-partition sort by doc_id.
    Source cardinality is bounded (it is a dimension); a pathologically
    hot source would get a two-level split (date subkey) — same shape as
    operators/prefixsum.py."""
    d = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("cum_chars", F.sum("n_chars").over(w))
        .select(
            "source",
            "doc_id",
            "cum_chars",
            F.expr(f"(cum_chars - n_chars) div {_COMPACT_TARGET}").alias("file_id"),
        )
    )


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


_W_CAP = 1000  # weight = min(n_chars, cap); acceptance P = weight / cap


@register(
    "docs_importance_resample",
    "Y64",
    oracle=f"""
    WITH w AS MATERIALIZED (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
               least(CAST(n_chars AS BIGINT), {_W_CAP}) AS wgt,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % {_W_CAP} AS u
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN u < wgt THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           CAST(sum(CASE WHEN u < wgt THEN n_chars ELSE 0 END) AS BIGINT)
               AS sampled_chars,
           CAST(sum(wgt) AS BIGINT) AS expected_milli
    FROM w GROUP BY source ORDER BY source
    """,
)
def docs_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling with a deterministic per-document coin:
    accept doc iff h60(doc_id) mod 1000 < min(n_chars, 1000) — exact
    acceptance probability n_chars/1000 with zero RNG state, stable
    across reruns, cluster sizes and partitionings (the Y10 determinism
    contract applied to WEIGHTED sampling).  Longer documents survive
    proportionally more often — the usual curation move when short docs
    are low-value but not droppable outright.  `expected_milli` (sum of
    weights = expected accepts x1000/cap) rides along so the sampled
    count is auditable against its expectation per source.

    Scale shape: the coin is a pure projection (md5 + modulo, codegen) —
    acceptance sampling is a SCAN, not a shuffle; only the per-source
    rollup exchanges, and it is source-cardinality bounded.  All
    arithmetic is exact integers (h60 stays under 2^60; the modulo
    avoids the 2^60 x weight overflow a ratio comparison would risk)."""
    docs = table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.least(F.col("n_chars").cast("long"), F.lit(_W_CAP)).alias("wgt"),
        F.pmod(h60(F.col("doc_id").cast("string")), F.lit(_W_CAP)).alias("u"),
    )
    keep = F.col("u") < F.col("wgt")
    return (
        w.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            # when/otherwise(0), not sum(cast): an all-NULL group (possible
            # if regenerated testdata ever ships NULL ids/chars) must yield
            # 0 like the oracle's CASE, never NULL
            F.sum(F.when(keep, F.lit(1)).otherwise(F.lit(0))).alias("n_sampled"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(F.lit(0))).alias(
                "sampled_chars"
            ),
            F.sum("wgt").alias("expected_milli"),
        )
        .orderBy("source")
    )
