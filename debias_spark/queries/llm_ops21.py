"""Round-7 block wave 5 (Y50-Y51): corpus distribution diagnostics —
per-language KL divergence against the corpus unigram distribution, and
distinct-trigram diversity (the Self-BLEU-style repetition diagnostic).

No reference citation: the reference (SirHooke/debias-batch-processor)
has no text-statistics surface; LLM-pipeline extensions per SURVEY §2.H10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from debias_spark.catalog import table
from debias_spark.numeric import floor_eps, floor_eps_sql
from debias_spark.operators.dedup import word_tokens
from debias_spark.registry import register


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
