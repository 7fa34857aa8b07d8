"""Eighth relational wave (X54-X57): association-rule metrics, cross-doc
n-gram duplication, the dedup-rate monitoring metric, and sketch-accuracy
instrumentation.

These extend the LLM-pipeline story: X55 is the exact-substring stage of
corpus dedup (the paragraph/sequence-level complement to the document-level
MinHash/SimHash family), X56 is the operational metric a dedup pipeline
reports per ingestion source, X54 rounds out orders_market_basket with the
confidence/lift association measures, and X57 measures the MinHash
estimate's error against exact Jaccard over the real candidate set — the
pre-flight check for a sketch config.  All integer or exact-ratio
arithmetic; all DuckDB-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.dedup import word_tokens
from debias_spark.registry import register


@register(
    "orders_basket_lift",
    "X54",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
        SELECT count(DISTINCT l_orderkey) AS n FROM items
    ), item_n AS (
        SELECT l_partkey, count(*) AS n_item FROM items GROUP BY l_partkey
    ), pair_n AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_pair
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b HAVING count(*) >= 3
    )
    SELECT part_a, part_b, n_pair,
           round(n_pair * 1.0 / ia.n_item, 4) AS confidence_a_to_b,
           round(n_pair * 1.0 * (SELECT n FROM n_orders)
                 / (ia.n_item * ib.n_item), 4) AS lift
    FROM pair_n
    JOIN item_n ia ON ia.l_partkey = part_a
    JOIN item_n ib ON ib.l_partkey = part_b
    ORDER BY lift DESC, part_a, part_b
    LIMIT 50
    """,
)
def orders_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket pairs: support count, confidence
    P(b|a), and lift P(ab)/(P(a)P(b)) for pairs in >= 3 orders, top 50 by
    lift.  Plan shape: pairs, per-item frequencies AND the order count all
    derive from ONE basket frame (operators/graph.py — a single lineitem
    shuffle, checkpointed so the three aggregates read it instead of
    re-grouping lineitem each): pair generation is basket-local
    (basket^2 per order, linear overall); item frequency is a map-side
    explode + partkey aggregate; the order count is a plain count.  At
    scale the item-frequency join stays partkey-keyed and never
    broadcasts a fact-scaled table by force.  All ratios divide exact
    bigint counts (single fp op per output value, engine-deterministic);
    ties in lift break on the part keys."""
    from debias_spark.operators.graph import basket_pair_support, order_baskets

    baskets = order_baskets(spark, sf_dir).localCheckpoint(eager=True)
    n_orders = baskets.agg(F.count("*").alias("n"))
    item_n = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_item"))
    )
    pair_n = (
        basket_pair_support(baskets)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("support").alias("n_pair"),
        )
        .filter(F.col("n_pair") >= 3)
    )
    ia = item_n.select(
        F.col("l_partkey").alias("ka"), F.col("n_item").alias("n_a")
    )
    ib = item_n.select(
        F.col("l_partkey").alias("kb"), F.col("n_item").alias("n_b")
    )
    return (
        pair_n.join(ia, F.col("ka") == F.col("part_a"))
        .join(ib, F.col("kb") == F.col("part_b"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            F.round(F.col("n_pair") * 1.0 / F.col("n_a"), 4).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("n_pair") * 1.0 * F.col("n") / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


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
    "docs_dup_rate_by_source",
    "X56",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT text) AS n_distinct,
           round(1.0 - count(DISTINCT text) * 1.0 / count(*), 4)
               AS exact_dup_rate
    FROM documents GROUP BY source
    ORDER BY source
    """,
)
def docs_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's per-source health metric: exact-duplicate rate
    by ingestion source (1 - distinct/total).  The distinct-count runs on
    the text itself at this SF; at 100 TB substitute md5(text) for the
    distinct key (16-byte shuffle) or approx_count_distinct for a
    sketch — the monitoring contract tolerates approximation.  Exact
    integer counts; the rate is one fp division of exact ints."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("text").alias("n_distinct"),
            F.round(
                1.0 - F.countDistinct("text") * 1.0 / F.count("*"), 4
            ).alias("exact_dup_rate"),
        )
        .orderBy("source")
    )


def _minhash_acc_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB replay of dedup_minhash_est_vs_exact: same signatures and
    candidate buckets as _minhash_oracle, then per-pair |estimate - exact|
    integerized to micro-units before aggregation."""
    from debias_spark.operators.dedup import MINHASH_P, minhash_params
    from debias_spark.queries.llm_ops import _DUCK_TOKENS, _h60_duck

    rpb = num_hashes // bands
    sig_cols = ", ".join(
        f"min(((({_h60_duck('s')}) % {MINHASH_P}) * {a} + {b}) % {MINHASH_P})"
        f" AS h{h}"
        for h, (a, b) in enumerate(minhash_params(num_hashes))
    )
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band_id, {bh} AS band_hash FROM sig".format(
            b=b,
            bh=_h60_duck(
                "concat_ws(',', {}, '{}')".format(
                    ", ".join(f"h{b * rpb + r}::VARCHAR" for r in range(rpb)), b
                )
            ),
        )
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN a.h{h} = b.h{h} THEN 1 ELSE 0 END" for h in range(num_hashes)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id AS id, {_DUCK_TOKENS} AS sh FROM documents
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
    ), scored AS (
        SELECT CAST(floor(abs(
                   ({matches}) * 1.0 / {num_hashes}
                   - len(list_intersect(x.sh, y.sh)) * 1.0
                     / len(list_distinct(x.sh || y.sh))
               ) * 1000000 + 0.5) AS BIGINT) AS err_micro
        FROM cand c
        JOIN sig a ON a.id = c.id
        JOIN sig b ON b.id = c.rep_id
        JOIN sh x ON x.id = c.id
        JOIN sh y ON y.id = c.rep_id
    )
    SELECT count(*) AS n_pairs,
           round(sum(err_micro) / 1000000.0 / count(*), 4) + 0.0
               AS avg_abs_err,
           round(max(err_micro) / 1000000.0, 4) + 0.0 AS max_abs_err
    FROM scored
    """


@register(
    "dedup_minhash_est_vs_exact",
    "X57",
    oracle=_minhash_acc_oracle(num_hashes=16, bands=4),
)
def dedup_minhash_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy instrumentation: over the LSH candidate pairs, the
    MinHash ESTIMATE of Jaccard (fraction of agreeing signature slots) vs
    the EXACT shingle Jaccard, reported as average and max absolute error.
    This is the query a pipeline owner runs before trusting a sketch
    config at 100 TB — E[avg_abs_err] ~ 1/sqrt(num_hashes) ~ 0.25 at 16
    hashes — and because the h60/affine sketch is engine-portable, even
    THIS diagnostic is value-checked against DuckDB end-to-end.  Per-pair
    errors are integerized (floor(x*1e6+0.5) micro-units, bit-identical
    IEEE ops on exact rational inputs) so the averages are
    order-independent."""
    from debias_spark.operators.dedup import (
        MINHASH_P,
        bands_from_sig_keep_sig,
        h60,
        jaccard,
        minhash_params,
        word_shingles,
    )
    from pyspark.sql.window import Window

    num_hashes, bands = 16, 4
    docs = table(spark, sf_dir, "documents")
    # four consumers read this frame (signature build, band hashes, both
    # exact-Jaccard join sides) — but do NOT checkpoint it: the
    # lambda-bound shingle build is cheap enough that recompute beats the
    # checkpoint round-trip (interleaved min-of-5 at sf0.1: 1.55 s
    # recomputed vs 1.73 s checkpointed; same result for minhash_dedup's
    # 3-consumer frame, 1.16 vs 1.29).  Checkpoint-by-reuse-count applies
    # when the recomputed stage is a shuffle or a crypto-hash pipeline
    # (q21's join, winnowing's md5 grams), not a map-side projection.
    from debias_spark.operators.skew import fan_out

    sh = fan_out(docs).select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    ex = sh.select("id", F.explode("sh").alias("s")).withColumn(
        "base", h60(F.col("s")) % F.lit(MINHASH_P)
    )
    sig = ex.groupBy("id").agg(
        *[
            F.min((F.col("base") * a + b) % F.lit(MINHASH_P)).alias(f"h{h}")
            for h, (a, b) in enumerate(minhash_params(num_hashes))
        ]
    )
    # r13 single-build pass: band rows CARRY their signatures
    # (bands_from_sig_keep_sig over the one sig frame — minhash_banded
    # would rebuild the whole explode + h60 + min-agg pipeline a second
    # time), and the bucket representative's signature rides the same
    # window as rep_id via a struct-min (lexicographic, id leading — the
    # min-id row exactly).  Both signatures are then IN the candidate
    # row, so the estimate computes inline and the two sig joins
    # disappear; only the two exact-shingle sides still join.  Values
    # unchanged: same pairs, same slot-agreement count.
    w = Window.partitionBy("band_id", "band_hash")
    rep = F.min(
        F.struct(F.col("id"), *[F.col(f"h{h}") for h in range(num_hashes)])
    ).over(w)
    matches = sum(
        (F.col(f"h{h}") == F.col(f"rep.h{h}")).cast("int")
        for h in range(num_hashes)
    )
    cand = (
        bands_from_sig_keep_sig(sig, num_hashes, bands)
        .withColumn("rep", rep)
        .filter(F.col("id") > F.col("rep.id"))
        .select(
            "id",
            F.col("rep.id").alias("rep_id"),
            matches.alias("matches"),
        )
        .groupBy("id", "rep_id")  # the pair dedup; matches is per-pair
        .agg(F.max("matches").alias("matches"))
    )
    xa = sh.select(F.col("id").alias("xa"), F.col("sh").alias("sh_a"))
    xb = sh.select(F.col("id").alias("xb"), F.col("sh").alias("sh_b"))
    est = F.col("matches") * 1.0 / num_hashes
    err_micro = F.floor(
        F.abs(est - jaccard(F.col("sh_a"), F.col("sh_b"))) * 1000000 + 0.5
    ).cast("long")
    scored = (
        cand.join(xa, F.col("xa") == F.col("id"))
        .join(xb, F.col("xb") == F.col("rep_id"))
        .select(err_micro.alias("err_micro"))
    )
    return scored.agg(
        F.count("*").alias("n_pairs"),
        (F.round(F.sum("err_micro") / 1000000.0 / F.count("*"), 4) + 0.0).alias(
            "avg_abs_err"
        ),
        (F.round(F.max("err_micro") / 1000000.0, 4) + 0.0).alias("max_abs_err"),
    )
