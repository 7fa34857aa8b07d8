"""Round-8 wave 1 (Y62): the pre-training split workflow in one key —
deterministic stratified train/val/test assignment (Y10 semantics) fused
with the semantic decontamination screen (Y57 semantics): train docs too
close to the val/test embeddings are REMOVED before the per-(split, lang)
corpus accounting is emitted.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no corpus surface; extension per SURVEY §2.H (r7 verdict growth item
6b: "stratified/temporal train-val-test decontamination join combining
Y10 + Y57 semantics in one key — the actual pre-training split workflow").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.numeric import cents, cents_sql, floor_eps, floor_eps_sql
from debias_spark.operators.skew import fan_out
from debias_spark.operators.similarity import dot, l2_norm
from debias_spark.registry import register

# 98/1/1 split by key arithmetic: the eval splits are SMALL by design —
# that is what makes the decontamination screen's eval side broadcastable
# at any corpus scale (cf. embedding_decontamination_screen's contract).
_TRAIN_LT = 98
_VAL_EQ = 98
_THRESH_E4 = 6000


@register(
    "docs_train_split_decontaminated",
    "Y62",
    oracle=f"""
    WITH base AS MATERIALIZED (
        SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
               CAST(e.embedding AS DOUBLE[]) AS v,
               CASE WHEN d.doc_id % 100 < {_TRAIN_LT} THEN 'train'
                    WHEN d.doc_id % 100 = {_VAL_EQ} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ), ev AS MATERIALIZED (
        SELECT doc_id AS eval_id, v AS ev FROM base WHERE split <> 'train'
    ), contaminated AS (
        SELECT DISTINCT b.doc_id
        FROM base b JOIN ev
          ON {floor_eps_sql("list_cosine_similarity(b.v, ev.ev)", 10000)}
             >= {_THRESH_E4}
        WHERE b.split = 'train'
    )
    SELECT b.split, b.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN c.doc_id IS NULL THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM base b LEFT JOIN contaminated c ON c.doc_id = b.doc_id
    GROUP BY b.split, b.lang
    ORDER BY b.split, b.lang
    """,
)
def docs_train_split_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified split + decontamination in one pass: every embedded
    document gets a deterministic 98/1/1 train/val/test assignment by
    key arithmetic (no RNG state — reproducible at any cluster size,
    Y10's contract), then train docs whose best cosine against ANY
    val/test embedding reaches 0.60 are removed (paraphrase leakage the
    n-gram screens Y9/Y12 miss), and the key emits the per-(split, lang)
    corpus accounting a pre-training data team actually reports: docs,
    removals, survivors, surviving characters.

    Scale shape: the eval side is small BY CONSTRUCTION (1+1% of keys —
    real eval sets are fixed-size, not corpus-proportional), so it
    broadcasts and the screen is ONE scan of the train split with a
    bounded per-row loop — the H8/Y57 exact shape; a corpus-scale eval
    set would drop in the H8b LSH bucketing unchanged.  Contamination is
    an EXISTS (max-sim >= threshold) aggregate, not a pair emission, so
    the shuffle after the screen carries one boolean per train doc; the
    final rollup groups a (split, lang)-bounded frame."""
    docs = fan_out(table(spark, sf_dir, "documents"))
    emb = table(spark, sf_dir, "embeddings")
    split = (
        F.when(F.col("doc_id") % 100 < _TRAIN_LT, "train")
        .when(F.col("doc_id") % 100 == _VAL_EQ, "val")
        .otherwise("test")
    )
    # base feeds THREE branches (eval side, screen, accounting); the
    # docs-embeddings join + norm projection recomputes per branch
    # without the checkpoint.  Interleaved A/B at sf0.1 (4 reps):
    # checkpointed 1.09-1.37s vs plain 1.15-1.56s — consistently ~5%
    # faster, kept (rule-5 margin case: the join broadcasts, so the
    # recomputed stage is cheap and the win is small but uniform).
    base = (
        docs.join(emb, docs["doc_id"] == emb["vec_id"])
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("embedding").alias("v"),
            split.alias("split"),
            l2_norm(F.col("embedding")).alias("nrm"),
        )
        .localCheckpoint(eager=False)
    )
    ev = base.filter(F.col("split") != "train").select(
        F.col("v").alias("ev"), F.col("nrm").alias("en")
    )
    sim_e4 = floor_eps(
        dot(F.col("v"), F.col("ev")) / (F.col("nrm") * F.col("en")), 10000
    ).cast("long")
    # EXISTS via max-sim: one row per train doc survives the screen shuffle
    screened = (
        base.filter(F.col("split") == "train")
        .crossJoin(F.broadcast(ev))
        .select("doc_id", sim_e4.alias("sim_e4"))
        .groupBy("doc_id")
        .agg(F.max("sim_e4").alias("best_e4"))
        .filter(F.col("best_e4") >= _THRESH_E4)
        .select("doc_id", F.lit(True).alias("hit"))
    )
    acc = base.join(F.broadcast(screened), "doc_id", "left").select(
        "split",
        "lang",
        "n_chars",
        F.coalesce(F.col("hit"), F.lit(False)).alias("hit"),
    )
    return (
        acc.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("hit").cast("long")).alias("n_removed"),
            F.sum((~F.col("hit")).cast("long")).alias("n_kept"),
            F.sum(F.when(~F.col("hit"), F.col("n_chars")).otherwise(F.lit(0))).alias(
                "kept_chars"
            ),
        )
        .orderBy("split", "lang")
    )


# Temporal split point: 5 years of history train, the final ~1.6 years
# eval (orders span 1995-01-01 .. 2001-08-01 at every SF)
_SPLIT_TS = "2000-01-01"


@register(
    "orders_temporal_split_leakage",
    "Y63",
    oracle=f"""
    WITH o AS MATERIALIZED (
        SELECT o_custkey, o_orderkey,
               {cents_sql("o_totalprice")} AS cents,
               CASE WHEN o_orderdate < TIMESTAMP '{_SPLIT_TS}'
                    THEN 'train' ELSE 'eval' END AS split
        FROM orders
    ), leaky AS (
        SELECT o_custkey FROM o GROUP BY 1
        HAVING count(DISTINCT split) = 2
    )
    SELECT split,
           count(*) AS n_orders,
           count(DISTINCT o.o_custkey) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS rev_cents,
           CAST(sum(CASE WHEN l.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaked_orders,
           CAST(count(DISTINCT l.o_custkey) AS BIGINT) AS n_leaky_customers
    FROM o LEFT JOIN leaky l ON l.o_custkey = o.o_custkey
    GROUP BY split ORDER BY split
    """,
)
def orders_temporal_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TEMPORAL counterpart of Y62's stratified split: train on the
    past, evaluate on the future (the only split that is honest for
    forecasting models), plus the entity-leakage audit — customers with
    orders on BOTH sides of the boundary make the eval split
    warm-start for per-customer models, so the key reports per split
    the order/customer/revenue accounting, how many orders belong to
    leaky (both-sides) customers, and the leaky-entity count itself;
    eval minus leaked is the cold-start eval set a per-entity model
    must be graded on.

    Scale shape: the split is a pure date-predicate projection (pruned
    at the scan when the table is date-partitioned); everything reduces
    through ONE per-(split, custkey) pre-aggregation, after which both
    the leaky-entity set and the final rollup are counts over that
    already-distinct frame — no exact-distinct ever mixes into a
    groupBy with other aggregates, so no Expand replicates the fact
    rows through the shuffle (measured rule 7).  The leaky set joins
    back broadcast-sized relative to the per-customer frame (at 100 TB:
    a bloom-filter semi-join on the same key).  All emitted values are
    exact integers."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        cents(F.col("o_totalprice")).alias("cents"),
        F.when(
            F.col("o_orderdate") < F.expr(f"TIMESTAMP_NTZ '{_SPLIT_TS} 00:00:00'"),
            "train",
        )
        .otherwise("eval")
        .alias("split"),
    )
    # one shuffle on (split, custkey); every later aggregate is a count
    # or sum over this distinct-by-construction frame
    per_cust = o.groupBy("split", "o_custkey").agg(
        F.count("*").alias("n_o"), F.sum("cents").alias("c")
    )
    leaky = (
        per_cust.groupBy("o_custkey")
        .agg(F.count("*").alias("ns"))  # rows are distinct splits already
        .filter(F.col("ns") == 2)
        .select("o_custkey", F.lit(True).alias("leaky"))
    )
    j = per_cust.join(F.broadcast(leaky), "o_custkey", "left").withColumn(
        "leaky", F.coalesce(F.col("leaky"), F.lit(False))
    )
    return (
        j.groupBy("split")
        .agg(
            F.sum("n_o").alias("n_orders"),
            F.count("*").alias("n_customers"),
            F.sum("c").alias("rev_cents"),
            F.sum(F.when(F.col("leaky"), F.col("n_o")).otherwise(F.lit(0))).alias(
                "n_leaked_orders"
            ),
            F.sum(F.col("leaky").cast("long")).alias("n_leaky_customers"),
        )
        .orderBy("split")
    )
