"""Round-7 wave 15 (Y61): keep-best dedup representative selection —
the quality-aware survivor policy over near-duplicate clusters.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no dedup surface; extension per SURVEY §2.H (H9 family endgame:
H9 finds pairs, H9e closes clusters, Y61 picks WHICH copy survives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.dedup import (
    duplicate_clusters,
    minhash_clusters_oracle,
    minhash_dedup,
)
from debias_spark.registry import register


@register(
    "dedup_keep_best_quality",
    "Y61",
    # bench=False for the same reason as H9e: the key re-runs the full
    # minhash+components pipeline whose cost the bench already prices
    # via H9/H9e — benching it would double-count that pipeline
    bench=False,
    oracle=f"""
    SELECT b.cluster_id,
           CAST(b.cluster_size AS BIGINT) AS cluster_size,
           CAST(min(CASE WHEN rn = 1 THEN b.id END) AS BIGINT) AS keeper_id,
           CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
               AS keeper_n_chars,
           CAST(sum(n_chars) - min(CASE WHEN rn = 1 THEN n_chars END)
                AS BIGINT) AS dropped_chars
    FROM (
        SELECT c.id, c.cluster_id, c.cluster_size,
               CAST(d.n_chars AS BIGINT) AS n_chars,
               row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.id) AS rn
        FROM ({minhash_clusters_oracle()}) c
        JOIN documents d ON d.doc_id = c.id
        WHERE c.cluster_size > 1
    ) b
    GROUP BY b.cluster_id, b.cluster_size
    ORDER BY b.cluster_id
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor selection: within every near-dup
    cluster (the H9e connected components), keep the HIGHEST-QUALITY
    copy (longest document, doc_id tiebreak) instead of H9e's keep-
    min-id — the policy real pipelines use, because near-duplicates are
    usually truncations/boilerplate variants and the longest copy
    preserves the most content.  Emits per dup cluster the keeper and
    the characters dedup discards (the corpus-size accounting the
    pipeline reports).

    Scale shape: clusters come from the banded-LSH pair graph + pointer-
    jumping components (never all-pairs); the keeper argmax is a struct
    max per cluster — map-side combined, no window over raw docs."""
    docs = table(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", shingle_n=1, threshold=0.8)
    ids = docs.select(F.col("doc_id").alias("id"))
    clusters = duplicate_clusters(
        ids, pairs, id_col="id", pair_cols=("id", "rep_id")
    ).filter(F.col("cluster_size") > 1)
    j = clusters.join(
        docs.select(
            F.col("doc_id").alias("id"), F.col("n_chars").cast("long").alias("n_chars")
        ),
        "id",
    )
    # argmax by (n_chars desc, id asc) as a struct max (negated id makes
    # lexicographic max break ties toward the LOWEST id)
    agg = j.groupBy("cluster_id").agg(
        F.max("cluster_size").cast("long").alias("cluster_size"),
        F.max(F.struct("n_chars", (-F.col("id")).alias("nid"))).alias("b"),
        F.sum("n_chars").alias("tot_chars"),
    )
    return agg.select(
        "cluster_id",
        "cluster_size",
        (-F.col("b.nid")).cast("long").alias("keeper_id"),
        F.col("b.n_chars").cast("long").alias("keeper_n_chars"),
        (F.col("tot_chars") - F.col("b.n_chars")).cast("long").alias("dropped_chars"),
    ).orderBy("cluster_id")
