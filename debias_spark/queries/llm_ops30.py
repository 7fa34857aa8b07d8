"""Round-8 wave 3 (Y64): per-document importance resampling — weighted
acceptance by deterministic hash, the data-curation step between quality
SCORING (Y1/H10c) and corpus packing.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no corpus surface; extension per SURVEY §2.H (completes the sampling
family: Y10 splits by key arithmetic, X60-class caps per source, Y53
tempers SOURCE mixtures — this key weights acceptance PER DOCUMENT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.dedup import h60, minhash_ctes_duck
from debias_spark.registry import register

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


def _crosssource_oracle(num_hashes: int = 32, bands: int = 4) -> str:
    """DuckDB replay: the H9 pair pipeline joined to document sources,
    rolled up as an unordered source x source duplication matrix."""
    ctes, jac = minhash_ctes_duck(num_hashes, bands)
    return f"""
    WITH {ctes}, pairs AS (
        SELECT c.id, c.rep_id
        FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
        WHERE {jac} >= 0.8
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN da.source <> db.source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id
    JOIN documents db ON db.doc_id = p.rep_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@register(
    "docs_dup_crosssource_matrix",
    "Y65",
    # bench=False for the H9e/Y61 reason: the key re-runs the full
    # minhash pair pipeline the bench already prices via H9
    bench=False,
    oracle=_crosssource_oracle(),
)
def docs_dup_crosssource_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the data-governance rollup over
    the H9 near-dup pair graph: for every unordered source pair, how
    many near-duplicate pairs connect them (and how many cross the
    source boundary).  WITHIN-source duplication means a crawler is
    re-fetching; CROSS-source duplication means two upstream feeds
    overlap and one can be dropped — the decision this matrix feeds in a
    real corpus pipeline.  Source pair is normalized with least/greatest
    so the matrix is triangular regardless of which side the pair
    pipeline chose as representative.

    Scale shape: pairs come from the banded-LSH pipeline (never
    all-pairs); the source lookup is two hash joins on doc_id (broadcast
    while doc->source fits, shuffle joins beyond); the matrix itself is
    source-cardinality-squared bounded (tiny)."""
    docs = table(spark, sf_dir, "documents")
    from debias_spark.operators.dedup import minhash_dedup

    pairs = minhash_dedup(docs, "doc_id", "text", shingle_n=1, threshold=0.8)
    src = docs.select("doc_id", "source")
    j = (
        pairs.join(src.withColumnRenamed("source", "sa"), pairs["id"] == src["doc_id"])
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "sb"),
            F.col("rep_id") == src["doc_id"],
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            (F.col("sa") != F.col("sb")).cast("long").alias("x"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"), F.sum("x").alias("n_cross"))
        .orderBy("source_a", "source_b")
    )
