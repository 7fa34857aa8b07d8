"""Round-7 wave 5 (Y55): next-fit-decreasing sequence packing — the
greedy context-window packer, per shard, with a recursive-SQL oracle
that replays every bin decision.

Reference parity: none — the reference (SirHooke/debias-batch-processor)
has no corpus surface; extension per SURVEY §2.H (Y6/Y7 family: Y6
chunks, Y7 offset-bins, Y55 packs GREEDILY by size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.dedup import word_tokens
from debias_spark.operators.packing import PACK_CAP as _CAP
from debias_spark.operators.packing import PACK_SHARD as _SHARD
from debias_spark.operators.packing import nfd_pack, nfd_pack_duck_ctes
from debias_spark.registry import register


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
