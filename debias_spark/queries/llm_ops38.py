"""Round-12 wave 1 (Y75): incremental IVF-PQ index maintenance — the
Y74 x Z76 composition (r11 verdict item 3).

Y74 searches a statically-built index; a 100 TB corpus's index must
absorb arriving drops WITHOUT a rebuild (the same argument Z76 makes for
the corpus build).  This key maintains the index incrementally: each
arriving drop of vectors is assigned its IVF cell and PQ codes (the
pq_index_frame projection — zero shuffles) and APPENDED to persisted
index state, hive-partitioned by cell exactly the way a real IVF index
stores inverted lists; the search then runs Y74's ivfpq_search verbatim
over the accumulated state.

Because an index absorbs drops and is not rebuilt, static and
incremental builds must agree bit-for-bit: this key registers the
IDENTICAL oracle as Y74 (operators.similarity.ivfpq_oracle()), whose
hash proves that the per-drop state appends reproduce the one-shot
search exactly.

Reference parity: the reference re-runs its whole program per
invocation (call-debias.py:177-196); no vector surface exists there —
north-star extension per SURVEY §2.H.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.similarity import (
    PQ_CODES,
    TOMB_DUCK,
    ivfpq_oracle,
    ivfpq_search,
    pq_codebook,
    pq_index_frame,
    tombstoned,
)
from debias_spark.streaming import drain_file_drops, narrow_shuffle
from debias_spark.registry import register
from debias_spark.warehouse import (
    fresh_scratch_dirs,
    id_range_bounds,
    stage_single_file_drop,
)

# TWO drops, not four (r12 verdict item 1): incremental maintenance
# needs state to exist when a later drop appends (>= 2); each extra
# drop re-pays micro-batch scheduling + an append job without proving
# anything two did not (the per-drop projection is state-independent)
_N_DROPS = 2


@register("similarity_ann_ivfpq_incremental", "Y75", oracle=ivfpq_oracle())
def similarity_ann_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over an INCREMENTALLY-MAINTAINED index: the corpus
    arrives as two vec_id-ordered drops (availableNow file stream, one
    file per micro-batch, oldest-first); each drop's refresh runs the
    pq_index_frame projection — norm, pinned-centroid cell, 8 PQ codes;
    a pure per-row expression, so a drop needs NO shuffle and NO look at
    prior state to index itself — and appends the narrow (vec_id, nrm,
    codes) rows to state partitioned by cell (the inverted-list layout:
    a real IVF search lists only the probed cells' partitions).  The
    pinned codebook (first 16 vectors) and centroids are static index
    artifacts by contract, collected once before the drain.

    The search half is Y74's ivfpq_search, verbatim, over the state
    readback — registered with Y74's oracle string so the driver
    hash-proves incremental == static.  A readback guard asserts one
    state row per vec_id (an append that double-indexed a drop, or a
    drop that skipped indexing, would break search correctness
    silently otherwise).

    Scale shape: per drop the ONLY work is one scan of the drop itself
    (encode is a literal-codebook projection; 10 bytes/vector of state
    appended); search cost is independent of how many drops built the
    index.  At 100 TB the state appends become MERGE INTO a
    transactional table keyed vec_id, and compaction of small per-drop
    files within a cell partition is the Z73 operation."""
    emb = table(spark, sf_dir, "embeddings")
    # static index artifacts, built once (bounded by their own contracts)
    book = pq_codebook(emb)

    src_dir, idx_dir, ckpt_dir = fresh_scratch_dirs(
        spark, sf_dir, "y75_src", "y75_index", "y75_ckpt"
    )
    os.makedirs(src_dir)

    # stage _N_DROPS vec_id-ordered drops; the codebook contract
    # (vec_id < PQ_CODES present) rides in the first drop
    bounds = id_range_bounds(emb, "vec_id", _N_DROPS)
    t0 = time.time() - 3600
    for i in range(len(bounds) - 1):
        part = emb.filter(
            (F.col("vec_id") >= bounds[i]) & (F.col("vec_id") < bounds[i + 1])
        )
        stage_single_file_drop(part, src_dir, f"drop{i}.parquet", mtime=t0 + 60 * i)
    if len(bounds) - 1 < 2:
        raise RuntimeError(
            f"vec_id-range staging produced {len(bounds) - 1} drop(s); the "
            "corpus is too small to exercise incremental index maintenance"
        )

    def refresh(batch: DataFrame, batch_id: int) -> None:
        # the drop indexes itself: pure projection, no state read, no
        # shuffle; append lands under the cell's inverted-list partition
        pq_index_frame(batch, book).write.mode("append").partitionBy(
            "cell"
        ).parquet(idx_dir)

    with narrow_shuffle(spark, 8):
        batches = drain_file_drops(spark, emb.schema, src_dir, ckpt_dir, refresh)
    if len(batches) < 2:
        raise RuntimeError(
            f"similarity_ann_ivfpq_incremental drained in {len(batches)} "
            "micro-batch(es); incremental maintenance was not exercised"
        )

    index = spark.read.parquet(idx_dir)
    # readback guard (the shard-uniqueness doctrine), ONE aggregate job:
    # exactly one index row per vector (a drop that double-indexed or
    # skipped indexing would corrupt search silently) and the
    # codebook-contract vectors all present
    g = index.agg(
        F.count("*").alias("n"),
        F.count_distinct("vec_id").alias("nd"),
        F.sum((F.col("vec_id") < PQ_CODES).cast("long")).alias("ncb"),
    ).first()
    if g.n == 0 or g.n != g.nd:
        raise RuntimeError(
            f"incremental IVF-PQ state is corrupt: {g.n} rows, {g.nd} "
            "distinct vec_ids (must be equal and non-zero)"
        )
    if g.ncb < PQ_CODES:
        raise RuntimeError(
            "incremental IVF-PQ state is missing codebook-contract vectors"
        )
    return ivfpq_search(spark, emb, index, book)


# ---------------------------------------------------------------------------
# Y77: tombstone deletes — the third leg of index maintenance
# ---------------------------------------------------------------------------


@register(
    "similarity_ann_ivfpq_tombstone",
    "Y77",
    oracle=ivfpq_oracle(where=TOMB_DUCK),
)
def similarity_ann_ivfpq_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search under TOMBSTONE DELETES — the removal half of index
    maintenance (Y75 absorbs inserts; a training corpus also sheds
    documents: takedowns, licensing expiry, right-to-be-forgotten).  The
    deletion is merge-on-read, the lakehouse deletion-vector shape: data
    files and the index build are untouched; a small tombstone set
    (every 97th vector above the codebook range — a pinned request,
    spelled identically in the oracle) anti-joins the index rows at read
    time, and Y74's ivfpq_search runs verbatim over the masked index.
    The oracle is the Y74 search over the corpus WITHOUT the tombstoned
    rows, so the hash proves masked-index search == search over a
    corpus that never contained the deleted vectors: no ghost
    candidates, no recall borrowed from deleted neighbors.

    Scale shape: the tombstone side is an operationally-bounded delete
    request (broadcast by that contract); the anti-join adds ZERO
    exchanges to the search; vectors stay in storage (probes and the
    shortlist re-read them by id, and a deleted id can never reach the
    shortlist because it has no index row).  At 100 TB this is a
    deletion-vector bitmap per index shard, compacted away by the Z73
    rewrite when tombstones accumulate."""
    emb = table(spark, sf_dir, "embeddings")
    book = pq_codebook(emb)
    index = pq_index_frame(emb, book).localCheckpoint(eager=True)
    tombs = emb.select("vec_id").filter(tombstoned(F.col("vec_id")))
    live = index.join(F.broadcast(tombs), "vec_id", "anti")
    return ivfpq_search(spark, emb, live, book)
