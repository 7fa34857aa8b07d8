"""Round-13 wave 1 (Y78): post-tombstone index compaction — closing the
index-maintenance triad (r12 verdict item 2).

Y75 absorbs inserts (per-drop appends into cell-partitioned state), Y77
masks deletes at read time (merge-on-read anti-join), Z73 compacts
append-only state — but nobody proved compaction AFTER deletes: the
rewrite that physically drops the tombstoned rows and merges the small
per-drop files, after which the deletion vector can be retired.  This
key builds the fragmented state, applies the Y77 tombstone mask,
REWRITES the inverted lists (one shuffle on the cell key, one file per
cell out), asserts the rewrite really compacted (strictly fewer parquet
files) and really dropped the masked rows (zero tombstoned ids in the
readback; live set otherwise exactly preserved, exceptAll both ways),
then runs Y74's search verbatim over the COMPACTED state under Y77's
oracle — so the driver hash-proves compacted-index search == search
over a corpus that never contained the deleted vectors.

The per-drop state is staged as four id-range BATCH appends (narrow
shuffle width, several part files per cell partition per drop — the
streaming small-file failure mode), not another availableNow drain:
Y75 already proves the drain path end-to-end, and re-paying its
orchestration fixed cost here would buy no additional semantics
(r12 verdict item 1).

Reference parity: the reference re-runs its whole program per
invocation (call-debias.py:177-196); no vector surface exists there —
north-star extension per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debias_spark.catalog import table
from debias_spark.operators.dedup import minhash_ctes_duck
from debias_spark.operators.similarity import (
    IVF_K,
    TOMB_DUCK,
    ivfpq_oracle,
    ivfpq_search,
    pq_codebook,
    pq_index_frame,
    tombstoned,
)
from debias_spark.registry import register
from debias_spark.streaming.incremental import id_range_slices, narrow_shuffle
from debias_spark.warehouse import count_parquet_files, fresh_scratch_dirs

# two drops (the r13 family-wide drop-count discipline): fragmentation
# for the strictly-fewer-files proof needs >= 2 appends per cell (8
# narrow-shuffle tasks x 2 appends leave multiple files per cell)
_N_DROPS = 2


@register(
    "similarity_ann_ivfpq_compacted",
    "Y78",
    oracle=ivfpq_oracle(where=TOMB_DUCK),
)
def similarity_ann_ivfpq_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search over a POST-TOMBSTONE COMPACTED index: the state
    that accumulated per-drop appends (Y75's inverted-list layout) and
    a deletion vector (Y77's pinned tombstone set) is rewritten so the
    masked rows are physically gone and each cell's inverted list is
    one file again — after which the tombstone set can be retired and
    reads stop paying the anti-join.

    Proof obligations, all raised in-key (must survive -O is NOT
    assumed: these are RuntimeErrors, not asserts):
      * the rewrite COMPACTED: strictly fewer parquet files than the
        fragmented pre-state (``_N_DROPS`` appends x narrow shuffle
        width leave several files per cell partition);
      * the rewrite DELETED: zero tombstoned vec_ids in the readback,
        row count == live count, and the live frame is exactly
        preserved (exceptAll in both directions — no row lost beyond
        the masked ones, none duplicated, none altered);
      * the SEARCH is unchanged: registered with Y77's oracle string,
        so the driver hash-proves compacted == masked == a corpus
        that never held the deleted vectors (no ghost candidates).

    Scale shape: compaction reads the NARROW index rows (vec_id, nrm,
    8 codes — never the 64 doubles), shuffles once on the cell key,
    writes one file per cell; cost is O(index), independent of corpus
    text/vector payload.  At 100 TB this is the per-shard background
    rewrite that retires deletion-vector bitmaps (the lakehouse
    merge-on-read -> copy-on-write handoff), run per cell-partition
    range; the exceptAll pair here pins the per-partition content
    digest that job would compare."""
    emb = table(spark, sf_dir, "embeddings")
    book = pq_codebook(emb)

    idx_dir, compact_dir = fresh_scratch_dirs(spark, sf_dir, "y78_state", "y78_compact")

    # fixture staging: _N_DROPS id-range batch appends, narrow shuffle
    # width so each append leaves several files per cell
    slices = id_range_slices(emb, "vec_id", _N_DROPS)
    if len(slices) < 2:
        raise RuntimeError(
            f"vec_id-range staging produced {len(slices)} drop(s); the "
            "corpus is too small to exercise post-append compaction"
        )
    with narrow_shuffle(spark, 8):
        for batch in slices:
            # each drop indexes itself: pure projection, no state read
            pq_index_frame(batch, book).write.mode("append").partitionBy(
                "cell"
            ).parquet(idx_dir)

    files_before = count_parquet_files(idx_dir)
    state = spark.read.parquet(idx_dir)
    tombs = emb.select("vec_id").filter(tombstoned(F.col("vec_id")))
    live = state.join(F.broadcast(tombs), "vec_id", "anti")

    # THE COMPACTION REWRITE: one shuffle on the inverted-list key, one
    # file per cell out; masked rows are dropped by the anti-join ABOVE
    # the write, so they never reach the new files
    live.repartition(IVF_K, "cell").write.partitionBy("cell").parquet(compact_dir)
    files_after = count_parquet_files(compact_dir)
    if files_after >= files_before:
        raise RuntimeError(
            f"compaction did not shrink the file count: {files_before} -> "
            f"{files_after}"
        )

    comp = spark.read.parquet(compact_dir)
    cols = ["vec_id", "nrm", "cell", "codes"]
    # deletion proof + preservation proof (one pass each way; narrow rows)
    g = comp.agg(
        F.count("*").alias("n"),
        F.sum(tombstoned(F.col("vec_id")).cast("long")).alias("ghosts"),
    ).first()
    if g.ghosts:
        raise RuntimeError(
            f"compacted index still holds {g.ghosts} tombstoned row(s)"
        )
    missing = live.select(*cols).exceptAll(comp.select(*cols)).count()
    extra = comp.select(*cols).exceptAll(live.select(*cols)).count()
    if missing or extra:
        raise RuntimeError(
            f"compacted index differs from the live set: {missing} rows "
            f"lost, {extra} rows added"
        )

    return ivfpq_search(spark, emb, comp, book)


# ---------------------------------------------------------------------------
# Y79: duplicate-cluster token mass — the effective-dataset-size ledger
# ---------------------------------------------------------------------------

_TOK_DUCK = (
    r"CAST(CASE WHEN length(trim(text)) = 0 THEN 0"
    r" ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)"
)


def _cluster_token_mass_oracle() -> str:
    ctes, jac = minhash_ctes_duck(32, 4)
    return f"""
    WITH RECURSIVE {ctes}, verified AS MATERIALIZED (
        SELECT c.id AS id, c.rep_id AS rep_id
        FROM cand c JOIN sh a ON a.id = c.id JOIN sh b ON b.id = c.rep_id
        WHERE {jac} >= 0.8
    ), edges AS MATERIALIZED (
        SELECT id AS src, rep_id AS dst FROM verified
        UNION
        SELECT rep_id AS src, id AS dst FROM verified
    ), reach(node, r) AS (
        SELECT doc_id AS node, doc_id AS r FROM documents
        UNION
        SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r
    ), labeled AS (
        SELECT node AS id, min(r) AS cluster_id FROM reach GROUP BY node
    ), sizes AS (
        SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
    ), toks AS (
        SELECT doc_id AS id, {_TOK_DUCK} AS n_tok FROM documents
    )
    SELECT s.cluster_size,
           CAST(count(DISTINCT l.cluster_id) AS BIGINT) AS n_clusters,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t.n_tok) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN l.id = l.cluster_id THEN t.n_tok ELSE 0 END)
                AS BIGINT) AS effective_tokens
    FROM labeled l JOIN sizes s USING (cluster_id) JOIN toks t ON t.id = l.id
    GROUP BY s.cluster_size ORDER BY s.cluster_size
    """


# bench=False mirrors H9e dedup_clusters: the iterative closure's
# driver-controlled rounds are the measured cost and H9e already benches
# that machinery's family; correctness rides the sf0.01 value oracle
@register(
    "dedup_cluster_token_mass",
    "Y79",
    oracle=_cluster_token_mass_oracle(),
    bench=False,
)
def dedup_cluster_token_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-dataset-size ledger: raw vs DEDUPLICATED token mass per
    duplicate-cluster size.  Scaling-law work (Hernandez et al. 2022,
    "Scaling Laws and Interpretability of Learning from Repeated Data",
    public) treats repeated data as worth far less than its raw token
    count — the governance number a corpus owner needs is "how many of
    my tokens are duplicate mass, and in what cluster sizes does it
    hide".  This key joins the H9e connected-component labels (MinHash
    banding -> verified pairs -> min-label closure) with the H10d
    whitespace token counts and rolls up, per cluster size: cluster
    count, doc count, raw token mass, and effective token mass (the
    keep-one-per-cluster survivor policy, survivor = min-label doc).
    cluster_size=1 rows are the unduplicated mass (raw == effective);
    the gap at sizes >= 2 is exactly the token mass dedup reclaims.

    Scale shape: the cluster labels come from banded candidates (never
    all-pairs) and the iterative min-label closure (pointer jumping,
    O(log diameter) rounds); the token count is a per-row projection on
    the SAME documents scan pattern; the final rollup groups on
    cluster_size — a domain bounded by the largest dup family, so the
    aggregate is tiny.  At 100 TB this ledger is the per-ingest report
    that decides whether a source's marginal tokens are worth storing.

    Reference parity: none — the reference (SirHooke/debias-batch-
    processor) has no dedup surface; north-star extension per SURVEY
    §2.H9/H10."""
    from debias_spark.operators.dedup import duplicate_clusters, minhash_dedup
    from debias_spark.operators.text import whitespace_token_count

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", shingle_n=1, threshold=0.8)
    ids = docs.select(F.col("doc_id").alias("id"))
    labeled = duplicate_clusters(ids, pairs, id_col="id", pair_cols=("id", "rep_id"))
    toks = docs.select(
        F.col("doc_id").alias("id"),
        whitespace_token_count(F.col("text")).alias("n_tok"),
    )
    return (
        labeled.join(toks, "id")
        .groupBy("cluster_size")
        .agg(
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("raw_tokens"),
            F.sum(
                F.when(F.col("id") == F.col("cluster_id"), F.col("n_tok")).otherwise(
                    F.lit(0)
                )
            ).alias("effective_tokens"),
        )
        .orderBy("cluster_size")
    )
