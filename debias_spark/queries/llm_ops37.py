"""Round-11 wave 1 (Y74): the composed IVF-PQ ANN search — the
production ANN shape at 100 TB (r10 verdict item 7).

Y41 builds PQ codebook assignments and Y5b proves the pinned-centroid
IVF probe math; this key CHAINS them into the search a real vector index
runs (Jegou et al. 2011, "Product Quantization for Nearest Neighbor
Search", public):

    coarse IVF probe (pinned centroids, cell-equi candidate join)
 -> PQ asymmetric-distance rerank (per-query lookup table over the
    pinned codebook; candidates are scored from their 8 CODES, never
    their 64 floats)
 -> exact cosine top-k on the short list only.

No reference citation: the reference (SirHooke/debias-batch-processor)
has no vector surface; north-star extension per SURVEY §2.H.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from debias_spark.catalog import table
from debias_spark.operators.similarity import (
    ivfpq_oracle,
    ivfpq_search,
    pq_codebook,
    pq_index_frame,
)
from debias_spark.registry import register


@register("similarity_ann_ivfpq", "Y74", oracle=ivfpq_oracle())
def similarity_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ search: coarse probe -> PQ asymmetric-distance
    shortlist -> exact top-k rerank, every stage the SHARED math of the
    key that pins it standalone.

    1. COARSE (Y5b): cell = argmax_j (v . c_j - |c_j|^2 / 2) over the
       PINNED centroids, scores rounded to 6 decimals before the argmax
       in both engines; candidates come from the query's cell only
       (cell-equi join, never all-pairs).
    2. PQ ENCODE (Y41's assignment, richer book): each vector's 8
       subvectors of 8 dims assign to the nearest of 16 pinned codebook
       entries (first-16-vectors doctrine, 4 bits x 8 subspaces = a
       64-BIT code) by floor-e4 squared L2, ties to the lowest code.
       The candidate side of the search carries ONLY (cand_id, j,
       code) — 8 small ints instead of 64 floats, the memory cut that
       makes a 100 TB corpus's index RAM-resident.
    3. ASYMMETRIC DISTANCE: per query, a 128-row lookup table (8
       subspaces x 16 codes, floor-e4 ints) scores every cell-mate from
       its codes alone; integer sums, so the rerank is exact
       cross-engine with no float drift.  Top-32 shortlist by (ad_e4,
       cand_id) — at sf0.001 this recovers the cell-exact (Y5b) top-3
       at 28/30 and ties Y5b's recall vs unrestricted exact top-3
       (23/30), see tests/test_round11_wave.py.
    4. EXACT RERANK: rounded cosine against the shortlist's real
       vectors only; top-3 with cand_id tiebreak.  Output keeps ad_e4
       so the oracle hash proves the PQ arithmetic, not just the final
       ordering.

    Scale shape: ONE corpus scan assigns norm, cell AND codes — the
    codebook is collected once by pinned-index contract (16 rows) and
    inlined as literals, so the encode is a pure projection with zero
    shuffles (the same move ivf_pinned_centroids makes for the coarse
    level).  The checkpointed frame is the NARROW index row (vec_id,
    nrm, cell, codes) — 8 small ints + 2 scalars, never the 64 doubles
    (r11 verdict: the eager full-vector checkpoint drove a 2.4x bench
    band under co-tenant memory pressure).  Probes and the per-query
    LUT broadcast; the only corpus-side exchange in the whole search is
    the (query, cand) AD aggregate over the matched cell-mates, which
    map-side combines; full vectors are re-read from the source for
    probe rows and the _PQ_SHORT-row shortlist only, behind pinned
    F.broadcast joins.  At 100 TB the codes table IS the index —
    64 bits/vector — and this plan reads full vectors for _PQ_SHORT rows
    per query regardless of corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    book = pq_codebook(emb)
    index = pq_index_frame(emb, book).localCheckpoint(eager=True)
    return ivfpq_search(spark, emb, index, book)
