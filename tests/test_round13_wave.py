"""Round-13 wave tests (Y78 post-tombstone index compaction): the
engine-side contracts the shared value oracle cannot see — equality
with the merge-on-read (tombstone-masked) search, physical absence of
tombstoned rows from the compacted files, and the compacted layout
really being one-file-per-cell.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from debias_spark.registry import load_all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def specs():
    return load_all_queries()


@pytest.fixture(scope="module")
def compacted_rows(spark, specs):
    return specs["similarity_ann_ivfpq_compacted"].fn(spark, SF).collect()


def test_compacted_equals_tombstone_masked(spark, specs, compacted_rows):
    """Searching the physically-compacted index must reproduce the
    merge-on-read masked search bit-for-bit — the engine-side twin of
    the shared Y77 oracle proof (compaction retires the deletion
    vector; it must not change a single answer)."""
    masked = sorted(
        map(tuple, specs["similarity_ann_ivfpq_tombstone"].fn(spark, SF).collect())
    )
    assert sorted(map(tuple, compacted_rows)) == masked
    assert compacted_rows  # and the search is not vacuously empty


def test_compacted_state_layout_and_deletion(spark, specs, compacted_rows):
    """The compacted dir (left on disk by the key) must hold at most one
    parquet file per cell partition and zero tombstoned vec_ids — the
    physical claims behind 'the deletion vector can be retired'."""
    from debias_spark.queries.llm_ops37 import _PQ_CODES
    from debias_spark.queries.llm_ops38 import _TOMB_MOD, _TOMB_REM
    from debias_spark.warehouse import scratch_dir

    compact_dir = scratch_dir(spark, SF, "y78_compact")
    assert os.path.isdir(compact_dir), compact_dir
    cell_dirs = glob.glob(os.path.join(compact_dir, "cell=*"))
    assert cell_dirs
    for d in cell_dirs:
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(parts) == 1, (d, parts)
    comp = spark.read.parquet(compact_dir)
    ghosts = comp.filter(
        (F.col("vec_id") % _TOMB_MOD == _TOMB_REM) & (F.col("vec_id") >= _PQ_CODES)
    ).count()
    assert ghosts == 0
    # the fixture really deleted something (otherwise the key proves nothing)
    n_emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet")).count()
    assert comp.count() < n_emb


def test_cluster_token_mass_conserves_corpus(spark, specs):
    """The ledger must CONSERVE the corpus: docs and raw tokens summed
    over all cluster sizes equal the whole corpus's, effective <= raw
    everywhere with equality exactly at cluster_size 1, and every
    cluster contributes exactly one survivor."""
    from debias_spark.operators.text import whitespace_token_count

    rows = specs["dedup_cluster_token_mass"].fn(spark, SF).collect()
    assert rows
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    n_docs = docs.count()
    total_tok = docs.select(
        F.sum(whitespace_token_count(F.col("text"))).alias("t")
    ).first().t
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.raw_tokens for r in rows) == total_tok
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        if r.cluster_size == 1:
            assert r.effective_tokens == r.raw_tokens
        else:
            assert r.effective_tokens <= r.raw_tokens
    assert any(r.cluster_size >= 2 for r in rows)  # the fixture has dups


# ---------------------------------------------------------------------------
# r13 optimization: Arrow-vectorized PQ encode == the expression spec
# ---------------------------------------------------------------------------


def test_pq_codes_vectorized_matches_expression_spec(spark):
    """pq_index_frame's hot path encodes PQ codes via the Arrow/numpy
    batch kernel (guide §4.2); pq_codes_expr is the Catalyst-expression
    spec it must match VALUE-FOR-VALUE — the numpy kernel accumulates
    the squared distance left-to-right over the 8 dims precisely so the
    floor-e4 boundary behavior is bit-identical to the expression fold
    (and to the DuckDB oracle)."""
    from debias_spark.catalog import table
    from debias_spark.queries.llm_ops37 import (
        pq_codebook,
        pq_codes_expr,
        pq_codes_vectorized,
    )

    emb = table(spark, SF, "embeddings")
    book = pq_codebook(emb)
    old = emb.select("vec_id", pq_codes_expr(book).alias("codes"))
    new = emb.select(
        "vec_id", pq_codes_vectorized(book)("embedding").alias("codes")
    )
    j = old.alias("o").join(new.alias("n"), "vec_id")
    assert j.count() == emb.count()
    assert j.filter(F.expr("o.codes <> n.codes")).count() == 0


# ---------------------------------------------------------------------------
# r13 optimization: semi-join EXISTS near-dup screen == the pair-join chain
# ---------------------------------------------------------------------------


def test_band_dropped_ids_matches_pair_join_chain(spark):
    """band_dropped_ids (ONE left-semi EXISTS over sig-bearing band rows)
    must drop exactly the ids the old band_candidates -> sig-join ->
    26-of-32 filter chain dropped — the predicate is identical ("exists
    an earlier doc colliding in >= 1 band with >= 26/32 matching
    signature components"), only the plan shape changed (no pair
    materialization, no O(pairs) distinct, no sig re-join)."""
    from debias_spark.catalog import table
    from debias_spark.operators.dedup import (
        bands_from_sig,
        bands_from_sig_keep_sig,
        minhash_sig_wide,
        word_shingles,
    )
    from debias_spark.queries.pipeline_e2e2 import (
        _EST_MIN_MATCHES,
        _NB,
        _NH,
        band_candidates,
        band_dropped_ids,
    )

    docs = table(spark, SF, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    sig = minhash_sig_wide(sh, _NH).localCheckpoint(eager=True)

    banded = bands_from_sig(sig, _NH, _NB)
    idx = banded.select(
        F.col("id").alias("j"),
        F.col("band_id").alias("j_band"),
        F.col("band_hash").alias("j_hash"),
    )
    cand = band_candidates(banded, idx)
    jside = sig.select(
        F.col("id").alias("j"), *[F.col(f"h{k}").alias(f"g{k}") for k in range(_NH)]
    )
    mt = " + ".join(
        f"(CASE WHEN h{k} = g{k} THEN 1 ELSE 0 END)" for k in range(_NH)
    )
    old = {
        r.id
        for r in cand.join(sig, "id")
        .join(jside, "j")
        .filter(F.expr(f"({mt}) >= {_EST_MIN_MATCHES}"))
        .select("id")
        .distinct()
        .collect()
    }

    kb = bands_from_sig_keep_sig(sig, _NH, _NB)
    new = {r.id for r in band_dropped_ids(kb, kb).collect()}
    assert new == old and new  # non-empty at test SF


def test_band_dropped_ids_salted_identical(spark, monkeypatch):
    """The salted semi path (budget 1 forces r >= 2) must equal the plain
    semi path bit-for-bit: probe rows salt by hash(id), index rows
    explode across the shards, every (probe, index) row pair still meets
    exactly once so EXISTS is preserved."""
    import debias_spark.queries.pipeline_e2e2 as mod
    from debias_spark.catalog import table
    from debias_spark.operators.dedup import (
        bands_from_sig_keep_sig,
        minhash_sig_wide,
        word_shingles,
    )

    docs = table(spark, SF, "documents")
    sh = docs.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text"), 1).alias("sh")
    ).filter(F.size("sh") > 0)
    kb = bands_from_sig_keep_sig(
        minhash_sig_wide(sh, mod._NH), mod._NH, mod._NB
    ).localCheckpoint(eager=True)
    plain = {r.id for r in mod.band_dropped_ids(kb, kb).collect()}
    assert mod.LAST_SALT_R == 1
    monkeypatch.setattr(mod, "_SALT_BUDGET", 1)
    salted = {r.id for r in mod.band_dropped_ids(kb, kb).collect()}
    assert mod.LAST_SALT_R >= 2
    assert salted == plain


# ---------------------------------------------------------------------------
# r13 optimization: scale-adaptive map-stage fan-out
# ---------------------------------------------------------------------------


def test_fan_out_spreads_and_noops(spark):
    """fan_out must repartition a narrow-scan frame up to the session's
    default parallelism (single-row-group test files scan as ONE
    partition, serializing every map chain above them) and must be a
    NO-OP — no added exchange — when the frame is already at least that
    wide (the production case).  Row multiset unchanged either way."""
    from debias_spark.catalog import table
    from debias_spark.operators.skew import fan_out

    docs = table(spark, SF, "documents").select("doc_id", "lang")
    assert docs.rdd.getNumPartitions() == 1  # the fixture premise
    fanned = fan_out(docs)
    dp = spark.sparkContext.defaultParallelism
    assert fanned.rdd.getNumPartitions() == dp
    assert fanned.count() == docs.count()
    assert sorted(map(tuple, fanned.collect())) == sorted(map(tuple, docs.collect()))
    wide = docs.repartition(dp + 3)
    assert fan_out(wide) is wide  # no-op: the same frame, no new exchange


def test_fan_out_gate_reads_plan_nodes_not_plan_text(spark):
    """The shuffle gate walks the analyzed plan's node names: a column
    aliased `Join` or a literal 'Sorted' is plan TEXT, not a shuffle
    node, and must not switch the fan-out off; a real join still does."""
    from debias_spark.catalog import table
    from debias_spark.operators.skew import fan_out

    docs = table(spark, SF, "documents").select("doc_id", "lang")
    for frame in (
        docs.select(F.col("doc_id").alias("Join"), "lang"),
        docs.withColumn("tag", F.lit("Sorted")),
    ):
        fanned = fan_out(frame)
        assert fanned is not frame
        plan = fanned._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in plan, plan
    joined = docs.join(docs.select("doc_id"), "doc_id")
    assert fan_out(joined) is joined
