"""Round-11 wave tests (Y74 composed IVF-PQ, Z76 incremental corpus
build): the side contracts the value oracles cannot see — recall against
the exact and cell-exact baselines, batch/incremental manifest equality
on the ENGINE side, state layout, plan shapes.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from debias_spark.registry import load_all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def specs():
    return load_all_queries()


def _pairsets(rows):
    d: dict[int, set[int]] = {}
    for qid, cid in rows:
        d.setdefault(qid, set()).add(cid)
    return d


@pytest.fixture(scope="module")
def ivfpq_rows(spark, specs):
    return specs["similarity_ann_ivfpq"].fn(spark, SF).collect()


def test_ivfpq_structure(spark, specs, ivfpq_rows):
    from debias_spark.operators.similarity import assign_cell, ivf_pinned_centroids
    from debias_spark.queries.llm_ops36 import _IVF_DIM, _IVF_K, _SCORE_ROUND

    per_q: dict[int, list[int]] = {}
    for r in ivfpq_rows:
        per_q.setdefault(r.query_id, []).append(r.cand_id)
        assert r.query_id != r.cand_id
        assert r.ad_e4 >= 0, r
        assert -1.0 <= r.sim <= 1.0, r
    assert set(per_q) == set(range(10))  # every probe answered
    for qid, cands in per_q.items():
        assert 1 <= len(cands) <= 3 and len(set(cands)) == len(cands), (qid, cands)
    # every candidate shares the query's IVF cell (the coarse-probe law)
    from debias_spark.catalog import table

    cents = ivf_pinned_centroids(_IVF_K, _IVF_DIM)
    cells = {
        r.vec_id: r.cell
        for r in table(spark, SF, "embeddings")
        .select(
            "vec_id",
            assign_cell(F.col("embedding"), cents, score_round=_SCORE_ROUND).alias(
                "cell"
            ),
        )
        .collect()
    }
    for r in ivfpq_rows:
        assert cells[r.cand_id] == cells[r.query_id], r


def test_ivfpq_recall_floors(spark, specs, ivfpq_rows):
    """The quality contract (r10 verdict item 7): the composed search
    must recover most of the cell-exact (Y5b) top-3, and its recall
    against the UNRESTRICTED exact top-3 must not trail the cell-exact
    ceiling by more than the PQ shortlist can honestly lose.  Measured
    at this SF: 28/30 vs Y5b, 23/30 vs exact (= Y5b's own ceiling)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF}/embeddings.parquet')"
    )
    exact = _pairsets(
        con.execute(
            """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            p AS (SELECT vec_id AS query_id, v AS q FROM e WHERE vec_id < 10)
            SELECT query_id, cand_id FROM (
              SELECT p.query_id, e.vec_id AS cand_id,
                     row_number() OVER (
                         PARTITION BY p.query_id
                         ORDER BY list_cosine_similarity(p.q, e.v) DESC,
                                  e.vec_id) AS rn
              FROM p JOIN e ON e.vec_id <> p.query_id
            ) WHERE rn <= 3
            """
        ).fetchall()
    )
    ivfpq = _pairsets([(r.query_id, r.cand_id) for r in ivfpq_rows])
    y5b = _pairsets(
        [
            (r.query_id, r.cand_id)
            for r in specs["similarity_ann_ivf_pinned"].fn(spark, SF).collect()
        ]
    )
    n = sum(len(v) for v in exact.values())
    vs_exact = sum(len(exact[q] & ivfpq.get(q, set())) for q in exact)
    vs_y5b = sum(len(y5b[q] & ivfpq.get(q, set())) for q in y5b)
    y5b_ceiling = sum(len(exact[q] & y5b.get(q, set())) for q in exact)
    # PQ shortlist recovers nearly all of the cell-exact answer...
    assert vs_y5b >= 0.8 * sum(len(v) for v in y5b.values()), (vs_y5b, y5b)
    # ...and the end-to-end recall is within 15% of the cell ceiling
    assert vs_exact >= y5b_ceiling - 0.15 * n, (vs_exact, y5b_ceiling, n)


def test_ivfpq_plan_is_expression_level(spark, specs):
    from debias_spark.plans import executed_plan, join_strategies

    df = specs["similarity_ann_ivfpq"].fn(spark, SF)
    phys = executed_plan(df)
    # no Python anywhere: cells, codes, LUT, AD, rerank are expressions
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys
    assert "MapInPandas" not in phys and "FlatMapGroupsInPandas" not in phys
    joins = join_strategies(df)
    assert "CartesianProduct" not in joins
    assert "BroadcastNestedLoopJoin" not in joins, joins
    # probes/LUT/rerank sides all arrive broadcast; the corpus never
    # shuffles for a join (encode is a literal-codebook projection)
    assert set(joins) == {"BroadcastHashJoin"}, joins


def test_incremental_corpus_build_equals_batch(spark, specs):
    """Batch (Z75) and incremental (Z76) corpus builds must produce the
    IDENTICAL manifest — the engine-side twin of the shared-oracle proof
    (corpora arrive, they are not rebuilt)."""
    batch = sorted(
        map(tuple, specs["pipeline_corpus_build"].fn(spark, SF).collect())
    )
    incr = sorted(
        map(
            tuple,
            specs["pipeline_corpus_build_incremental"].fn(spark, SF).collect(),
        )
    )
    assert incr == batch


def test_incremental_corpus_build_state_layout(spark, specs):
    from debias_spark.warehouse import scratch_dir

    out = specs["pipeline_corpus_build_incremental"].fn(spark, SF).collect()
    assert out, "empty manifest"
    # one manifest row per pack shard: shard-aligned drops never split one
    shards = [r.shard for r in out]
    assert len(shards) == len(set(shards))
    band_dir = scratch_dir(spark, SF, "z76_bands")
    dg_dir = scratch_dir(spark, SF, "z76_digests")
    # band state is hive-partitioned by band_id (probe reads prune)
    bands = {os.path.basename(p) for p in glob.glob(band_dir + "/band_id=*")}
    assert bands == {f"band_id={b}" for b in range(4)}
    # digest state covers every exact-KEPT doc exactly once
    dgs = spark.read.parquet(dg_dir)
    assert dgs.count() == dgs.distinct().count()
    # signature evidence lives ON the band rows (kept AND near-dup-
    # dropped exact survivors); the standalone z76_sigs state was a dead
    # write, removed in r14
    band_rows = spark.read.parquet(band_dir)
    assert "h0" in band_rows.columns and band_rows.count() > 0
    assert not os.path.isdir(scratch_dir(spark, SF, "z76_sigs"))


def test_incremental_corpus_build_shares_batch_oracle(specs):
    # the equivalence claim is structural: BOTH keys register the SAME
    # oracle string, so the driver proves increments == one-shot build
    assert (
        specs["pipeline_corpus_build_incremental"].oracle
        == specs["pipeline_corpus_build"].oracle
    )
    assert specs["pipeline_corpus_build"].oracle  # and it is a real oracle


def test_incremental_corpus_build_restores_shuffle_conf(spark, specs):
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    specs["pipeline_corpus_build_incremental"].fn(spark, SF).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions", None) == prev
