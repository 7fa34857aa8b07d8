"""Round-8 wave 1 tests (Y62, Z65): split/decontamination invariants and
the incremental refresh pipeline's side contracts (multi-batch drain,
partitioned sink layout, survivor uniqueness, conf restoration).
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


def test_split_decon_accounting_closes(spark, specs):
    rows = specs["docs_train_split_decontaminated"].fn(spark, SF).collect()
    assert rows, "empty accounting"
    for r in rows:
        assert r.n_docs == r.n_kept + r.n_removed, r
        if r.split != "train":
            # the screen only removes from train; eval splits pass whole
            assert r.n_removed == 0, r
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    total = sum(by_split.values())
    # 98/1/1 key-arithmetic split: exact at any SF because doc_ids are dense
    assert by_split.get("train", 0) >= 0.9 * total
    assert set(by_split) <= {"train", "val", "test"}


def test_split_decon_is_deterministic(spark, specs):
    fn = specs["docs_train_split_decontaminated"].fn
    a = sorted(map(tuple, fn(spark, SF).collect()))
    b = sorted(map(tuple, fn(spark, SF).collect()))
    assert a == b


def test_incremental_refresh_sink_layout_and_state(spark, specs):
    from debias_spark.warehouse import scratch_dir

    out = specs["pipeline_incremental_refresh"].fn(spark, SF).collect()
    assert out, "empty rollup"
    sink = scratch_dir(spark, SF, "z65_sink")
    state = scratch_dir(spark, SF, "z65_state")
    # partitioned sink: one lang=<x> directory per emitted lang row
    langs = {os.path.basename(p).split("=", 1)[1] for p in glob.glob(sink + "/lang=*")}
    assert langs == {r.lang for r in out}
    # survivor state: digest-unique (the dedup invariant the merge keeps)
    st = spark.read.parquet(state)
    assert st.count() == st.select("digest").distinct().count()
    # rollup conservation: survivors never exceed the corpus
    from debias_spark.catalog import table

    n_docs_total = table(spark, SF, "documents").count()
    assert sum(r.n_docs for r in out) <= n_docs_total


def test_incremental_refresh_restores_shuffle_conf(spark, specs):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key, None)
    specs["pipeline_incremental_refresh"].fn(spark, SF).collect()
    assert spark.conf.get(key, None) == before


def test_skew_salt_autotune_derives_and_executes(spark, specs):
    from debias_spark.catalog import table

    df = specs["diag_skew_salt_autotune"].fn(spark, SF)
    rows = df.collect()
    # the derived salt must be real (>= 2) at every SF, else the salted
    # path degenerates into the plain aggregate and proves nothing
    ks = {r.salt_k for r in rows}
    assert len(ks) == 1 and ks.pop() >= 2
    # the advisor's input is carried through and consistent: it IS the
    # max of the per-flag counts the key itself emits
    assert all(r.max_key_rows >= r.n for r in rows)
    assert max(r.n for r in rows) == rows[0].max_key_rows
    assert sum(r.n for r in rows) == table(spark, SF, "lineitem").count()
    # the executed plan really is two-stage salted: the partial aggregate
    # keys on the salt column
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_temporal_split_leakage_invariants(spark, specs):
    rows = {r.split: r for r in specs["orders_temporal_split_leakage"].fn(spark, SF).collect()}
    assert set(rows) == {"train", "eval"}
    for r in rows.values():
        assert 0 <= r.n_leaked_orders <= r.n_orders
        assert 0 <= r.n_leaky_customers <= r.n_customers
    # a leaky customer is by definition present on BOTH sides
    assert rows["train"].n_leaky_customers == rows["eval"].n_leaky_customers


def test_cbo_join_reorder_actually_fires(spark, specs):
    """X161's claim, pinned: with ANALYZE stats + CBO the optimizer
    rewrites the written (fact JOIN mid) JOIN small order so the small
    dimension reduces the intermediate first; without CBO the syntactic
    order survives."""
    import re

    from debias_spark.queries.relational_ext41 import CBO_CONFS as confs
    from debias_spark.queries.relational_ext41 import build_cbo_star_tables
    from debias_spark.session import pinned_confs

    names = {}
    try:
        # the SAME scaffold the key executes — plan pin and oracle can
        # never desynchronize on stats columns or table shapes
        names = build_cbo_star_tables(spark, SF, "x161t")
        q = f"""
            SELECT c_mktsegment, count(*) AS n
            FROM {names['lineitem']} l
            JOIN {names['orders']} o ON o.o_orderkey = l.l_orderkey
            JOIN {names['customer']} c ON c.c_custkey = o.o_custkey
            GROUP BY 1
        """
        orders_seen = {}
        for cbo in ("false", "true"):
            with pinned_confs(spark, dict.fromkeys(confs, cbo)):
                plan = spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
            orders_seen[cbo] = re.findall(r"x161t_(lineitem|orders|customer)_", plan)
        # syntactic order without stats-based reordering
        assert orders_seen["false"] == ["lineitem", "orders", "customer"]
        # CBO puts the reducing dimension before the fact table
        assert orders_seen["true"] != orders_seen["false"]
        assert orders_seen["true"].index("customer") < orders_seen["true"].index(
            "lineitem"
        )
    finally:
        for t in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_importance_resample_tracks_expectation(spark, specs):
    rows = specs["docs_importance_resample"].fn(spark, SF).collect()
    assert rows
    total_docs = sum(r.n_docs for r in rows)
    total_sampled = sum(r.n_sampled for r in rows)
    total_expected = sum(r.expected_milli for r in rows) / 1000.0
    # deterministic coin, so the realized count is FIXED for this data —
    # assert it lands within 4 sigma of the binomial expectation
    import math

    sigma = math.sqrt(max(total_expected * (1 - total_expected / total_docs), 1.0))
    assert abs(total_sampled - total_expected) <= 4 * sigma, (
        total_sampled,
        total_expected,
    )
    # and it is exactly reproducible
    again = specs["docs_importance_resample"].fn(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_decayed_engagement_bounds(spark, specs):
    from debias_spark.catalog import table
    from pyspark.sql import functions as F

    rows = specs["events_decayed_engagement"].fn(spark, SF).collect()
    assert len(rows) == 10
    assert all(r.score_cents >= 0 for r in rows)
    # decay only shrinks: every user's decayed score <= undecayed cents
    raw = {
        r.user_id: r.c
        for r in table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
        .collect()
    }
    for r in rows:
        assert r.score_cents <= raw[r.user_id]


def test_max_partition_bytes_split_arithmetic(spark, specs):
    """Z67's claim, pinned: a single parquet file is scanned as
    ceil(bytes / split) input partitions where split =
    min(maxPartitionBytes, max(openCostInBytes, bytes/parallelism)),
    and the values are identical however the file is split."""
    import math
    import os

    from debias_spark.session import pinned_confs
    from debias_spark.warehouse import scratch_dir

    base = specs["source_max_partition_bytes_scan"].fn(spark, SF).collect()
    out = scratch_dir(spark, SF, "z67_mpb")
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 1  # the staged input really is ONE file
    nbytes = os.path.getsize(os.path.join(out, files[0]))
    confs = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    split = 4096
    with pinned_confs(spark, dict.fromkeys(confs, str(split))):
        rb = spark.read.parquet(out)
        expect = math.ceil(nbytes / split)
        assert rb.rdd.getNumPartitions() == expect > 1
        # split reads lose/duplicate nothing: same rollup as the key's
        redone = (
            rb.groupBy("o_orderstatus").count().orderBy("o_orderstatus").collect()
        )
        assert [(r.o_orderstatus, r["count"]) for r in redone] == [
            (r.o_orderstatus, r.n) for r in base
        ]


def test_crosssource_matrix_conserves_pairs(spark, specs):
    from debias_spark.operators.dedup import minhash_dedup
    from debias_spark.catalog import table

    rows = specs["docs_dup_crosssource_matrix"].fn(spark, SF).collect()
    # triangular matrix, cross-count bounded by pair count
    for r in rows:
        assert r.source_a <= r.source_b
        assert 0 <= r.n_cross <= r.n_pairs
        # same-source cells have zero cross pairs, cross cells are all cross
        if r.source_a == r.source_b:
            assert r.n_cross == 0
        else:
            assert r.n_cross == r.n_pairs
    # conservation: the matrix totals exactly the H9 pair count
    docs = table(spark, SF, "documents")
    n_pairs = minhash_dedup(docs, "doc_id", "text", shingle_n=1, threshold=0.8).count()
    assert sum(r.n_pairs for r in rows) == n_pairs
