"""Round-7 wave 9-10 tests (Y57, X155, X157, Z59, Z60): holdout
exclusion, malformed-XML null contract, distinct-to-date identity, and
file-granularity evidence.
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


def test_decontamination_excludes_holdout(spark, specs):
    rows = specs["embedding_decontamination_screen"].fn(spark, SF).collect()
    for r in rows:
        assert r.vec_id % 97 != 0          # holdout never screens itself
        assert r.holdout_id % 97 == 0      # matches come from the holdout
        assert r.sim_e4 >= 6000


def test_from_xml_malformed_yields_null(spark):
    df = spark.createDataFrame(
        [("<order><k>7</k></order>",), ("<order><k>not-a-number</k",), (None,)],
        "x string",
    )
    out = df.select(
        F.from_xml("x", "k BIGINT").alias("v")
    ).select(F.col("v.k").alias("k")).collect()
    assert [r.k for r in out] == [7, None, None]


def test_cumulative_distinct_identity(spark, specs):
    from debias_spark.catalog import table

    rows = specs["events_cumulative_distinct_users"].fn(spark, SF).collect()
    assert rows == sorted(rows, key=lambda r: r.day)
    # running sum is monotone and its final value equals the exact
    # all-time distinct count
    cums = [r.cum_distinct_users for r in rows]
    assert cums == sorted(cums)
    exact = table(spark, SF, "events").select("user_id").distinct().count()
    assert cums[-1] == exact
    assert sum(r.n_new_users for r in rows) == exact


def test_wholetext_one_row_per_file(spark, specs):
    from debias_spark.warehouse import scratch_dir

    df = specs["source_wholetext_files"].fn(spark, SF)
    rows = df.collect()
    out = scratch_dir(spark, SF, "z59_wholetext")
    n_files = len(glob.glob(os.path.join(out, "bucket-*.txt")))
    assert len(rows) == n_files > 0
    # whole-file mode: byte counts include the embedded newlines a
    # line-mode read would have split on
    assert any(r.n_bytes > 600 for r in rows)


def test_recursive_glob_reads_every_depth(spark, specs):
    from debias_spark.catalog import table
    from debias_spark.warehouse import scratch_dir

    got = specs["source_recursive_dir_glob"].fn(spark, SF).collect()
    total = sum(r.n for r in got)
    assert total == table(spark, SF, "orders").count()
    out = scratch_dir(spark, SF, "z60_nested")
    # non-recursive read of the same tree must NOT see the nested files
    with pytest.raises(Exception):
        spark.read.parquet(out).count()


def test_dynamic_partition_overwrite_restores_conf(spark, specs):
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, None)
    specs["sink_dynamic_partition_overwrite"].fn(spark, SF).collect()
    assert spark.conf.get(key, None) == before


def test_interpurchase_gaps_accounting(spark, specs):
    from debias_spark.catalog import table

    rows = specs["orders_interpurchase_gaps"].fn(spark, SF).collect()
    total_gaps = sum(r.n_gaps for r in rows)
    o = table(spark, SF, "orders")
    n_orders = o.count()
    n_cust = o.select("o_custkey").distinct().count()
    # every order except each customer's first contributes one gap
    assert total_gaps == n_orders - n_cust
    for r in rows:
        assert 0 <= r.min_days <= r.max_days


def test_length_trim_keeps_ninety_percent(spark, specs):
    rows = specs["docs_length_percentile_trim"].fn(spark, SF).collect()
    n = sum(r.n_docs for r in rows)
    kept = sum(r.n_kept for r in rows)
    # discrete 5th/95th percentile cuts keep ~90%, inclusive bounds may
    # keep slightly more on ties
    assert 0.88 * n <= kept <= 0.97 * n
    lo, hi = rows[0].lo_cut, rows[0].hi_cut
    assert all(r.lo_cut == lo and r.hi_cut == hi for r in rows)  # global cuts
    assert lo < hi


def test_max_records_per_file_splits(spark, specs):
    import glob as _glob
    import math

    from debias_spark.catalog import table
    from debias_spark.warehouse import scratch_dir

    specs["sink_max_records_per_file"].fn(spark, SF).collect()
    out = scratch_dir(spark, SF, "z64_maxrec")
    files = _glob.glob(out + "/part-*.parquet")
    n_rows = table(spark, SF, "orders").count()
    # one input partition split into ceil(rows/2000) files (== 1 at
    # sf0.001 where rows < cap — the split arithmetic itself is pinned
    # below on a tiny frame so the benched key can keep a scale-sane cap)
    assert len(files) == math.ceil(n_rows / 2000) >= 1
    # deterministic ceil-split proof, independent of SF: 10 rows at a
    # 3-row cap through ONE partition must land in exactly 4 files
    tiny_out = scratch_dir(spark, SF, "z64_maxrec_tiny")
    (
        spark.range(10)
        .coalesce(1)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 3)
        .parquet(tiny_out)
    )
    tiny_files = _glob.glob(tiny_out + "/part-*.parquet")
    assert len(tiny_files) == math.ceil(10 / 3) == 4
    assert spark.read.parquet(tiny_out).count() == 10


def test_multiline_json_rejected_by_default_reader(spark, specs):
    from debias_spark.warehouse import scratch_dir

    specs["source_json_multiline_array"].fn(spark, SF).collect()
    out = scratch_dir(spark, SF, "z63_mljson")
    # the default line-delimited reader sees pretty-printed arrays as
    # corrupt records, not rows — the contract that makes multiLine real
    df = spark.read.json(out)
    assert "_corrupt_record" in df.columns or df.count() == 0
