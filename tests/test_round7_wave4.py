"""Round-7 wave-5 tests (Y55, X147, Z56, Z57): packing capacity
invariants, classification partition/share properties, codec size
ordering, and CSV type-inference evidence.
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


def test_packing_capacity_invariant(spark, specs):
    df = specs["docs_pack_nextfit_decreasing"].fn(spark, SF)
    packs = (
        df.groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("tok"), F.count("*").alias("n"))
        .collect()
    )
    assert packs
    for p in packs:
        # a pack exceeds the 512 budget only when a single oversized doc
        # owns it (next-fit gives oversized docs their own bin)
        assert p.tok <= 512 or p.n == 1, (p.pack_id, p.tok, p.n)
    # every non-empty doc is packed exactly once
    from debias_spark.catalog import table

    n_docs = (
        table(spark, SF, "documents")
        .filter(
            F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != ""))
            > 0
        )
        .count()
    )
    assert df.count() == n_docs


def test_abc_xyz_partitions_everything(spark, specs):
    from debias_spark.catalog import table

    rows = specs["orders_abc_xyz_classification"].fn(spark, SF).collect()
    assert {r.abc for r in rows} <= {"A", "B", "C"}
    assert {r.xyz for r in rows} <= {"X", "Y", "Z"}
    n_parts = (
        table(spark, SF, "lineitem").select("l_partkey").distinct().count()
    )
    assert sum(r.n_parts for r in rows) == n_parts
    # A-class revenue share is at least the 80% target minus one part's
    # granularity; C exists (the tail is never empty on TPC-H-ish data)
    total = sum(r.rev_cents for r in rows)
    a_rev = sum(r.rev_cents for r in rows if r.abc == "A")
    assert a_rev <= 0.8 * total + max(r.rev_cents for r in rows)
    assert any(r.abc == "C" for r in rows)


def test_codec_sizes_ordered(spark, specs):
    # run the key first so all four sinks exist for THIS session
    specs["sink_compression_codecs"].fn(spark, SF).collect()
    from debias_spark.warehouse import scratch_dir

    sizes = {}
    for codec in ("snappy", "zstd", "gzip", "none"):
        d = scratch_dir(spark, SF, f"z56_{codec}")
        sizes[codec] = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(d, "part-*"))
        )
    assert all(v > 0 for v in sizes.values())
    for codec in ("snappy", "zstd", "gzip"):
        assert sizes[codec] < sizes["none"], sizes


def test_csv_inference_types(spark, specs):
    from debias_spark.warehouse import scratch_dir

    specs["source_csv_schema_infer"].fn(spark, SF).collect()
    d = scratch_dir(spark, SF, "z57_csv")
    rb = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("dateFormat", "yyyy-MM-dd")
        .csv(d)
    )
    types = dict(rb.dtypes)
    assert types["o_orderkey"] in ("int", "bigint")
    assert types["o_totalprice"] == "double"
    assert types["o_orderdate"] == "date"
