"""Round-14 wave tests: engine-side contracts for the optimization
round — the hot-gram skew gate's two spellings must be value-identical,
and the catalog's schema/stat caches must be metadata-only (fresh frame
per call, stat keyed to the file version).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debias_spark.registry import load_all_queries

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def specs():
    return load_all_queries()


def test_substring_dup_spans_two_pass_path_equivalence(spark, specs, monkeypatch):
    """The hot-gram skew gate (docs_dedup._GRAM_WINDOW_MAX) picks between
    the per-gk count window and the two-pass spelling (per-gk hash
    aggregate + left-semi join); both must produce the identical span
    report.  Forcing the gate to 0 exercises the two-pass path on the
    fixture corpus (whose gram count is far below the production bound)."""
    import debias_spark.queries.docs_dedup as m

    plain = specs["docs_substring_dup_spans"].fn(spark, SF).collect()
    monkeypatch.setattr(m, "_GRAM_WINDOW_MAX", 0)
    two_pass = specs["docs_substring_dup_spans"].fn(spark, SF).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, two_pass))
    assert plain  # and not vacuously empty


def test_catalog_schema_cache_returns_fresh_frames(spark):
    """The r14 schema cache holds StructTypes only: two table() calls
    must return DISTINCT DataFrame objects (no plan sharing — a reused
    plan object would break self-joins) with the same schema."""
    from debias_spark.catalog import table

    a = table(spark, SF, "documents")
    b = table(spark, SF, "documents")
    assert a is not b
    assert a.schema == b.schema
    # and a self-join of two separately-constructed frames still works
    j = a.select("doc_id").join(
        b.select(F.col("doc_id").alias("d2")), F.col("doc_id") == F.col("d2")
    )
    assert j.count() == a.count()


def test_catalog_stat_cache_keys_on_file_version(tmp_path):
    """cached_input_stat memoizes per (path, mtime, size, key): same file
    hits the cache; a rewritten file recomputes."""
    import os

    from debias_spark.catalog import cached_input_stat

    p = tmp_path / "t.bin"
    p.write_bytes(b"abc")
    calls = []

    def compute():
        calls.append(1)
        return 42

    assert cached_input_stat(str(p), "k", compute) == 42
    assert cached_input_stat(str(p), "k", compute) == 42
    assert len(calls) == 1
    os.utime(p, ns=(1, 1))  # new version -> recompute
    assert cached_input_stat(str(p), "k", compute) == 42
    assert len(calls) == 2
    # uncacheable path: computed every time
    assert cached_input_stat(str(tmp_path), "k", compute) == 42
    assert len(calls) == 3
