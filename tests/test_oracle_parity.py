"""The local t2 gate: every registered query with an oracle must match DuckDB
at sf0.001 — the same comparison the driver runs at sf0.01 — and must leave
the session conf exactly as it found it."""

from __future__ import annotations

import pytest

from debias_spark.registry import load_all_queries
from debias_spark.testing import compare_to_oracle

SPECS = load_all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_oracle_parity(name, spark, sf_dir):
    spec = SPECS[name]
    before = spark.conf.getAll
    df = spec.fn(spark, sf_dir)
    if spec.oracle is None:
        # rows-only contract: must build a valid plan and return rows
        assert df.count() > 0, f"{name}: rows-only query returned 0 rows"
    else:
        compare_to_oracle(df, spec.oracle, sf_dir)
    assert spark.conf.getAll == before, f"{name}: session conf changed"
