"""The local t2 gate: every registered query with an oracle must match DuckDB
at sf0.001 — the same comparison the driver runs at sf0.01 — and must leave
the session conf and the session's temporary views exactly as it found
them."""

from __future__ import annotations

import pytest

from debias_spark.registry import load_all_queries
from debias_spark.testing import compare_to_oracle

SPECS = load_all_queries()


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize("name", sorted(SPECS))
def test_oracle_parity(name, spark, sf_dir):
    spec = SPECS[name]
    before = spark.conf.getAll
    views_before = _temp_views(spark)
    df = spec.fn(spark, sf_dir)
    assert not df.isStreaming, f"{name}: returned a streaming frame"
    if spec.oracle is None:
        # rows-only contract: must build a valid plan and return rows
        assert df.count() > 0, f"{name}: rows-only query returned 0 rows"
    else:
        compare_to_oracle(df, spec.oracle, sf_dir)
    assert spark.conf.getAll == before, f"{name}: session conf changed"
    assert _temp_views(spark) == views_before, f"{name}: temporary views changed"
