from __future__ import annotations

import pytest

from debias_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a long-running test (deselect with -m 'not slow')")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("debias-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
