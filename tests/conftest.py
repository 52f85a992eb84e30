from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("PGCP_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = os.environ.get("PGCP_TEST_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def pytest_configure(config):
    # an exception that kills a background thread (a racing reader, a
    # writer pool) fails its test instead of passing it with a warning
    config.addinivalue_line(
        "filterwarnings", "error::pytest.PytestUnhandledThreadExceptionWarning"
    )


@pytest.fixture(scope="session")
def spark():
    from pgcp_spark.session import get_spark

    spark = get_spark("pgcp_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
