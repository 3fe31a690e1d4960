from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from franzoxide_spark.session import get_spark

    spark = get_spark(app_name="franzoxide_spark_tests", driver_memory="8g")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def drop_new_tables(spark):
    """Drop the catalog tables a test lands over ``tmp_path`` inputs:
    their idents are new on every run, so the session warehouse would
    otherwise keep one more landing directory per run."""
    before = {t.name for t in spark.catalog.listTables()}
    yield
    for t in spark.catalog.listTables():
        if t.name not in before and not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
