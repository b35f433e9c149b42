from __future__ import annotations

import pytest

from amsterdam_map_data_wrangling_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="amdw-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


def pytest_collection_modifyitems(items):
    # test_session measures codegen compiles from a cold generated-class
    # cache, which the session-wide JVM only has before any other test
    # has run a query: run that module first.
    items.sort(key=lambda item: item.path.name != "test_session.py")
