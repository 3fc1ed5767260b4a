from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "reference_fixtures(path): the test reads the reference "
        "checkout's bundled TIFFs under `path`; skipped when that "
        "directory is absent")


def pytest_collection_modifyitems(config, items):
    for item in items:
        mark = item.get_closest_marker("reference_fixtures")
        if mark is not None and not os.path.isdir(mark.args[0]):
            item.add_marker(pytest.mark.skip(
                reason=f"reference fixtures not found: {mark.args[0]}"))


@pytest.fixture(scope="session")
def spark():
    from unmixing_spark.session import get_spark
    # sf0.001 inputs need no 8g heap (the get_spark default): with one,
    # the tests' JVM grew to 7-8 GB resident
    s = get_spark(app_name="unmixing-tests", master="local[8]", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "4g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
