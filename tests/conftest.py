from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sarfile_analyzer_ng_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


def pytest_collection_modifyitems(config, items):
    """Two-tier suite: the default gate (Tier-1) is the modules marked
    ``pytest.mark.driver`` — entry contract, plan asserts and session
    memos, oracle parity for every registry key, the API facade,
    IO/store, retrieval, the differential fuzzers, and the SAR/sadf
    ingest path (test_sar_source, test_sar_fuzz, test_sadf_fuzz,
    test_sar_scale, test_sources_extra). Everything else is skipped by default and
    enabled with ``SPARK_GRAFT_FULL_TESTS=1``; the full suite takes
    about an hour."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="builder-session test; set SPARK_GRAFT_FULL_TESTS=1"
    )
    for item in items:
        if item.get_closest_marker("driver") is None:
            item.add_marker(skip)
