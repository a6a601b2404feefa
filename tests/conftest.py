from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from web_crawling_prj_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")

# session.get_spark defaults the driver heap to 16g; cap the test session's
# heap well under a small host's physical RAM so the JVM is never OOM-killed
# mid-suite (which fails every later Spark test with Py4JNetworkError)
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")


def pytest_collection_modifyitems(items):
    # JVM-free tests first (stable sort: file order is kept within each
    # group). They take seconds in total, the Spark tests most of an hour on
    # a 4-core host, so a run cut short by a time budget loses Spark tests
    # rather than the cheap ones.
    items.sort(key=lambda item: "spark" in getattr(item, "fixturenames", ()))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("wcp-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return os.path.join(TESTDATA, "sf0.01")
