from __future__ import annotations

import itertools
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from inverted_index_using_the_map_reduce_paradigm_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("repo_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn)`` calls ``fn()`` under its own job group and
    returns ``(result, number of Spark jobs the call started)``, read
    from the status tracker once the listener bus has drained."""
    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"count_jobs-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-hundred-MiB fixtures; runs in the full suite"
    )
