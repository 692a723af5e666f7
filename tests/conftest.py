from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this file lives in, not an installed or sibling copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from distributed_system_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR



@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: how many Spark jobs ``fn()`` launches.

    Runs ``fn`` in a fresh job group, then one sentinel job in a group
    of its own.  The status tracker learns of jobs from the listener
    bus, in order, so once the sentinel shows, every job ``fn``
    started shows too.  The sentinel runs in the JVM only, so it pays
    no Python worker start-up."""
    import time
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def count(fn) -> int:
        group, sentinel = (f"count-jobs-{uuid.uuid4().hex}" for _ in "ab")
        try:
            sc.setJobGroup(group, "count_jobs")
            fn()
            sc.setJobGroup(sentinel, "count_jobs sentinel")
            spark.range(1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(sentinel):
            assert time.monotonic() < deadline, "sentinel job never showed"
            time.sleep(0.05)
        return len(tracker.getJobIdsForGroup(group))

    return count
