from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from java_etl_bi_generator_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# job groups live as long as the shared session, so each count gets a
# name no earlier test used
_JOB_GROUPS = itertools.count()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def job_ids(spark):
    """``job_ids(fn)`` -> (ids of the Spark jobs ``fn()`` launched, its
    result), found through a job group of the test's own."""
    sc = spark.sparkContext
    # the three thread-local properties setJobGroup sets
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")

    def run(fn):
        group = f"job_ids_{next(_JOB_GROUPS)}"
        saved = [sc.getLocalProperty(p) for p in props]
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for p, v in zip(props, saved):
                sc.setLocalProperty(p, v)
        return sorted(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture
def count_jobs(job_ids):
    """``count_jobs(fn)`` -> (Spark jobs ``fn()`` launched, its result)."""

    def count(fn):
        ids, out = job_ids(fn)
        return len(ids), out

    return count


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say how many `slow` tests the default `-m "not slow"` smoke run
    left out, so a green smoke run is not read as the full suite."""
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow") is not None
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slow tests deselected by -m {config.option.markexpr!r}; "
            'the certification run is `pytest -m ""`.'
        )
