from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from java_etl_bi_generator_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


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
