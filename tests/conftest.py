from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMOKE_SF = "/root/testdata/sf0.001"


def backdate_tree(path: str, ts: float = 0.0) -> None:
    """Set mtime on a path AND everything under it — the vacuum age
    gates key off the NEWEST entry in the tree (ADVICE r14 #4), so a
    test planting 'ancient' debris must age the whole tree."""
    os.utime(path, (ts, ts))
    for walk_root, dirs, files in os.walk(path):
        for name in dirs + files:
            os.utime(os.path.join(walk_root, name), (ts, ts))


@pytest.fixture(scope="session")
def spark():
    from utility_service_areas_spark.session import build_session

    s = build_session("usa-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def versioned_table(spark):
    """Registers format("versioned_table") on the shared session, as any
    caller must before reading the source (build_session does not)."""
    from utility_service_areas_spark.sources.pyds import register_versioned_table

    register_versioned_table(spark)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-running test (>= 4 s in the r18 baseline); excluded "
        "from the default run via addopts so the driver's verify budget "
        "holds — run with `pytest tests/ -m slow` (VERDICT r17 item 2)",
    )


def pytest_collection_modifyitems(config, items):
    """Mark the node IDs listed in tests/slow_tests.txt as `slow`.

    A committed manifest (exact node IDs, so parametrized cases split
    per-param — e.g. test_query_runs_smoke[dedup_suffix_splice] is slow
    while the other 200+ params stay in the default run) instead of
    per-function decorators: the split is duration-data-driven and
    regenerable, and no test is deleted from coverage."""
    manifest = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    try:
        with open(manifest, encoding="utf-8") as f:
            slow_ids = {
                line.strip()
                for line in f
                if line.strip() and not line.startswith("#")
            }
    except OSError:
        return
    for item in items:
        nodeid = item.nodeid.split("tests/", 1)[-1]
        if nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)
