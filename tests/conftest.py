from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import SMOKE_SF_DIR as SMOKE_SF  # noqa: E402


def backdate_tree(path: str, ts: float = 0.0) -> None:
    """Set mtime on a path AND everything under it — the vacuum age
    gates key off the NEWEST entry in the tree (ADVICE r14 #4), so a
    test planting 'ancient' debris must age the whole tree."""
    os.utime(path, (ts, ts))
    for walk_root, dirs, files in os.walk(path):
        for name in dirs + files:
            os.utime(os.path.join(walk_root, name), (ts, ts))


def write_docs(spark, path: str, rows) -> None:
    """Write ``rows``, a list of (doc_id, text), as the documents table
    under ``path`` in the schema the loaders expect (lang, source and
    n_chars present but incidental)."""
    spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def read_events_stream(spark, sf_dir: str):
    """File-source stream of the events table. Its schema comes from
    the substrate's parquet footer through the batch reader's own
    resolution path (raw_table_schema + normalize_event_ts), so stream
    and batch see the same timestamps whichever way events.ts is
    encoded (long nanos or TIMESTAMP_NTZ)."""
    from utility_service_areas_spark.sources.tables import (
        normalize_event_ts,
        raw_table_schema,
    )

    raw = (
        spark.readStream.schema(raw_table_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def run_to_memory(stream_df, name: str, output_mode: str = "append"):
    """Drain a stream with availableNow into the in-memory table
    ``name``, so a test can compare it against the batch twin."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.fixture(scope="session")
def spark():
    from utility_service_areas_spark.session import build_session

    s = build_session("usa-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle_con():
    """DuckDB over the smoke substrate, for ``plans.registry.check_query``."""
    if not os.path.isdir(SMOKE_SF):
        pytest.skip(f"{SMOKE_SF} is absent; the registry sweep needs the smoke substrate")
    from utility_service_areas_spark.plans.registry import oracle_connection

    con = oracle_connection(SMOKE_SF)
    yield con
    con.close()


@pytest.fixture(scope="session")
def registry_checks(oracle_con):
    """``check_query`` results by registry key for this session. The
    registry sweep (test_entry.py) fills it; the plan-invariant sweep
    (test_plan_invariants.py) reads a key's plan problems from it and
    builds the query itself only when the key was not checked, so one
    run builds each query once."""
    return {}


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
    while the other 250+ params stay in the default run) instead of
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
