"""Session builder: the codegen cache holds the engine's working set, so
a query shape that is run again reuses its generated classes instead of
recompiling them; and a fresh session starts no Python data-source
lookup, which only the readers of `format("versioned_table")` pay for."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import SMOKE_SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO, "perfbench")

# Janino compiles allowed in the last re-run of the curation queries.
# With the sized cache, re-runs measured 0-4 (the residual is AQE
# renumbering codegen stages, see session.py); with Spark's default of
# 100 entries every re-run recompiles ~107 of the 134 classes.
MAX_RERUN_COMPILES = 8


def test_build_session_sizes_the_codegen_cache(spark):
    from utility_service_areas_spark.session import CODEGEN_CACHE_ENTRIES

    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == CODEGEN_CACHE_ENTRIES


def test_curation_rerun_reuses_generated_classes(spark, monkeypatch):
    if not os.path.exists(os.path.join(SMOKE_SF, "documents.parquet")):
        pytest.skip(f"{SMOKE_SF}/documents.parquet is absent; cannot run the curation queries")
    monkeypatch.syspath_prepend(PERFBENCH)
    from workloads import CURATION_QUERIES

    import __spark_entry__ as e

    queries = e.queries()
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    per_query: dict[str, int] = {}
    for _ in range(3):  # a warm-up pass, then two re-runs
        for name in CURATION_QUERIES:
            before = compiles.METRIC_COMPILATION_TIME().getCount()
            queries[name](spark, SMOKE_SF).write.format("noop").mode("overwrite").save()
            per_query[name] = compiles.METRIC_COMPILATION_TIME().getCount() - before
    assert sum(per_query.values()) <= MAX_RERUN_COMPILES, per_query


_FRESH_SESSION = """
import os, sys
sys.path.insert(0, {repo!r})
from utility_service_areas_spark.session import build_session

spark = build_session("fresh-session")
spark.sparkContext.setLogLevel("ERROR")


def lookup_daemons():
    # processes under this driver (the JVM and its Python workers)
    # running Spark's data-source lookup worker
    parent, cmd = {{}}, {{}}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{{pid}}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{{pid}}/cmdline", "rb") as f:
                cmd[int(pid)] = f.read().replace(b"\\0", b" ").decode()
        except OSError:
            continue
    found = []
    for pid, line in cmd.items():
        p = parent.get(pid)
        while p in parent and p != os.getpid():
            p = parent[p]
        if p == os.getpid() and "lookup_data_sources" in line:
            found.append(line)
    return found


from utility_service_areas_spark.sources.versioned import read_version, write_version

# plain parquet writes and reads start no lookup either
write_version(
    spark.createDataFrame([(k, str(k)) for k in range(5)], "k long, v string"),
    {table!r},
)
assert read_version(spark, {table!r}, 0).count() == 5
assert "utility_service_areas_spark.sources.pyds" not in sys.modules
assert lookup_daemons() == [], lookup_daemons()

from utility_service_areas_spark.sources.pyds import register_versioned_table

register_versioned_table(spark)
register_versioned_table(spark)
assert lookup_daemons(), "the probe must see the daemon registration starts"
assert spark.read.format("versioned_table").load({table!r}).count() == 5
print("FRESH_SESSION_OK")
spark.stop()
"""


def test_fresh_session_skips_datasource_lookup_and_cli_registers(tmp_path):
    """build_session imports no data source, and neither it nor plain
    parquet I/O starts a lookup_data_sources daemon (the first
    registration in a JVM costs 1.5-2.3 s); registering versioned_table
    is idempotent and makes the source readable. Then `table read` runs
    in its OWN process: the in-process CLI test shares the fixture's
    session, so only a fresh process shows the command registers the
    source itself."""
    if not os.path.isdir("/proc/self"):
        pytest.skip("needs /proc to inspect the JVM's child processes")
    table = str(tmp_path / "tbl")
    fresh = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION.format(repo=REPO, table=table)],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert fresh.returncode == 0, fresh.stderr[-4000:]
    assert "FRESH_SESSION_OK" in fresh.stdout

    cli = subprocess.run(
        [sys.executable, "-m", "utility_service_areas_spark", "table", "read",
         "--table-dir", table, "--version", "0"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert cli.returncode == 0, cli.stderr[-4000:]
    assert "5 rows" in cli.stdout
