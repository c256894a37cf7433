"""Driver-contract smoke tests: entry() runs, every oracle key exists
in queries(), and every registered query passes
``plans.registry.check_query`` at the smoke scale: one build per query,
checked for unique atomic output columns and banned plan nodes, then
collected and, when it carries a SQL oracle, compared with DuckDB (row
count, schema, value hash). ``tools/check_oracle.py`` runs the same
checker.
"""

from __future__ import annotations

import pytest

from tests.conftest import SMOKE_SF
from utility_service_areas_spark.plans.registry import all_queries, check_query


def test_entry_runs(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.columns) > 0


def test_oracle_keys_subset_of_queries():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 17


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_runs_smoke(spark, oracle_con, registry_checks, name):
    check = registry_checks[name] = check_query(spark, oracle_con, name, SMOKE_SF)
    assert not check.problems, "; ".join(check.problems)
