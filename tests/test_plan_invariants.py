"""Registry-wide scale-lint: no registered query's physical plan at the
smoke scale holds a node in ``plans.registry.BANNED_PLAN_NODES``
(row-at-a-time Python eval, a non-broadcast cross join; the reasons are
at that list), and its output columns are unique and atomic.

The registry sweep in test_entry.py already found these plan problems
while it checked the query, so a key it checked is not built again;
a key it did not check (deselected as slow, or run alone) is built here
and its plan checked without executing it.

This complements tests/test_plans.py (which pins the SHAPE of chosen
headline plans) with a cheap invariant over the whole surface, so
every future query addition is linted automatically.
"""

from __future__ import annotations

import pytest

from tests.conftest import SMOKE_SF
from utility_service_areas_spark.plans.registry import all_queries, plan_problems


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_rowwise_python_or_cartesian(spark, registry_checks, name):
    if name in registry_checks:
        problems = registry_checks[name].plan
    else:
        problems = plan_problems(all_queries()[name](spark, SMOKE_SF))
    assert not problems, f"{name}: " + "; ".join(problems)
