"""Registry integrity.

- SURVEY.md §2 and the registry must list the same keys, so a dropped
  registration (a lost key leaves an orphan §2 row) or an undocumented
  new query (a missing row) fails the suite; a broken plan-module import
  raises instead of silently shrinking the registry.
- The driver rotation is derived from the committed CORRECTNESS files.

Every registered query is built and checked by
tests/test_entry.py::test_query_runs_smoke.
"""

from __future__ import annotations


def test_survey_section2_matches_registry():
    """Mechanical SURVEY.md §2 ↔ registry check (VERDICT r10 task #4):
    every §2 row's key must be registered, every registered key must
    have a §2 row, and the row's oracle cell must agree with whether
    the key actually carries a SQL oracle — so neither the table nor
    the oracle annotations can go stale again."""
    import os
    import re

    from utility_service_areas_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    survey = os.path.join(os.path.dirname(os.path.dirname(__file__)), "SURVEY.md")
    with open(survey, encoding="utf-8") as f:
        text = f.read()
    rows = re.findall(r"^\| \d+ \| `([a-z0-9_]+)` \|.*\| ([^|]+)\|$", text, re.M)
    survey_keys = {k for k, _ in rows}
    assert len(rows) == len(survey_keys), "duplicate §2 rows"
    reg_keys = set(REGISTRY)
    assert survey_keys == reg_keys, (
        f"SURVEY §2 drift: missing rows {sorted(reg_keys - survey_keys)}, "
        f"orphan rows {sorted(survey_keys - reg_keys)}"
    )
    stale = {}
    for key, cell in rows:
        cell = cell.strip()
        has_oracle = REGISTRY[key].oracle is not None
        if has_oracle and not cell.startswith("sql"):
            stale[key] = f"has SQL oracle but cell says {cell!r}"
        if not has_oracle and not cell.startswith("rows"):
            stale[key] = f"rows-only but cell says {cell!r}"
    assert not stale, f"stale SURVEY oracle cells: {stale}"


def test_load_all_raises_on_broken_module(monkeypatch):
    """_load_all must NOT swallow import errors (a broken module would
    silently drop its family from the driver's correctness gate)."""
    import builtins

    import pytest

    from utility_service_areas_spark.plans import registry

    monkeypatch.setattr(registry, "_LOADED", False)
    real_import = builtins.__import__

    def boom(name, *a, **kw):
        if name.endswith("geo_queries"):
            raise ImportError("synthetic break")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", boom)
    with pytest.raises(ImportError):
        registry._load_all()
    # Restore so later tests see the fully-loaded registry.
    monkeypatch.setattr(builtins, "__import__", real_import)
    registry._LOADED = False
    registry._load_all()
    assert registry._LOADED


def test_driver_priority_prefix_invariants():
    """The driver attests exactly the first 50 registry keys per
    round: the prefix must be exactly 50 unique, registered names and
    must never contain the three oracle-less rows-only sketches
    (they can only burn a slot with err:no_oracle)."""
    from utility_service_areas_spark.plans.registry import (
        REGISTRY,
        _load_all,
        _ordered,
    )

    _load_all()
    order = list(_ordered())
    prefix = order[:50]
    assert len(prefix) == 50
    assert len(set(prefix)) == 50
    unknown = [n for n in prefix if n not in REGISTRY]
    assert not unknown, unknown
    oracle_less = {n for n, spec in REGISTRY.items() if spec.oracle is None}
    assert not oracle_less & set(prefix), (
        "oracle-less keys can only burn a driver slot"
    )
    assert sorted(order) == sorted(REGISTRY), "the walk must visit every key once"


def test_rotation_matches_correctness_union():
    """The rotation can never drift from the data: `_ordered()` derives
    it, and this test recomputes it independently.

    Recompute each sql-oracled key's newest GREEN driver-attestation
    round from the union of the committed CORRECTNESS_r*.json files
    (never-attested keys count as round 0; a red row — err set or
    rows_match not true — keeps the key's old staleness so it re-enters
    the sample at once), sort that pool by (newest_round, name) — the
    rotation discipline is "stalest first, boundary cohort split
    alphabetically" — and assert that the driver walk is exactly that
    pool followed by the oracle-less keys in module-load order.
    """
    import glob
    import json
    import os

    from utility_service_areas_spark.plans.registry import (
        REGISTRY,
        _load_all,
        _ordered,
    )

    _load_all()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    assert files, "no committed CORRECTNESS_r*.json — rotation unverifiable"
    newest: dict[str, int] = {}
    for path in files:
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        for key, row in json.load(open(path, encoding="utf-8")).items():
            green = (
                isinstance(row, dict)
                and row.get("err") is None
                and row.get("rows_match") is True
            )
            if green:
                newest[key] = max(newest.get(key, 0), rnd)

    pool = sorted(
        (name for name, spec in REGISTRY.items() if spec.oracle is not None),
        key=lambda n: (newest.get(n, 0), n),
    )
    oracle_less = [name for name, spec in REGISTRY.items() if spec.oracle is None]
    assert list(_ordered()) == pool + oracle_less


def test_red_rows_do_not_count_as_attested(tmp_path):
    """A key whose newest driver row is red keeps the staleness of its
    last green row, so it heads the next rotation."""
    import json

    from utility_service_areas_spark.plans.registry import _newest_green_round

    green = {"rows_match": True, "err": None}
    rounds = {
        1: {"a": green, "b": green},
        2: {"a": {"rows_match": False, "err": None}, "b": {"rows_match": True, "err": "boom"}},
        3: {"c": green, "d": "not a row"},
    }
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    assert _newest_green_round(str(tmp_path)) == {"a": 1, "b": 1, "c": 3}
