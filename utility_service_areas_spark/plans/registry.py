"""Query registry: every operator from SURVEY.md §2 registers a named
(spark_fn, oracle_sql) pair here; __spark_entry__.py exposes them to
the driver.

Conventions (see SURVEY.md §6):
- Every computed column is aliased identically in the Spark plan and
  the DuckDB oracle (the driver sorts columns by name before hashing).
- Integer-like computed columns are cast to BIGINT on both sides.
- Money/float aggregates are compared as cents-bigint
  (CAST(ROUND(sum*100) AS BIGINT)) so JVM-vs-DuckDB summation order
  can't flip the hash.
"""

from __future__ import annotations

import functools
import glob
import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def _ordered() -> dict[str, QuerySpec]:
    """Registry in driver-walk order. The verification driver attests a
    bounded prefix of this order each round, so the prefix must hold
    the keys that have gone longest without a green attestation:
    sql-oracled keys sorted by (newest green round, name), where a
    never-attested key counts as round 0, then the oracle-less keys
    (which can only burn a driver slot) in module-load order."""
    newest = _newest_green_round()
    oracled = sorted(
        (n for n, spec in REGISTRY.items() if spec.oracle is not None),
        key=lambda n: (newest.get(n, 0), n),
    )
    rest = [n for n, spec in REGISTRY.items() if spec.oracle is None]
    return {n: REGISTRY[n] for n in (*oracled, *rest)}


_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@functools.cache
def _newest_green_round(root: str = _REPO) -> dict[str, int]:
    """Newest round in which each key's driver row was green, from the
    union of the committed CORRECTNESS_r<N>.json files in ``root``.
    A red row (err set or rows_match not true) does not count, so a key
    that went red re-enters the next round's prefix."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        with open(path, encoding="utf-8") as f:
            rows = json.load(f)
        for key, row in rows.items():
            if isinstance(row, dict) and row.get("err") is None and row.get("rows_match") is True:
                newest[key] = max(newest.get(key, 0), rnd)
    return newest


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {k: v.fn for k, v in _ordered().items()}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {k: v.oracle for k, v in _ordered().items() if v.oracle is not None}


_LOADED = False


# Every module is first-party and REQUIRED — an import failure must
# crash loudly, not silently shrink the registry. Load order fixes the
# position of the oracle-less keys in `_ordered()`.
_PLAN_MODULES = (
    "relational_queries",
    "analytics_queries",
    "tpch_queries",
    "etl_queries",
    "pipeline_queries",
    "multimodal_queries",
    "event_queries",
    "text_queries",
    "ann_queries",
    "dedup_queries",
    "geo_queries",
)


def _load_all() -> None:
    """Import every module that registers queries (idempotent).

    No try/except: a broken plan module would otherwise silently drop
    its whole query family from queries() AND oracle_sql(), shrinking
    the correctness gate with no failure signal.
    """
    global _LOADED
    if _LOADED:
        return
    for mod in _PLAN_MODULES:
        __import__(f"utility_service_areas_spark.plans.{mod}")
    _LOADED = True
