"""Query registry: every operator from SURVEY.md §2 registers a named
(spark_fn, oracle_sql) pair here; __spark_entry__.py exposes them to
the driver. ``check_query`` checks one registered query (output
surface, banned plan nodes, values against the DuckDB oracle) for both
the test suite and tools/check_oracle.py.

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
import hashlib
import json
import math
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


# ---------------------------------------------------------------- checks
#
# One checker for every registered query, shared by the test suite and
# tools/check_oracle.py (the local mirror of the driver's correctness
# gate): it builds the query once, checks its output surface and plan,
# collects it, and compares the rows with the DuckDB oracle.

_ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Physical-plan nodes that do not survive a 100 TB cluster:
# - ``BatchEvalPython``: row-at-a-time Python UDF eval. Every Python
#   kernel here is Arrow-batched (ArrowEvalPython / MapInPandas /
#   FlatMapGroupsInPandas); a row-wise UDF in a hot path is a 10-100x
#   regression that would otherwise show only as a slow bench.
# - ``CartesianProduct``: a non-broadcast cross join. Intentional
#   small-dim cross joins compile to BroadcastNestedLoopJoin (bounded
#   build side); a CartesianProduct means BOTH sides are cluster-sized.
BANNED_PLAN_NODES = ("BatchEvalPython", "CartesianProduct")

# Output-surface lint (r7 post-mortem): the driver canonicalizes through
# pandas, where DuckDB HUGEINT/DECIMAL become float64 (hash-mismatching
# Spark's int64) and raw list columns crash its sort. Neither failure is
# visible to a fetchall() comparison, so the declared output surface is
# linted mechanically instead: every oracle's schema must be free of
# HUGEINT/UHUGEINT/DECIMAL/list/struct/map columns, and every Spark
# result must have only atomic top-level columns.
_BAD_DUCK = ("HUGEINT", "UHUGEINT", "DECIMAL", "STRUCT", "MAP", "[]", "UNION")
_BAD_SPARK_PREFIX = ("array<", "struct<", "map<")


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The text ``df.explain(mode)`` prints, without executing ``df``."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def lint_oracle_surface(con, sql: str) -> list[str]:
    """Return ['col: TYPE', ...] for driver-hostile oracle output columns."""
    rows = con.execute(f"DESCRIBE SELECT * FROM ({sql}) __lint__").fetchall()
    return [
        f"{name}: {typ}"
        for name, typ, *_ in rows
        if any(b in typ.upper() for b in _BAD_DUCK)
    ]


def lint_spark_surface(sdf: DataFrame) -> list[str]:
    """Return ['col: type', ...] for non-atomic top-level Spark columns."""
    return [
        f"{name}: {typ}"
        for name, typ in sdf.dtypes
        if typ.startswith(_BAD_SPARK_PREFIX)
    ]


def _canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def _canon_frame(cols, rows):
    """(order-insensitive value hash, sorted canonical lines) of a result,
    with columns taken in name order as the driver does."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(_canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, lines


def oracle_connection(sf_dir: str):
    """An in-memory DuckDB connection with one view per substrate table
    present in ``sf_dir``."""
    import duckdb  # only the checkers need it; keep registry import light

    con = duckdb.connect()
    for t in _ORACLE_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


@dataclass
class QueryCheck:
    """What ``check_query`` found for one query."""

    problems: list[str]  # empty when the query passes
    plan: list[str]  # the part of ``problems`` found before execution
    rows: int  # rows the Spark result collected
    diff: tuple[str, str] | None = None  # first differing canonical (spark, duckdb) rows


def plan_problems(df: DataFrame) -> list[str]:
    """The checks that need no execution: unique atomic output columns
    and no banned physical-plan node."""
    cols = df.columns
    problems = []
    if len(set(cols)) != len(cols):
        problems.append(f"duplicate column names {cols}")
    bad = lint_spark_surface(df)
    if bad:
        problems.append(f"non-atomic spark output {bad}")
    plan = physical_plan(df)
    problems += [f"{node} in physical plan" for node in BANNED_PLAN_NODES if node in plan]
    return problems


def check_query(spark: SparkSession, con, name: str, sf_dir: str) -> QueryCheck:
    """Build query ``name`` once on ``sf_dir`` and check it: the
    ``plan_problems``, then collect it and, when it carries an oracle,
    check a driver-safe oracle surface plus the row count, schema and
    value hash against DuckDB on ``con`` (see ``oracle_connection``)."""
    _load_all()
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    cols = df.columns
    plan = plan_problems(df)
    problems = list(plan)
    rows = [tuple(r) for r in df.collect()]
    if spec.oracle is None:
        return QueryCheck(problems, plan, len(rows))
    bad = lint_oracle_surface(con, spec.oracle)
    if bad:
        problems.append(f"driver-hostile oracle output {bad}")
    cur = con.execute(spec.oracle)
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()
    diff = None
    if len(rows) != len(d_rows):
        problems.append(f"rowcount spark={len(rows)} duck={len(d_rows)}")
    if sorted(cols) != sorted(d_cols):
        problems.append(f"schema spark={sorted(cols)} duck={sorted(d_cols)}")
    if len(rows) == len(d_rows) and sorted(cols) == sorted(d_cols):
        sh, sl = _canon_frame(cols, rows)
        dh, dl = _canon_frame(d_cols, d_rows)
        if sh != dh:
            problems.append(f"valuehash spark={sh} duck={dh}")
            diff = next((a, b) for a, b in zip(sl, dl) if a != b)
    return QueryCheck(problems, plan, len(rows), diff)
