"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry at a given SF and compares with the
DuckDB oracle: row count, schema (column names + coarse types), and an
order-insensitive value hash. The summary line also gives the sweep's
Janino compile count and compile seconds (Spark's CodegenMetrics), so a
loss of generated-class reuse shows up in the gate's own output. Usage:

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


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
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(_canon_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, lines


# Output-surface lint (r7 post-mortem): the driver canonicalizes through
# pandas, where DuckDB HUGEINT/DECIMAL become float64 (hash-mismatching
# Spark's int64) and raw list columns crash its sort. Neither failure is
# visible to this mirror's fetchall() path, so we lint the declared
# output surface mechanically instead: every oracle's LIMIT-0 schema must
# be free of HUGEINT/UHUGEINT/DECIMAL/list/struct/map columns, and every
# Spark result must have only atomic top-level columns.
_BAD_DUCK = ("HUGEINT", "UHUGEINT", "DECIMAL", "STRUCT", "MAP", "[]", "UNION")
_BAD_SPARK_PREFIX = ("array<", "struct<", "map<")


def lint_oracle_surface(con, sql: str) -> list[str]:
    """Return ['col: TYPE', ...] for driver-hostile oracle output columns."""
    rows = con.execute(f"DESCRIBE SELECT * FROM ({sql}) __lint__").fetchall()
    return [
        f"{name}: {typ}"
        for name, typ, *_ in rows
        if any(b in typ.upper() for b in _BAD_DUCK)
    ]


def lint_spark_surface(sdf) -> list[str]:
    """Return ['col: type', ...] for non-atomic top-level Spark columns."""
    return [
        f"{name}: {typ}"
        for name, typ in sdf.dtypes
        if typ.startswith(_BAD_SPARK_PREFIX)
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--show-diff", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from utility_service_areas_spark.session import build_session

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.names or list(qs)

    spark = build_session("check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiler = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles0, compile_ns0 = compiles.getCount(), compiler.compileTime()

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            bad = lint_spark_surface(sdf)
            if bad:
                print(f"FAIL {name}: non-atomic spark output {bad}")
                n_fail += 1
                continue
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            bad = lint_oracle_surface(con, oracles[name])
            if bad:
                print(f"FAIL {name}: driver-hostile oracle output {bad}")
                n_fail += 1
                continue
            cur = con.execute(oracles[name])
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"schema spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if not problems:
            sh, sl = _canon_frame(s_cols, s_rows)
            dh, dl = _canon_frame(d_cols, d_rows)
            if sh != dh:
                problems.append(f"valuehash spark={sh} duck={dh}")
                if args.show_diff:
                    for a, b in zip(sl, dl):
                        if a != b:
                            print(f"  spark: {a}\n  duck : {b}")
                            break
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({dt:.1f}s)")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_rows)} rows ({dt:.1f}s)")
            n_pass += 1
    print(
        f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail; "
        f"{compiles.getCount() - compiles0} Janino compiles, "
        f"{(compiler.compileTime() - compile_ns0) / 1e9:.1f} s compiling"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
