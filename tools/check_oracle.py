"""Local mirror of the driver's correctness gate.

Runs ``plans.registry.check_query`` on every ``queries()`` entry at a
given SF, the same checker the test suite's registry sweep runs: unique
atomic output columns, no banned physical-plan node, and, for a query
with a DuckDB oracle, a driver-safe oracle surface plus row count,
schema (column names) and an order-insensitive value hash. The summary
line also gives the sweep's Janino compile count and compile seconds
(Spark's CodegenMetrics), so a loss of generated-class reuse shows up in
the gate's own output. Usage:

    python tools/check_oracle.py [--sf SF_DIR] [--show-diff] [name ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# _canon_frame is re-exported: perfbench's curation workload hashes with it.
from utility_service_areas_spark.plans.registry import (  # noqa: E402
    _canon_frame,  # noqa: F401
    check_query,
    oracle_connection,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--show-diff", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from utility_service_areas_spark.session import build_session

    import __spark_entry__ as entry_mod

    names = args.names or list(entry_mod.queries())
    oracles = entry_mod.oracle_sql()

    spark = build_session("check-oracle")
    con = oracle_connection(args.sf)

    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compiler = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles0, compile_ns0 = compiles.getCount(), compiler.compileTime()

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        try:
            check = check_query(spark, con, name, args.sf)
        except Exception as exc:
            side = "duckdb" if isinstance(exc, duckdb.Error) else "spark"
            print(f"FAIL {name}: {side} error")
            traceback.print_exc()
            n_fail += 1
            continue
        dt = time.time() - t0
        if check.problems:
            if args.show_diff and check.diff:
                print(f"  spark: {check.diff[0]}\n  duck : {check.diff[1]}")
            print(f"FAIL {name}: {'; '.join(check.problems)} ({dt:.1f}s)")
            n_fail += 1
        elif name not in oracles:
            print(f"rows-only {name}: {check.rows} rows ({dt:.1f}s)")
            n_rows_only += 1
        else:
            print(f"PASS {name}: {check.rows} rows ({dt:.1f}s)")
            n_pass += 1
    print(
        f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail; "
        f"{compiles.getCount() - compiles0} Janino compiles, "
        f"{(compiler.compileTime() - compile_ns0) / 1e9:.1f} s compiling"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
