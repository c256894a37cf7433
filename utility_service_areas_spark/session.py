"""Tuned SparkSession builder.

One builder for every entry point (tests, the oracle gate, bench.py,
the benchmark and the CLI). It runs ``local[SPARK_GRAFT_CPUS]`` (32
when unset) with one shuffle partition per core, and is written so the
same code scales to a multi-executor cluster: AQE handles runtime
partition coalescing and skew joins, Arrow handles Python<->JVM
transfer for the pandas-UDF geometry/hash paths, and the codegen cache
and JIT settings below suit any long-lived JVM that keeps running the
same query shapes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache; build_session says why.
CODEGEN_CACHE_ENTRIES = 2000


def build_session(app_name: str = "usa-spark", master: str | None = None) -> SparkSession:
    # Python workers (pandas UDFs) must be able to import this package
    # regardless of the driver's cwd; on a cluster this would be a
    # --py-files/pex artifact instead.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = (
            repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # One shuffle partition per core locally; on a cluster AQE
        # coalesces from a larger initial number, so this is a floor.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Preloading worker daemon (pydaemon.py): numpy/pandas/pyarrow
        # and the package's Arrow kernels import ONCE per daemon (= per
        # executor) before the fork loop; forked workers inherit the
        # warm modules copy-on-write instead of each paying the ~1 s
        # import storm on the first Python-evaluation stage.
        .config("spark.python.daemon.module", "utility_service_areas_spark.pydaemon")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS); Spark reads it as
        # long ns-since-epoch and sources/tables.py converts to µs.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Dim tables (region/nation/supplier/part) stay broadcastable
        # even at 100 TB fact scale; 64 MB is a safe executor budget.
        .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
        # The versioned_table DataSource implements pushFilters (zone-map
        # file/row-group skipping); Spark 4.1 refuses to plan a reader
        # that implements it unless this is on (DATA_SOURCE_PUSHDOWN_
        # DISABLED) — deliberate loudness, so the conf lives here.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Generated-class cache. Spark keeps 100 classes by default, in
        # an LRU keyed by generated source. A workload whose pass compiles
        # more distinct classes than that evicts what its next re-run
        # needs, so every re-run recompiles nearly all of them. Distinct
        # classes per pass: curation_dedup 134, service_areas_etl 97, so
        # 2000 holds the larger with room for whatever else the session
        # ran. Measured 100 -> 2000 on 4 cores: steady passes recompile
        # 88-107 -> 0-4 classes on curation_dedup and 29 -> 0-8 on
        # service_areas_etl, and the median curation steady-pass CPU
        # falls 13.1 -> 10.1 s (10 alternating pairs), mostly C2 no
        # longer re-JITting reloaded classes. Fewer class loads also mean
        # fewer of the CHA deoptimizations the JIT-flag comment below
        # describes. One tools/check_oracle.py sweep of all 268 queries
        # compiles 3709 distinct classes at sf0.01, more than the cache
        # holds, yet still 5434 -> 3825 compiles, because neighbouring
        # queries share classes. Metaspace at the end of the test suite
        # went 217 -> 247 MB.
        #
        # The few classes a second or third pass still compiles are AQE's
        # doing, not the cache's. AQE numbers whole-stage-codegen stages
        # in the order it creates query stages, which follows which of
        # the concurrently running stages finishes first, so one stage is
        # *(5) in one run and *(7) in the next. The number is part of the
        # generated class name, GeneratedIteratorForCodegenStage<N>, hence
        # of the cache key: every residual class seen (dedup_minhash_
        # verified, and five stages of service_areas_etl) differed from an
        # earlier one only there. Once each order has been seen, re-runs
        # compile nothing. The internal conf
        # spark.sql.codegen.useIdInClassName=false drops the number and
        # measured 0 residual compiles (134 -> 130 on the first curation
        # pass), but it also drops the stage id from every generated frame
        # in jstack and profiler output, which is how stage-level CPU
        # cliffs are traced to their operator.
        #
        # A static conf: it takes effect only when set before the JVM's
        # CodeGenerator first initializes, i.e. in the first builder.
        .config("spark.sql.codegen.cache.maxEntries", CODEGEN_CACHE_ENTRIES)
    )
    # HotSpot permanently demotes a method to the interpreter after
    # PerMethodRecompilationCutoff (default 400) deoptimizations.
    # Every whole-stage-codegen class load invalidates CHA-based
    # inlining in the SHARED Catalyst eval methods (Expression.eval,
    # higher-order functions, Md5.nullSafeEval, ...), so a session
    # that keeps compiling new queries trips the cutoff and those
    # methods run interpreted — measured here as intermittent
    # 10-20x CPU cliffs on whole stages (dedup_minhash_lsh warm
    # repeat: 1.1 s normally, 21 s during a demotion window; all
    # task time was Executor CPU in interpreted eval frames).
    # Raising the cutoff keeps recompilation available for the life
    # of the JVM. Applies to any long-lived codegen-heavy Spark JVM,
    # driver or executor, local or cluster.
    jit_flags = (
        "-XX:+UnlockDiagnosticVMOptions "
        "-XX:PerMethodRecompilationCutoff=10000 "
        "-XX:PerBytecodeRecompilationCutoff=10000"
    )
    # APPEND to any extraJavaOptions already supplied via
    # spark-defaults.conf / the environment instead of overwriting
    # them (ADVICE r17): SparkConf() picks up spark.* properties
    # from the standard config chain.
    try:
        from pyspark import SparkConf

        base = SparkConf()
    except Exception:  # pragma: no cover - gateway bootstrap quirk
        base = None
    for key in (
        "spark.driver.extraJavaOptions",
        "spark.executor.extraJavaOptions",
    ):
        existing = (base.get(key, "") if base is not None else "") or ""
        merged = f"{existing} {jit_flags}".strip()
        builder = builder.config(key, merged)
    spark = builder.getOrCreate()
    _register_python_datasources(spark)
    return spark


def _register_python_datasources(spark: SparkSession) -> None:
    """Engine-register the repo's Spark 4 Python DataSource connectors.

    Re-registering in the SAME session overwrites silently; a SECOND
    session in one JVM raises DATA_SOURCE_ALREADY_EXISTS (Spark 4.1's
    uniqueness check is JVM-global while lookup is per-session), which
    is tolerated here — the caller's lookup will still fail with
    DATA_SOURCE_NOT_FOUND if the source is genuinely unusable, which is
    the clearer error."""
    from utility_service_areas_spark.sources.pyds import (
        ShapefileDataSource,
        VersionedTableDataSource,
    )

    for cls in (ShapefileDataSource, VersionedTableDataSource):
        try:
            spark.dataSource.register(cls)
        except Exception as exc:  # pragma: no cover - cross-session only
            if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
                raise
