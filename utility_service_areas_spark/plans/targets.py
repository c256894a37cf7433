"""{targets}-parity memoized pipeline runs (VERDICT r11 task #3).

The reference pipeline is an R {targets} DAG: `tar_make` re-runs ONLY
the stages whose inputs' content hashes changed, reading everything
else from the stage store (_targets.R:1-60 pipeline definitions).
This module is that contract for the Spark pipeline:

  Stage     = name + file inputs + upstream stages + params + build fn
  stage key = md5(input file CONTENT ++ upstream stage keys ++ params
                  ++ the build fn's own source) — editing a stage's
              TRANSFORMATION invalidates it too, exactly like
              tar_make re-running a target whose command changed
  manifest  = <store>/_MANIFEST.json  (stage -> key, rows, output)

`run_pipeline` walks the DAG in declaration order; a stage whose key
matches the manifest AND whose parquet output exists is SKIPPED — its
output is served to downstream builds straight from the store (the
`tar_read` move). Editing one input file recomputes exactly that
stage's cone of the DAG; an unchanged run is a no-op.

Shared KML parse: the reference reads every KML for two targets (the
raw and the cleaned layer). `service_areas_stages` parses the
directory once per run and hands the same frame to both KML builds,
within the memo contract:
  - lazy: the parse is built by the first KML stage that actually
    builds, so a run that skips both stages never lists or parses;
  - per run: it lives in the stage list, and every run_pipeline call
    gets a fresh list, so an edited KML is never served from an
    earlier run's parse (the stage keys still hash the KML content);
  - materialized once through `operators.dedup.lineage_cut`: a
    reliable checkpoint when a checkpoint dir is set (an executor
    loss cannot lose the parse), else an eager local checkpoint, so
    the parse runs as its own SQL execution with its Python-worker
    metrics instead of hiding inside the first consumer's job.
Measured with `perfbench/run.py --workload service_areas_etl
--seconds 10` on 4 shared cores, 20 alternating pairs against the
two-parse pipeline: steady-pass CPU 15.01 -> 11.11 s median (-26%,
lower in 20 of 20 pairs); a traced pass runs 37 jobs and 46 tasks
instead of 38 and 128 (the two 43-task listing jobs are gone, the
eager checkpoint adds one job) and spends 0.54 s instead of 1.22 s in
the parse worker (seed 7).

Hashing posture: inputs here are the reference's scrape artifacts
(KML / CSV / chronology files — dim-sized by construction), so the
content hash is a driver-side streaming md5, exactly what {targets}
does. A TABLE-sized input at 100 TB would use the #161 snapshot-diff
shape instead (Spark-side md5-of-content per key, one partial-agg
fold to a corpus digest) — the manifest format already carries any
hex digest, so that swap is local to `_content_hash`.

Parity: _targets.R:1-60 (tar_make skip-unchanged), R/functions.R
stage list mapped in plans/service_areas.py's module docstring.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_MANIFEST.json"


@dataclass(frozen=True)
class Stage:
    name: str
    build: Callable[[SparkSession, dict[str, DataFrame]], DataFrame]
    inputs: tuple[str, ...] = ()  # files or directories, content-hashed
    deps: tuple[str, ...] = ()  # upstream stage names
    params: str = ""  # config that must invalidate the stage on change


def _iter_files(path: str) -> list[str]:
    if os.path.isdir(path):
        out = []
        for root, _dirs, files in os.walk(path):
            out.extend(os.path.join(root, f) for f in files)
        return sorted(out)
    return [path]


def _content_hash(paths: tuple[str, ...]) -> str:
    """Digest of input CONTENT: per file, the path RELATIVE to its
    declared input root (so relocating the tree or reading through a
    bind mount/symlink of identical bytes does NOT invalidate — the
    {targets} contract is content, not location) plus a length prefix
    (an unambiguous frame: bytes can never shift between a name and
    the next file's content)."""
    h = hashlib.md5()
    for p in sorted(paths):
        for f in _iter_files(p):
            rel = os.path.relpath(f, p if os.path.isdir(p) else os.path.dirname(p))
            size = os.path.getsize(f)
            h.update(f"{rel}\x00{size}\x00".encode("utf-8"))
            with open(f, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def _fn_source(fn) -> str:
    import inspect

    try:
        return inspect.getsource(fn)
    except (OSError, TypeError):
        code = getattr(fn, "__code__", None)
        return repr((code.co_code, code.co_consts)) if code else repr(fn)


def _transitive_fns(build) -> list[tuple[str, object]]:
    """The build function plus every first-party Python function it
    (transitively) references — by global name, closure cell, or a
    name used inside a nested lambda/def. Scope is bounded to this
    package and the build fn's own module: third-party callees
    (pyspark, stdlib) are version-pinned environment, not pipeline
    command, exactly as {targets} hashes the user's functions but not
    R itself."""
    import types

    build_mod = getattr(build, "__module__", "") or ""

    def in_scope(fn) -> bool:
        m = getattr(fn, "__module__", "") or ""
        return m == build_mod or m.startswith("utility_service_areas_spark")

    def key(fn) -> str:
        return (
            f"{getattr(fn, '__module__', '?')}:"
            f"{getattr(fn, '__qualname__', repr(fn))}"
        )

    out: dict[str, object] = {}
    stack = [build]
    while stack:
        fn = stack.pop()
        k = key(fn)
        if k in out:
            continue
        out[k] = fn
        code = getattr(fn, "__code__", None)
        if code is None:
            continue
        names: set[str] = set()
        codes = [code]
        while codes:  # nested lambdas/defs reference via their own co_names
            c = codes.pop()
            names.update(c.co_names)
            codes.extend(x for x in c.co_consts if isinstance(x, types.CodeType))
        g = getattr(fn, "__globals__", {})
        cands = [g.get(n) for n in names]
        # Module-attribute callees (r13 code review #5): `import helpers;
        # helpers.clean(df)` puts 'helpers' and 'clean' in co_names but
        # `clean` is not a global of THIS function — resolve every
        # co_name against every first-party module referenced, so an
        # edit to helpers.clean still invalidates the stage key.
        for n in names:
            mod = g.get(n)
            if isinstance(mod, types.ModuleType) and (
                getattr(mod, "__name__", "").startswith(
                    "utility_service_areas_spark"
                )
                or getattr(mod, "__name__", "") == build_mod
            ):
                cands.extend(getattr(mod, n2, None) for n2 in names)
        for cell in getattr(fn, "__closure__", None) or ():
            try:
                cands.append(cell.cell_contents)
            except ValueError:
                pass
        for v in cands:
            if (
                isinstance(v, types.FunctionType)
                and in_scope(v)
                and key(v) not in out
            ):
                stack.append(v)
    return sorted(out.items())


def _build_code_hash(build) -> str:
    """The stage's COMMAND participates in its key ({targets} parity:
    tar_make invalidates a target whose command changed — without
    this, fixing a bug in a build function would keep serving the
    pre-fix cached output until --force). r13 ADVICE fix: the hash
    covers the build fn's TRANSITIVE first-party callees (tar_make
    hashes a command's function dependencies, not just the command),
    so a bug fix in e.g. clean_certificates or build_service_areas
    invalidates every stage whose build calls it. Source text per
    function when available, bytecode+consts otherwise."""
    h = hashlib.md5()
    for k, fn in _transitive_fns(build):
        src = _fn_source(fn)
        h.update(f"{k}\x00{len(src)}\x00".encode("utf-8"))
        h.update(src.encode("utf-8"))
    return h.hexdigest()


def run_pipeline(
    spark: SparkSession,
    stages: list[Stage],
    store: str,
    incremental: bool = True,
) -> dict[str, str]:
    """Run the DAG against ``store``, memoized. Returns
    {stage name -> 'built' | 'skipped'}. ``incremental=False`` forces
    a full rebuild (still writing a fresh manifest)."""
    os.makedirs(store, exist_ok=True)
    mpath = os.path.join(store, MANIFEST_NAME)
    manifest: dict[str, dict] = {}
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)

    seen: set[str] = set()
    for s in stages:
        # deps must exist AND precede their dependent (declaration
        # order IS the execution order) — a forward reference would
        # otherwise surface as a bare KeyError mid-run
        missing = [d for d in s.deps if d not in seen]
        if missing:
            raise ValueError(
                f"stage {s.name!r}: deps {missing} not declared earlier "
                "(stages run in declaration order)"
            )
        if s.name in seen:
            raise ValueError(f"duplicate stage name {s.name!r}")
        seen.add(s.name)

    keys: dict[str, str] = {}
    outputs: dict[str, str] = {}
    report: dict[str, str] = {}
    for s in stages:
        h = hashlib.md5()
        h.update(_content_hash(s.inputs).encode())
        for d in s.deps:
            h.update(keys[d].encode())
        h.update(s.params.encode("utf-8"))
        h.update(_build_code_hash(s.build).encode())
        key = h.hexdigest()
        keys[s.name] = key
        out_path = os.path.join(store, s.name)
        outputs[s.name] = out_path

        prev = manifest.get(s.name)
        fresh = (
            incremental
            and prev is not None
            and prev.get("key") == key
            and os.path.exists(os.path.join(out_path, "_SUCCESS"))
        )
        if fresh:
            report[s.name] = "skipped"
            continue
        dep_frames = {
            d: spark.read.parquet(outputs[d]) for d in s.deps
        }
        df = s.build(spark, dep_frames)
        df.write.mode("overwrite").parquet(out_path)
        manifest[s.name] = {
            "key": key,
            "output": out_path,
            "rows": spark.read.parquet(out_path).count(),
        }
        report[s.name] = "built"

    with open(mpath, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return report


# --- the reference pipeline as a memoized DAG -----------------------

CHRONOLOGY_CSV_SCHEMA = (
    "certificate_number DOUBLE, docket_number STRING, order_id STRING, "
    "order_date STRING, order_type STRING, comment STRING"
)


def service_areas_stages(
    kml_dir: str,
    certificates_csv: str,
    chronology_csv: str,
    operator_ids: list[int],
    inactive_ids: list[int],
    merge_patches: list[tuple[int, int]],
) -> list[Stage]:
    """The _targets.R DAG: certificates_csv -> chronology ->
    raw layer -> cleaned/patched layer, each stage memoized on its
    input content + upstream keys + config.

    The list is one run's: both KML stages build from the KML parse
    it holds (see the module docstring), so make a fresh list for
    every run_pipeline call."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from utility_service_areas_spark.operators.dedup import lineage_cut
    from utility_service_areas_spark.plans.service_areas import (
        build_raw_service_areas,
        build_service_areas,
    )
    from utility_service_areas_spark.sources.certificates import (
        CERTIFICATES_CSV_SCHEMA,
        clean_certificates,
    )
    from utility_service_areas_spark.sources.kml import read_kml

    # the scrape CSV plus the KML drop date (as text; typed here, once)
    ext_schema = StructType(
        list(CERTIFICATES_CSV_SCHEMA.fields)
        + [StructField("kml_update_date", StringType())]
    )

    def certs_build(spark: SparkSession, _deps) -> DataFrame:
        raw = spark.read.csv(certificates_csv, header=True, schema=ext_schema)
        df = clean_certificates(raw)
        return df.withColumn(
            "kml_update_date",
            F.to_date(F.nullif(F.col("kml_update_date"), F.lit(""))),
        )

    def chron_build(spark: SparkSession, _deps) -> DataFrame:
        return spark.read.csv(
            chronology_csv, header=True, schema=CHRONOLOGY_CSV_SCHEMA
        )

    parsed: list[DataFrame] = []  # the run's KML parse, once built

    def kml(spark: SparkSession) -> DataFrame:
        if not parsed:
            parsed.append(lineage_cut(read_kml(spark, kml_dir), eager=True))
        return parsed[0]

    def raw_build(spark: SparkSession, deps) -> DataFrame:
        return build_raw_service_areas(kml(spark), deps["certificates"])

    def cleaned_build(spark: SparkSession, deps) -> DataFrame:
        return build_service_areas(
            kml(spark),
            deps["certificates"],
            deps["chronology"],
            operator_ids,
            inactive_ids,
            merge_patches,
        )

    params = json.dumps(
        {
            "operator_ids": sorted(operator_ids),
            "inactive_ids": sorted(inactive_ids),
            "merge_patches": sorted(merge_patches),
        },
        sort_keys=True,
    )
    return [
        Stage("certificates", certs_build, inputs=(certificates_csv,)),
        Stage("chronology", chron_build, inputs=(chronology_csv,)),
        Stage(
            "raw_service_areas",
            raw_build,
            inputs=(kml_dir,),
            deps=("certificates",),
        ),
        Stage(
            "service_areas",
            cleaned_build,
            inputs=(kml_dir,),
            deps=("certificates", "chronology"),
            params=params,
        ),
    ]


def service_areas_replay_stages(
    raw_geojson: str,
    certificates_csv: str,
    operator_ids: list[int],
    inactive_ids: list[int],
    merge_patches: list[tuple[int, int]],
) -> list[Stage]:
    """The COMMITTED-INPUTS replay DAG (VERDICT r14 task #2): the
    reference repo ships its scraped CSV, its raw merged layer, and
    its final export — this pipeline re-derives the export's
    derivable subset from the first two through the same memoized
    stage machinery as service_areas_stages, so the end-to-end
    parity diff (tests/test_reference_replay.py) runs against real
    data with {targets}-style caching."""
    from utility_service_areas_spark.plans.service_areas import (
        raw_layer_from_geojson,
        replay_service_areas_from_raw,
    )
    from utility_service_areas_spark.sources.certificates import (
        clean_certificates,
        read_certificates_csv,
    )

    def certs_build(spark: SparkSession, _deps) -> DataFrame:
        return clean_certificates(
            read_certificates_csv(spark, certificates_csv)
        )

    def raw_build(spark: SparkSession, _deps) -> DataFrame:
        return raw_layer_from_geojson(spark, raw_geojson)

    def replay_build(spark: SparkSession, deps) -> DataFrame:
        return replay_service_areas_from_raw(
            deps["raw_layer"],
            deps["certificates"],
            operator_ids,
            inactive_ids,
            merge_patches,
        )

    params = json.dumps(
        {
            "operator_ids": sorted(operator_ids),
            "inactive_ids": sorted(inactive_ids),
            "merge_patches": sorted(merge_patches),
        },
        sort_keys=True,
    )
    return [
        Stage("certificates", certs_build, inputs=(certificates_csv,)),
        Stage("raw_layer", raw_build, inputs=(raw_geojson,)),
        Stage(
            "service_areas_replay",
            replay_build,
            deps=("certificates", "raw_layer"),
            params=params,
        ),
    ]
