"""The benchmark workloads: one pass of each, its correctness checks
and the per-layer numbers a traced pass yields.

A workload drives the package only through its public entry points.
Every call into a layer sits inside a span; a traced pass also marks
Spark's counters around the pass and around each plan construction.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from spans import PY_BOOT, PY_INIT, PY_RUN, PY_SENT, ROWS_OUT, planning_phases

#: Left out so that a run fits its share of the benchmark's time
#: budget on four shared cores: dedup_keep_best, whose cluster pass and
#: recursive DuckDB oracle add about 11 s to every run, and
#: curation_funnel_report, whose plan construction launches jobs and
#: took 7-11 s of the cold pass and 3-4 s of a steady one.
CURATION_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_exact_substring",
    "dedup_minhash_verified",
    "docs_repetition_signals",
    "token_collocations",
)


class Context:
    """What a workload needs: the session, its inputs, the tracer and
    (in a traced pass) the Spark probe, plus the list of checks."""

    def __init__(self, spark, queries, oracles, inputs, work, manifest, tracer, probe):
        self.spark = spark
        self.queries = queries
        self.oracles = oracles
        self.inputs = inputs
        self.work = work
        self.manifest = manifest
        self.tracer = tracer
        self.probe = probe
        self.checks: list[dict] = []
        self.new_pass()

    def new_pass(self) -> None:
        """Reset the per-pass accumulators of a traced pass."""
        self.layer: dict[str, float] = {"plans.build_jobs": 0.0}
        self.phase_frames: list = []

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"name": name, "ok": bool(ok), "detail": "" if ok else detail})

    def build(self, fn, *args, **kwargs):
        """Plan construction, spanned; a traced pass also counts the jobs
        that construction launched."""
        with self.tracer.span("plans.build", "plans"):
            if not self.traced:
                return fn(*args, **kwargs)
            mark = self.probe.begin()
            try:
                return fn(*args, **kwargs)
            finally:
                self.layer["plans.build_jobs"] += self.probe.jobs_since(mark)


def _python_nodes(nodes: list[dict], name: str, needle: str) -> list[dict]:
    return [n["metrics"] for n in nodes if n["name"] == name and needle in n["desc"]]


def _sum(metrics: list[dict], key: str) -> float:
    return float(sum(m.get(key, 0.0) for m in metrics))


def engine_layer(counters: dict) -> dict[str, float]:
    """Per-layer values common to every workload, from one pass's probe."""
    nodes = counters["nodes"]
    out = {f"engine.{k}": float(counters[k]) for k in (
        "jobs", "stages", "tasks", "task_cpu_s", "task_gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "codegen_compiles", "codegen_compile_s")}
    out["pydaemon.boot_s"] = _sum([n["metrics"] for n in nodes], PY_BOOT)
    out["pydaemon.init_s"] = _sum([n["metrics"] for n in nodes], PY_INIT)
    return out


class ServiceAreasEtl:
    """The paper's pipeline: a full memoized build into a fresh store,
    the GeoJSON export and the meter lookup, per pass; then one
    unchanged re-run and (traced) one re-run after a KML edit."""

    name = "service_areas_etl"

    def __init__(self, ctx: Context) -> None:
        from utility_service_areas_spark.operators.geo import points_in_polygons
        from utility_service_areas_spark.plans import targets
        from utility_service_areas_spark.plans.targets import (
            run_pipeline,
            service_areas_stages,
        )
        from utility_service_areas_spark.sources.geojson import write_geojson

        self.ctx = ctx
        # run_pipeline looks its two hash functions up as module globals;
        # a span around each gives the hashing time of a run.
        for fn_name in ("_content_hash", "_build_code_hash"):
            setattr(targets, fn_name, _spanned(ctx.tracer, getattr(targets, fn_name)))
        self._pip = points_in_polygons
        self._run_pipeline = run_pipeline
        self._stages_fn = service_areas_stages
        self._write_geojson = write_geojson
        cfg = ctx.manifest["config"]
        self.kml_dir = os.path.join(ctx.inputs, "kml")
        self.stage_args = (
            self.kml_dir,
            os.path.join(ctx.inputs, "certificates.csv"),
            os.path.join(ctx.inputs, "chronology.csv"),
            cfg["operator_ids"],
            cfg["inactive_ids"],
            [tuple(p) for p in cfg["merge_patches"]],
        )
        self.expected = ctx.manifest["expected"]
        self.last_store = None

    def _stages(self):
        ctx = self.ctx
        stages = ctx.build(self._stages_fn, *self.stage_args)
        if not ctx.traced:
            return stages

        def traced(build):
            def build_traced(spark, deps):
                return ctx.build(build, spark, deps)

            return build_traced

        return [dataclasses.replace(s, build=traced(s.build)) for s in stages]

    def _pipeline(self, store: str) -> dict:
        with self.ctx.tracer.span("plans.targets.run_pipeline", "plans.targets"):
            return self._run_pipeline(self.ctx.spark, self._stages(), store)

    def run_pass(self, i: int) -> dict:
        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        store = os.path.join(ctx.work, f"store-{i}")
        geojson = os.path.join(ctx.work, f"areas-{i}.geojson")
        t0 = time.perf_counter()
        report = self._pipeline(store)
        t1 = time.perf_counter()
        with tr.span("sources.geojson.write_geojson", "sources.geojson"):
            self._write_geojson(
                spark.read.parquet(os.path.join(store, "service_areas")), geojson, multi=True
            )
        t2 = time.perf_counter()
        with tr.span("operators.geo.lookup", "operators.geo"):
            areas = spark.read.parquet(os.path.join(store, "service_areas"))
            polys = areas.select("certificate_number", F.explode("geometry").alias("geometry"))
            meters = spark.read.parquet(os.path.join(ctx.inputs, "meters.parquet"))
            hits_df = ctx.build(
                self._pip, meters, polys, id_col="certificate_number"
            ).select("meter_id", "certificate_number")
            with tr.span("engine.collect", "engine"):
                hits = hits_df.collect()
        t3 = time.perf_counter()
        if ctx.traced:
            ctx.phase_frames.append(hits_df)
        self._pending = (i, report, store, geojson, hits)
        self.last_store = store
        return {"pass_s": t3 - t0, "pipeline_s": t1 - t0, "geojson_s": t2 - t1,
                "lookup_s": t3 - t2, "geojson_bytes": os.path.getsize(geojson),
                "matches": len(hits)}

    def _polygons_match(self, tag: str, pairs) -> None:
        """(certificate_number, n_source_polygons) pairs against the
        surviving certificates the generator built."""
        got = {str(int(c)): int(n) for c, n in pairs}
        want = self.expected["n_source_polygons"]
        self.ctx.check(f"{tag}.n_source_polygons", got == want,
                       f"{len(got)} certificates, {len(want)} expected")

    def check_pass(self) -> None:
        """Check the last pass's outputs (outside its timed region)."""
        ctx = self.ctx
        i, report, store, geojson, hits = self._pending
        tag = f"pass{i}"
        ctx.check(f"{tag}.report", set(report.values()) == {"built"}, json.dumps(report))
        with open(geojson) as f:
            features = json.load(f)["features"]
        ctx.check(f"{tag}.geojson_features", len(features) == self.expected["geojson_features"],
                  f"{len(features)} features")
        self._polygons_match(tag, [(f["properties"]["certificate_number"],
                                    f["properties"]["n_source_polygons"]) for f in features])
        got = {str(r[0]): int(r[1]) for r in hits}
        want = self.expected["owners"]
        bad = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
        ctx.check(f"{tag}.meter_owners", bad == 0 and len(hits) == len(got),
                  f"{bad} meters with a wrong owner")

    def after_passes(self) -> dict:
        """The memoized re-runs against the last pass's store: the
        unchanged one, and in a traced run also the one after a KML
        edit. The edit re-parses every KML (about 8 s on four shared
        cores), which an untraced run leaves out to keep two steady
        passes within its share of the benchmark's time budget."""
        ctx = self.ctx
        store = self.last_store
        ctx.tracer.run_id = "memo"
        t0 = time.perf_counter()
        memo = self._pipeline(store)
        out = {
            "memo_rerun_s": time.perf_counter() - t0,
            "hash_s": sum(s.end - s.start for s in ctx.tracer.spans
                          if s.run_id == "memo" and s.name == "plans.targets.hash"),
        }
        ctx.check("memo.report", set(memo.values()) == {"skipped"}, json.dumps(memo))
        if not ctx.traced:
            return out
        name = ctx.manifest["edit_file"]
        shutil.copyfile(os.path.join(ctx.inputs, "edits", name), os.path.join(self.kml_dir, name))
        ctx.tracer.run_id = "incremental"
        t2 = time.perf_counter()
        inc = self._pipeline(store)
        t3 = time.perf_counter()
        want = {"certificates": "skipped", "chronology": "skipped",
                "raw_service_areas": "built", "service_areas": "built"}
        ctx.check("incremental.report", inc == want, json.dumps(inc))
        rows = ctx.spark.read.parquet(os.path.join(store, "service_areas")).select(
            "certificate_number", "n_source_polygons").collect()
        self._polygons_match("incremental", rows)
        return {
            **out,
            "incremental_rerun_s": t3 - t2,
            "stages_built": sum(v == "built" for v in inc.values()),
            "stages_skipped": sum(v == "skipped" for v in inc.values()),
            "store_bytes": _tree_bytes(store),
        }

    @staticmethod
    def pass_layer(counters: dict, record: dict) -> dict[str, float]:
        nodes = counters["nodes"]
        verify = _python_nodes(nodes, "ArrowEvalPython", "_st_contains_point_grouped_raw")
        candidates = _sum(verify, ROWS_OUT)
        return {
            "sources.kml.parse_run_s": _sum(_python_nodes(nodes, "MapInPandas", "parse"), PY_RUN),
            "functions.geometry.make_valid_run_s": _sum(
                _python_nodes(nodes, "ArrowEvalPython", "_st_make_valid_raw"), PY_RUN),
            "operators.geo.verify_run_s": _sum(verify, PY_RUN),
            "operators.geo.bytes_sent": _sum(verify, PY_SENT),
            "operators.geo.candidates": candidates,
            "operators.geo.matches": float(record["matches"]),
            "operators.geo.match_ratio": record["matches"] / candidates if candidates else 0.0,
            "operators.geo.lookup_s": record["lookup_s"],
            "sources.geojson.write_s": record["geojson_s"],
            "sources.geojson.bytes": float(record["geojson_bytes"]),
        }


def _spanned(tracer, fn):
    def spanned(*args):
        with tracer.span("plans.targets.hash", "plans.targets"):
            return fn(*args)

    return spanned


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _d, files in os.walk(path) for f in files
    )


class CurationDedup:
    """The LLM-data side: six curation queries, per pass. The
    first pass consumes each result with collect(), and those rows are
    compared with the query's DuckDB oracle on the same files; the
    later passes run through the noop sink. Both consume every column
    of every row, where count() would let Catalyst prune subtrees; the
    collect() pass spares a third execution just for the check."""

    name = "curation_dedup"

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.data_dir = ctx.inputs
        self._collected: dict[str, tuple[list, list]] = {}

    def run_pass(self, i: int) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        per_query = {}
        t0 = time.perf_counter()
        for name in CURATION_QUERIES:
            with tr.span(f"query.{name}", "bench"):
                q0 = time.perf_counter()
                df = ctx.build(ctx.queries[name], ctx.spark, self.data_dir)
                if ctx.traced:
                    # The noop write plans its own QueryExecution; plan
                    # the frame's own one too, so its tracker has phases.
                    with tr.span("engine.plan", "engine"):
                        df._jdf.queryExecution().executedPlan()
                    ctx.phase_frames.append(df)
                q1 = time.perf_counter()
                if i == 0:
                    with tr.span("engine.collect", "engine"):
                        self._collected[name] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    with tr.span("engine.noop_write", "engine"):
                        df.write.format("noop").mode("overwrite").save()
                q2 = time.perf_counter()
            per_query[name] = {"build_s": q1 - q0, "exec_s": q2 - q1}
        return {"pass_s": time.perf_counter() - t0, "queries": per_query}

    def check_pass(self) -> None:
        """Compare the first pass's rows with the DuckDB oracles."""
        if not self._collected:
            return
        import duckdb

        from tools.check_oracle import _canon_frame

        con = duckdb.connect()
        try:
            path = os.path.join(self.data_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            for name, (s_cols, s_rows) in self._collected.items():
                cur = con.execute(self.ctx.oracles[name])
                d_cols = [d[0] for d in cur.description]
                d_rows = cur.fetchall()
                same = (
                    len(s_rows) == len(d_rows)
                    and sorted(s_cols) == sorted(d_cols)
                    and _canon_frame(s_cols, s_rows)[0] == _canon_frame(d_cols, d_rows)[0]
                )
                self.ctx.check(f"oracle.{name}", same,
                               f"spark {len(s_rows)} rows, duckdb {len(d_rows)} rows")
        finally:
            con.close()
        self.pairs = {n: len(self._collected[n][1])
                      for n in ("dedup_minhash_lsh", "dedup_minhash_verified")}
        self._collected = {}

    def after_passes(self) -> dict:
        cand = self.pairs["dedup_minhash_lsh"]
        ver = self.pairs["dedup_minhash_verified"]
        return {
            "candidate_pairs": cand,
            "verified_pairs": ver,
            "pair_precision": ver / cand if cand else 0.0,
        }

    @staticmethod
    def pass_layer(counters: dict, record: dict) -> dict[str, float]:
        return {f"query.{n}.exec_s": q["exec_s"] for n, q in record["queries"].items()}


WORKLOADS = {w.name: w for w in (ServiceAreasEtl, CurationDedup)}


def tracker_phases(frames: list) -> dict[str, float]:
    out = {"engine.analysis_s": 0.0, "engine.optimization_s": 0.0, "engine.planning_s": 0.0}
    for df in frames:
        for k, v in planning_phases(df).items():
            out[f"engine.{k}_s"] += v
    return out
