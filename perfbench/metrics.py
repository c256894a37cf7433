"""Metric definitions. The names, units and directions of the
result-line metrics live in BENCHMARK.json alone; this module reads
them from there and adds what that file has no field for: which
end-to-end metric each per-layer metric should move, on which
workload, and the units of the metrics reported outside the result
line.
"""

from __future__ import annotations

import json
import os

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)

#: unit of every result-line metric, end-to-end and per-layer
UNITS = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]}

ETL = "service_areas_etl"
CURATION = "curation_dedup"
ALL = "all workloads"

#: Units of the metrics printed in the report lines but left out of
#: the result line. Two spread too widely across seeds on a shared
#: 4-core VM for any bound: peak_rss_mb (VmHWM of the Spark JVM plus the
#: client after the passes; 0.35 of its median over five seeds, as JVM
#: heap growth follows GC timing) and first_pass_s (the cold pass's wall
#: time, up to 0.25, moving with the CPU time the host steals; the
#: gated first_pass_cpu_s leaves steal out). The others exist on one
#: workload only, and every result-line metric must exist on every
#: workload: lookup_s (the meter lookup), memo_rerun_s and
#: incremental_rerun_s (traced runs only) on the ETL; query_p50_s and
#: query_p90_s (build plus noop write of one query) on curation.
REPORT_ONLY_UNITS = {
    "peak_rss_mb": "MB",
    "first_pass_s": "s",
    "lookup_s": "s",
    "memo_rerun_s": "s",
    "incremental_rerun_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
}

#: per-layer name -> (end-to-end metric it should move, workload).
#: Times taken from Spark's SQL metrics (the pydaemon.* and *_run_s
#: values) are task time summed over tasks, not wall time. A metric
#: that does not apply to a workload reads 0 there.
MOVES = {
    "session.build_s": ("setup_s", ALL),
    "plans.registry.load_s": ("setup_s", ALL),
    "plans.build_s": ("first_pass_s", CURATION),
    "plans.build_jobs": ("first_pass_s", CURATION),
    "engine.analysis_s": ("query_p50_s", CURATION),
    "engine.optimization_s": ("query_p50_s", CURATION),
    "engine.planning_s": ("query_p50_s", CURATION),
    "engine.codegen_compiles": ("first_pass_s", CURATION),
    "engine.codegen_compile_s": ("first_pass_s", CURATION),
    "engine.codegen_compiles_steady": ("steady_pass_s", CURATION),
    "engine.jobs": ("steady_pass_s", CURATION),
    "engine.stages": ("steady_pass_s", CURATION),
    "engine.tasks": ("steady_pass_s", CURATION),
    "engine.task_cpu_s": ("steady_pass_s", CURATION),
    "engine.task_gc_s": ("peak_rss_mb", CURATION),
    "engine.shuffle_write_bytes": ("steady_pass_s", CURATION),
    "engine.shuffle_read_bytes": ("steady_pass_s", CURATION),
    "engine.spill_bytes": ("peak_rss_mb", CURATION),
    "pydaemon.boot_s": ("first_pass_s", ETL),
    "pydaemon.init_s": ("first_pass_s", ETL),
    "sources.kml.parse_run_s": ("steady_pass_s", ETL),
    "sources.kml.files": ("steady_pass_s", ETL),
    "sources.kml.placemarks": ("steady_pass_s", ETL),
    "sources.kml.coords": ("steady_pass_s", ETL),
    "functions.geometry.make_valid_run_s": ("steady_pass_s", ETL),
    # time inside the two hash functions during the unchanged re-run
    "plans.targets.hash_s": ("memo_rerun_s", ETL),
    "plans.targets.memo_rerun_s": ("memo_rerun_s", ETL),
    "plans.targets.incremental_rerun_s": ("incremental_rerun_s", ETL),
    "plans.targets.stages_built": ("incremental_rerun_s", ETL),
    "plans.targets.stages_skipped": ("incremental_rerun_s", ETL),
    "plans.targets.store_bytes": ("steady_pass_s", ETL),
    "sources.geojson.write_s": ("steady_pass_s", ETL),
    "sources.geojson.bytes": ("steady_pass_s", ETL),
    "operators.geo.lookup_s": ("lookup_s", ETL),
    "operators.geo.verify_run_s": ("lookup_s", ETL),
    "operators.geo.bytes_sent": ("lookup_s", ETL),
    "operators.geo.candidates": ("lookup_s", ETL),
    "operators.geo.matches": ("lookup_s", ETL),
    "operators.geo.match_ratio": ("lookup_s", ETL),
    "operators.dedup.candidate_pairs": ("steady_pass_s", CURATION),
    "operators.dedup.verified_pairs": ("steady_pass_s", CURATION),
    "operators.dedup.pair_precision": ("steady_pass_s", CURATION),
    "query.dedup_minhash_lsh.exec_s": ("steady_pass_s", CURATION),
    "query.dedup_ngram_jaccard.exec_s": ("steady_pass_s", CURATION),
    "query.dedup_exact_substring.exec_s": ("steady_pass_s", CURATION),
    "query.dedup_minhash_verified.exec_s": ("steady_pass_s", CURATION),
    "query.docs_repetition_signals.exec_s": ("steady_pass_s", CURATION),
    "query.token_collocations.exec_s": ("steady_pass_s", CURATION),
    # self time per layer in a steady traced pass: span duration minus
    # the time its child spans cover
    "bench.self_s": ("steady_pass_s", ALL),
    "plans.self_s": ("steady_pass_s", ALL),
    "plans.targets.self_s": ("steady_pass_s", ETL),
    "sources.geojson.self_s": ("steady_pass_s", ETL),
    "operators.geo.self_s": ("lookup_s", ETL),
    "engine.self_s": ("steady_pass_s", ALL),
    # traced minus untraced steady pass of the same run; the traced one
    # runs later, further into JIT warm-up, which biases this low
    "trace.overhead_s": ("steady_pass_s", ALL),
    "trace.traced_pass_s": ("steady_pass_s", ALL),
    "trace.untraced_pass_s": ("steady_pass_s", ALL),
}

#: Per-layer values read from the cold first pass; the rest are medians
#: over the traced steady passes.
FIRST_PASS_LAYER = (
    "pydaemon.boot_s",
    "pydaemon.init_s",
    "engine.codegen_compiles",
    "engine.codegen_compile_s",
)

#: Layers whose self time is reported (span layer -> metric name).
SELF_TIME_LAYERS = {
    "bench": "bench.self_s",
    "plans": "plans.self_s",
    "plans.targets": "plans.targets.self_s",
    "sources.geojson": "sources.geojson.self_s",
    "operators.geo": "operators.geo.self_s",
    "engine": "engine.self_s",
}
