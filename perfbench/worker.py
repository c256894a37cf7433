"""One benchmark run inside a fresh process: set up the session, run
the workload's passes for the given seconds, check the outputs and
write one JSON record. Started by run.py, which generates the inputs;
this process never sees the seed.

    python3 perfbench/worker.py --workload NAME --inputs DIR --work DIR \
        --out FILE --seconds S --trace 0|1 --t0 EPOCH
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


#: Untraced steady passes per run, at the least. The first steady pass
#: after the cold one still runs about 15% slower than the next (JIT
#: and Python workers warming up), so one alone spread 0.31 of its
#: median over five seeds on four shared cores; the median of two
#: spread 0.11.
MIN_STEADY = 2


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants: this client, the Spark JVM with all
    its threads, the pyspark daemon and the Python workers it forks. The
    tree is followed through parent pids, not the process group, because
    the daemon moves itself and its workers into a group of their own.
    CPU time the host steals from the VM is not in it, which keeps it
    steadier than wall time on a shared machine."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))]


def _environment(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_env": {k: v for k, v in sorted(os.environ.items())
                            if k.startswith("SPARK_GRAFT_")},
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory", ""),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()

    from spans import SparkProbe, Tracer, self_times

    tracer = Tracer(enabled=bool(args.trace))
    setup = {}
    s0 = time.perf_counter()
    with tracer.span("session.build", "session"):
        from utility_service_areas_spark.session import build_session

        spark = build_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    s1 = time.perf_counter()
    with tracer.span("plans.registry.load", "plans.registry"):
        from utility_service_areas_spark.plans.registry import all_oracles, all_queries

        queries, oracles = all_queries(), all_oracles()
    s2 = time.perf_counter()
    with tracer.span("session.warmup", "session"):
        spark.range(1).collect()
    setup_s = time.time() - args.t0
    setup.update(session_build_s=s1 - s0, registry_load_s=s2 - s1,
                 warmup_s=time.perf_counter() - s2)

    from metrics import BENCHMARK, FIRST_PASS_LAYER, SELF_TIME_LAYERS
    from workloads import WORKLOADS, Context, engine_layer, tracker_phases

    with open(os.path.join(args.inputs, "manifest.json")) as f:
        manifest = json.load(f)
    probe = SparkProbe(spark) if args.trace else None
    ctx = Context(spark, queries, oracles, args.inputs, args.work, manifest, tracer, probe)
    wl = WORKLOADS[args.workload](ctx)

    # Closed loop: one client, each pass starts when the previous ends.
    # After the cold first pass, steady passes run until they add up to
    # the given seconds. In a traced run the even passes (the first
    # included) are traced and the odd ones run untraced, for the
    # overhead.
    records, layers = [], {}
    start = time.perf_counter()
    i = 0
    while True:
        traced = bool(args.trace) and i % 2 == 0
        tracer.enabled = traced
        tracer.run_id = f"pass{i}"
        ctx.new_pass()
        mark = probe.begin() if traced else None
        cpu0 = _tree_cpu_s()
        with tracer.span("pass", "bench"):
            rec = wl.run_pass(i)
        rec["cpu_s"] = _tree_cpu_s() - cpu0
        if traced:
            counters = probe.end(mark)
            layer = engine_layer(counters)
            layer.update(wl.pass_layer(counters, rec))
            layer.update(ctx.layer)
            layer.update(tracker_phases(ctx.phase_frames))
            own = self_times(tracer.spans, {tracer.run_id})
            layer["plans.build_s"] = sum(
                s.end - s.start for s in tracer.spans
                if s.run_id == tracer.run_id and s.name == "plans.build"
                and (s.parent is None or tracer.spans[s.parent].name != "plans.build")
            )
            for span_layer, metric in SELF_TIME_LAYERS.items():
                layer[metric] = own.get(span_layer, 0.0)
            layers[i] = layer
        tracer.enabled = False
        wl.check_pass()
        rec["traced"] = traced
        records.append(rec)
        i += 1
        untraced_steady = sum(not r["traced"] for r in records[1:])
        if args.trace:
            # one untraced steady pass for the overhead, and end on a
            # traced one: the re-runs after the passes reuse its store,
            # whose stage keys hashed the traced stage builds
            enough = untraced_steady >= 1 and traced
        else:
            enough = untraced_steady >= MIN_STEADY
        if enough and sum(r["pass_s"] for r in records[1:]) >= args.seconds:
            break
    measure_s = time.perf_counter() - start

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")

    tracer.enabled = bool(args.trace)
    tracer.run_id = "after"
    a0 = time.perf_counter()
    extra = wl.after_passes()
    after_s = time.perf_counter() - a0
    env = _environment(spark)
    spark.stop()

    untraced = [r for r in records[1:] if not r["traced"]]
    metrics = {
        "setup_s": setup_s,
        "steady_pass_s": statistics.median(r["pass_s"] for r in untraced),
        "first_pass_cpu_s": records[0]["cpu_s"],
        "steady_pass_cpu_s": statistics.median(r["cpu_s"] for r in untraced),
    }
    report_only = {"peak_rss_mb": peak_rss_mb, "first_pass_s": records[0]["pass_s"]}
    if wl.name == "service_areas_etl":
        report_only["lookup_s"] = statistics.median(r["lookup_s"] for r in untraced)
        report_only["memo_rerun_s"] = extra["memo_rerun_s"]
        if "incremental_rerun_s" in extra:
            report_only["incremental_rerun_s"] = extra["incremental_rerun_s"]
    else:
        lat = [q["build_s"] + q["exec_s"] for r in untraced for q in r["queries"].values()]
        report_only["query_p50_s"] = statistics.median(lat)
        report_only["query_p90_s"] = _percentile(lat, 0.9)
        report_only["query_samples"] = len(lat)

    per_layer = {}
    if args.trace:
        steady_ids = [k for k in layers if k > 0]
        keys = set().union(*(layers[k] for k in steady_ids))
        per_layer = {k: statistics.median(layers[k2].get(k, 0.0) for k2 in steady_ids)
                     for k in keys}
        per_layer["engine.codegen_compiles_steady"] = per_layer.get("engine.codegen_compiles", 0.0)
        for k in FIRST_PASS_LAYER:
            per_layer[k] = layers[0].get(k, 0.0)
        per_layer["session.build_s"] = setup["session_build_s"]
        per_layer["plans.registry.load_s"] = setup["registry_load_s"]
        traced_s = statistics.median(records[k]["pass_s"] for k in steady_ids)
        untraced_s = metrics["steady_pass_s"]
        per_layer.update({"trace.traced_pass_s": traced_s, "trace.untraced_pass_s": untraced_s,
                          "trace.overhead_s": traced_s - untraced_s})
        sizes = manifest["sizes"]
        if wl.name == "service_areas_etl":
            per_layer.update({
                "sources.kml.files": sizes["kml_files"],
                "sources.kml.placemarks": sizes["kml_placemarks"],
                "sources.kml.coords": sizes["kml_coords"],
                "plans.targets.hash_s": extra["hash_s"],
                "plans.targets.memo_rerun_s": extra["memo_rerun_s"],
                "plans.targets.incremental_rerun_s": extra["incremental_rerun_s"],
                "plans.targets.stages_built": extra["stages_built"],
                "plans.targets.stages_skipped": extra["stages_skipped"],
                "plans.targets.store_bytes": extra["store_bytes"],
            })
        else:
            per_layer.update({
                "operators.dedup.candidate_pairs": extra["candidate_pairs"],
                "operators.dedup.verified_pairs": extra["verified_pairs"],
                "operators.dedup.pair_precision": extra["pair_precision"],
            })
        per_layer = {m["name"]: float(per_layer.get(m["name"], 0.0))
                     for m in BENCHMARK["per_layer"]}
        tracer.write(os.path.splitext(args.out)[0] + ".spans.json")

    result = {
        "workload": wl.name,
        "setup": setup,
        "measure_s": measure_s,
        "after_s": after_s,
        "passes": records,
        "n_steady_untraced": len(untraced),
        "metrics": metrics,
        "report_only": report_only,
        "per_layer": per_layer,
        "layers_by_pass": layers,
        "extra": extra,
        "checks": ctx.checks,
        "sizes": manifest["sizes"],
        "env": env,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
