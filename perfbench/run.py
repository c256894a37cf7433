"""The repository's benchmark: one seeded workload per command.

    python3 perfbench/run.py --workload service_areas_etl --seed 1 \
        --seconds 10 --trace 0

Generates the workload's inputs from the seed under .perfbench_work/
(never inside a timed region), runs them through the package in a
fresh worker process at SPARK_GRAFT_CPUS=<nproc> (a cold first pass,
then steady passes until they add up to --seconds), checks the outputs,
and prints a readable report followed by one JSON result line. With
--trace 1 the result line carries the per-layer metrics instead of the
end-to-end ones. The run's full record (and, traced, its spans) is
kept under .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 160  # leaves room for generation and clean-up within 180 s


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _stop_session(sid: int) -> None:
    """Kill whatever of the worker's session outlived it and wait,
    briefly, until none is left. The session holds the Spark JVM and the
    pyspark daemon with its Python workers, which moves itself into a
    process group of its own but stays in the session."""
    deadline = time.time() + 10
    while time.time() < deadline:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _cpu_jiffies() -> list[int]:
    """The aggregate 'cpu' line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _fmt(value: float) -> str:
    return f"{value:.6g}"


def main() -> int:
    sys.path.insert(0, HERE)
    from gen import GENERATORS, generate
    from metrics import MOVES, REPORT_ONLY_UNITS, UNITS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    la_start = os.getloadavg()[0]
    cpu_start = _cpu_jiffies()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    out = os.path.join(out_dir, f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    try:
        inputs = os.path.join(work, "inputs")
        manifest = generate(args.workload, args.seed, inputs)
        nproc = len(os.sched_getaffinity(0))
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(nproc),
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
            TMPDIR=os.path.join(work, "tmp"),
            # keep the JVMs' temporary files inside the checkout too
            JAVA_TOOL_OPTIONS=" ".join(
                o for o in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}") if o),
        )
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--inputs", inputs, "--work", work,
               "--out", out, "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--t0", repr(time.time())]
        # Own session, so a timeout can stop the worker's JVM and Python
        # workers with it.
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _stop_session(proc.pid)
            proc.wait()
            print(f"worker timed out after {WORKER_TIMEOUT_S} s", file=sys.stderr)
            return 1
        finally:
            _stop_session(proc.pid)
        if code != 0:
            print(f"worker failed with exit code {code}", file=sys.stderr)
            return 1
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["seed"] = args.seed
    rec["load_avg_1m"] = {"start": la_start, "end": os.getloadavg()[0]}
    cpu_end = _cpu_jiffies()
    total = sum(cpu_end) - sum(cpu_start)
    # share of the machine's CPU time the host gave to other guests
    rec["cpu_steal_share"] = (cpu_end[7] - cpu_start[7]) / total if total else 0.0
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)

    checks = rec["checks"]
    failed = [c for c in checks if not c["ok"]]
    n_untraced = rec["n_steady_untraced"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"measured {rec['measure_s']:.1f} s  passes {len(rec['passes'])}")
    print("environment " + json.dumps({**rec["env"], "load_avg_1m": rec["load_avg_1m"],
                                       "cpu_steal_share": rec["cpu_steal_share"]}))
    print("inputs " + json.dumps(manifest["sizes"]))
    samples = {"setup_s": 1, "steady_pass_s": n_untraced,
               "first_pass_cpu_s": 1, "steady_pass_cpu_s": n_untraced}
    for name, value in rec["metrics"].items():
        print(f"metric {name} = {_fmt(value)} {UNITS[name]}  (samples {samples[name]})")
    for name, value in rec["report_only"].items():
        if name in REPORT_ONLY_UNITS:
            print(f"metric {name} = {_fmt(value)} {REPORT_ONLY_UNITS[name]}  (report only)")
    print(f"metric fail_ratio = {len(failed)}/{len(checks)} checked outputs")
    for c in failed:
        print(f"check FAILED {c['name']}: {c['detail']}")
    for name, value in rec["per_layer"].items():
        moves, workload = MOVES[name]
        print(f"layer {name} = {_fmt(value)} {UNITS[name]}  (should move {moves} on {workload})")

    values = rec["per_layer"] if args.trace else rec["metrics"]
    metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    print(json.dumps({"correct": not failed, "attempted": len(checks),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
