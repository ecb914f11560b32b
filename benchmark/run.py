"""heavydb_spark benchmark: one command, three seeded workloads.

    python3 benchmark/run.py --workload dashboard --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout.  A child process makes the run's inputs
from the seed; a second child (worker.py) sets up the engine, measures
whole blocks, cycles or passes for the given seconds and checks every
output.  The last line of standard output is one JSON object: the
end-to-end metrics BENCHMARK.json declares with --trace 0, its per-layer
metrics with --trace 1.  The line before it (`# report {...}`) holds the
figures the file does not declare, the environment and, with --trace 1,
the path of the span file.  See benchmark/README.md.
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
WORKLOADS = ("dashboard", "curation", "ingest")
# Enough for the sf0.1-shaped inputs and small enough for a 15 GB host
# to share; the heap starts at this size (worker.spark_conf).
DRIVER_MEM = "2g"
PREPARE_TIMEOUT_S = 600  # builds the per-checkout caches on a first run
WORKER_TIMEOUT_S = 170


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _child(cmd, env, cwd, timeout) -> int:
    """Run cmd in its own process group.  When it ends, or times out, kill
    whatever is left in the group (a JVM a failed worker left behind) and
    wait until the group is empty."""
    p = subprocess.Popen(cmd, env=env, cwd=cwd, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"benchmark: {cmd[1]} timed out", file=sys.stderr)
        return 1
    finally:
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            p.poll()  # reap the child itself once it is killed
            time.sleep(0.1)
        p.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "heavydb_spark")):
        print(f"benchmark: no heavydb_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    declared = _declared("per_layer" if args.trace else "end_to_end")

    run_dir = os.path.join(ROOT, ".bench_tmp",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    cache_dir = os.path.join(ROOT, ".bench_cache")
    out_dir = os.path.join(ROOT, ".bench_out")
    for d in ("local", "jtmp", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM, the launcher's too: no perf-data file and no temp
        # files outside the run directory
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(run_dir, "jtmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("OMP_NUM_THREADS", None)
    result_path = os.path.join(run_dir, "result.json")
    span_file = os.path.join(
        out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
    try:
        rc = _child([sys.executable, os.path.join(HERE, "prepare.py"),
                     "--workload", args.workload, "--seed", str(args.seed),
                     "--run-dir", run_dir, "--cache-dir", cache_dir],
                    env, ROOT, PREPARE_TIMEOUT_S)
        if rc != 0:
            print("benchmark: making inputs failed", file=sys.stderr)
            return 1
        cmd = [sys.executable, os.path.join(HERE, "worker.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--run-dir", run_dir, "--cache-dir", cache_dir,
               "--out", result_path, "--span-file", span_file]
        cmd += ["--t-spawn", repr(time.time())]
        rc = _child(cmd, env, run_dir, WORKER_TIMEOUT_S)
        if rc != 0:
            print("benchmark: the measured run failed", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    produced = res["per_layer"] if args.trace else res["end_to_end"]
    metrics, report = {}, dict(res["report"])
    for name, unit in declared.items():
        # a per-layer metric the workload does not produce is a layer it
        # bypasses: its work there is 0
        value = produced.get(name, (0, unit))[0]
        metrics[name] = {"value": value, "unit": unit}
    for name, (value, unit) in produced.items():
        if name not in declared:
            report[f"undeclared.{name}"] = value
    missing = [n for n in declared if n not in produced]
    if args.trace:
        report["bypassed"] = missing
        report["span_file"] = os.path.relpath(span_file, ROOT)
    elif missing:
        print(f"benchmark: {args.workload} gave no {missing}",
              file=sys.stderr)
        return 1
    report["workload"] = args.workload
    report["attempted"], report["failed"] = res["attempted"], res["failed"]
    print("# report " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
