"""Run the benchmark on several seeds and print each end-to-end metric's
spread: the distance between the first and third quartile of its values
as a share of their median.

    python3 benchmark/steady.py --workload dashboard --seeds 1-10 [--seconds 8]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    lo, _, hi = args.seeds.partition("-")
    values: dict[str, list[float]] = {}
    for seed in range(int(lo), int(hi or lo) + 1):
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True).stdout
        lines = out.strip().splitlines()
        res = json.loads(lines[-1])
        print(f"seed {seed}: {time.monotonic() - t0:.1f} s failed {res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items())
              + " " + lines[-2], flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        print(f"{args.workload} {k}: median {statistics.median(vs):.4g} "
              f"spread {spread(vs):.4f} bound {bounds[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
