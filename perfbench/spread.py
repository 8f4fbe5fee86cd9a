"""Run-to-run spread of the end-to-end metrics.

Usage (from the repository root)::

    python3 perfbench/spread.py [--runs 10] [--first-seed 100] [workload ...]

Runs the benchmark once per seed (seeds first-seed, first-seed+1, ...) on each
workload, then prints per metric the median, the interquartile range as a
share of the median (from ``statistics.quantiles(values, n=4)``) and the
metric's bound from BENCHMARK.json.  A spread above a third of the bound is
flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=300, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = p.parse_args()
    worst = 0.0
    for workload in args.workloads:
        results = [run_once(spec, workload, args.first_seed + i) for i in range(args.runs)]
        print(f"{workload}: {args.runs} runs, correct={all(r['correct'] for r in results)}")
        for m in spec["end_to_end"]:
            values = [r["metrics"][m["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(values, n=4)
            share = (q3 - q1) / med
            flag = " !" if share > m["bound"] / 3 else ""
            if m["name"] != "setup_s":
                worst = max(worst, share / m["bound"])
            print(f"  {m['name']:<14} median {med:10.3f} {m['unit']:<5} "
                  f"spread {share:6.3f} bound {m['bound']}{flag}")
            print(f"    values {json.dumps([round(v, 4) for v in values])}")
    print(f"largest spread/bound, setup_s aside: {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
