"""Smoke test of the benchmark at sf 0.001.

Usage (from the repository root): ``python3 perfbench/smoke.py``

Makes one short run per workload, untraced and traced, and
checks that the last output line has exactly the contract's keys, that every
named metric is present with its unit and a finite value, and that no
operation failed.  Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def expect(ok: bool, what) -> None:
    if not ok:
        raise AssertionError(what)


def check_run(workload: str, trace: int, spec: dict) -> None:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    expect(proc.returncode == 0, f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    report, result = json.loads(lines[-2])["report"], json.loads(lines[-1])
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys())
    expect(result["correct"] and result["failed"] == 0, report["problems"])
    expect(report["failed_frac"] == 0, report["problems"])
    expect(isinstance(result["attempted"], int) and result["attempted"] >= 1, result["attempted"])
    wanted = spec["per_layer" if trace else "end_to_end"]
    expect(set(result["metrics"]) == {m["name"] for m in wanted}, sorted(result["metrics"]))
    for m in wanted:
        got = result["metrics"][m["name"]]
        expect(got["unit"] == m["unit"], (m["name"], got))
        expect(math.isfinite(got["value"]), (m["name"], got))
    print(f"ok {workload} trace={trace}: {result['attempted']} ops, "
          f"{len(result['metrics'])} metrics", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for name in WORKLOADS:
        for trace in (0, 1):
            check_run(name, trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
