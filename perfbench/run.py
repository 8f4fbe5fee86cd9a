"""mospark benchmark: seeded, output-checked closed-loop workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 12 --trace 0

Each run generates its input tables from ``--seed`` into a fresh directory
under ``.perfbench/``, then starts ``perfbench/worker.py`` as a fresh process
with one client running the workload as a closed loop on ``local[<cores - 1>]``.
Everything the run writes (inputs, layout cache, Spark local dirs, warehouse,
result and snapshot stores) stays in that directory, which is removed at the
end.  The last line of standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics.  The line before it holds
the run's report: ``failed_frac``, ``leaked_objects``, ``peak_rss_mb``,
``query_tail_ms``, every operation's latencies (cold first), pass and phase
times, a host-speed probe, the share of CPU time the virtual machine's host
took (steal), the effective Spark settings and environment, and the first
problems found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.02  # TPC-H-shaped tables at sf 0.02 (120k lineitem rows)
RUN_LIMIT_S = 170  # the whole run, set-up and checks included


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SCALE, help="scale factor of the generated inputs")
    return p.parse_args(argv)


def metric_specs(trace: int) -> "list[dict]":
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def worker_env(run_dir: str) -> dict:
    """The engine's own knobs at their defaults, except the core count and
    the directories, which all point into the run directory.  Spark gets one
    core fewer than the machine has, so the client process, the JIT
    compilers, the collector and the Python workers do not queue behind its
    tasks."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(max(1, len(os.sched_getaffinity(0)) - 1)),
        SPARK_GRAFT_CACHE_DIR=os.path.join(run_dir, "layout_cache"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark_local"),
        TMPDIR=tmp,
        # the JVM's temp files and its perf-data file default to /tmp
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def host_probe_s() -> float:
    """Seconds for a fixed single-thread loop: shows how fast the host ran
    this run, since shared hosts drift by tens of percent over minutes."""
    t0 = time.perf_counter()
    total = 0
    for k in range(1_000_000):
        total += k * k
    return time.perf_counter() - t0


def cpu_jiffies() -> "tuple[int, int]":
    """(stolen, total) CPU time of this machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def session_members(sid: int) -> "list[int]":
    """Live processes of session ``sid``.  The worker leads its own session,
    which its JVM, the PySpark daemon (a process group of its own) and the
    Python workers all inherit."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session id
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """Kill every process of the worker's session and wait until all have
    exited.  The result is already on disk, so nothing needs a clean stop."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    for _ in range(300):
        members = session_members(proc.pid)
        if not members:
            return
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    raise RuntimeError(f"processes of the worker's session did not exit: {members}")


def run_worker(cfg: dict, run_dir: str, limit_s: float) -> dict:
    cfg_path = os.path.join(run_dir, "config.json")
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=run_dir, env=worker_env(run_dir), stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_session(proc)
    if code != 0:
        raise RuntimeError(f"worker {'timed out' if code is None else f'exited with {code}'}")
    with open(cfg["result_path"]) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    t_start = time.time()
    # a SIGTERM unwinds like an exception, so the worker's session is still
    # killed and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "matrixone_spark")):
        print("perfbench: matrixone_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    specs = metric_specs(args.trace)
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=scratch)
    try:
        probe_s = host_probe_s()
        jiffies = cpu_jiffies()
        data_dir = os.path.join(run_dir, "data")
        gen.generate(data_dir, args.seed, args.sf, workloads.WORKLOADS[args.workload].tables)
        cfg = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "sf": args.sf, "run_dir": run_dir, "data_dir": data_dir,
            "result_path": os.path.join(run_dir, "result.json"),
        }
        result = run_worker(cfg, run_dir, RUN_LIMIT_S - (time.time() - t_start))
        stolen, total = (b - a for a, b in zip(jiffies, cpu_jiffies()))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    values = result["layers"] if args.trace else result["metrics"]
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    marks = dict(spawn=cfg["t_spawn"], **result["report"].pop("marks"), end=time.time())
    report = dict(result["report"], workload=args.workload, seed=args.seed,
                  host_probe_s=probe_s, host_steal_frac=stolen / max(total, 1),
                  problems=result["problems"],
                  phase_s={k: round(t - t_start, 2) for k, t in marks.items()})
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
