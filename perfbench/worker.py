"""One measured run, in a fresh process started by ``run.py``.

Usage: ``python3 perfbench/worker.py <config.json>``.  The config names the
workload, seed, run length, whether to trace, the input directories and where
to write the result.  Phases, in order:

1. setup: import the engine, start the session, ``Engine.load`` the inputs
   into a fresh layout-cache directory; ``setup_s`` is the time from process
   spawn until the catalog is ready;
2. first pass: every operation once, in seeded order (``first_pass_s``);
3. output check, untimed: each first-pass result against its DuckDB oracle
   or invariant; its digest becomes the expected digest of later executions;
4. ``WARM_UP_PASSES`` warm-up passes, untimed but checked;
5. warm passes: ``round(seconds / PASS_S)`` whole passes, at least one, so
   every run of a workload times the same mix.  The warm metrics come from
   each operation's median latency over these passes.  A traced run makes
   at least two and traces every second one, so the tracing overhead on
   ``warm_qps`` is measured inside one process.

The worker ends without stopping Spark; ``run.py`` kills what is left.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import sys
import time

import probes
import workloads

WARM_UP_PASSES = 1
PASS_S = 4.0  # nominal seconds of one warm pass
TAIL_PCT = 75  # percentile of the per-operation warm medians in the report


def digest(rows) -> str:
    """Order-insensitive digest of collected rows."""
    h = hashlib.sha1()
    for r in sorted(repr(tuple(row)) for row in rows):
        h.update(r.encode())
    return h.hexdigest()


def percentile(values: "list[float]", pct: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = workloads.WORKLOADS[cfg["workload"]]
        self.seed = cfg["seed"]
        self.trace = bool(cfg["trace"])
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])  # Spark's task slots
        self.attempted = 0
        self.failed = 0
        self.problems: "list[str]" = []
        self.layer_sums: "dict[str, float]" = {}
        self.traced_ops = 0
        self.op_ms: "dict[str, list[float]]" = {}  # every untraced latency, per op
        self.marks: "dict[str, float]" = {}  # wall-clock end of each phase

    # -- setup ---------------------------------------------------------------

    def setup(self) -> None:
        t_spawn = self.cfg["t_spawn"]
        from matrixone_spark.engine import Engine
        from matrixone_spark.queries import load_all
        from matrixone_spark.session import get_spark

        self.registry = load_all()
        t_imported = time.time()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t_started = time.time()
        self.session = probes.Session(self.spark)
        self.tracer = probes.Tracer(self.session) if self.trace else None
        if self.tracer:
            self.tracer.prepare()
            self.tracer.install()

        self.sf_dir = self.cfg["data_dir"]
        cache = os.environ["SPARK_GRAFT_CACHE_DIR"]
        t0 = time.perf_counter()
        self.engine = Engine(self.spark).load(self.sf_dir)
        load_s = time.perf_counter() - t0
        self.setup_s = time.time() - t_spawn
        if self.tracer:
            self.tracer.uninstall()
        nbytes, nfiles = probes.dir_bytes(cache)
        split = {d.rsplit("-", 3)[0] for d in os.listdir(cache)} if os.path.isdir(cache) else set()
        src = sum(os.path.getsize(os.path.join(self.sf_dir, f"{t}.parquet")) for t in split)
        self.setup_layers = {
            "session.import_ms": (t_imported - t_spawn) * 1e3,
            "session.start_ms": (t_started - t_imported) * 1e3,
            "catalog.load_ms": load_s * 1e3,
            "layout_cache.build_ms": self.tracer.ms.pop("layout_cache.build_ms", 0.0) if self.tracer else 0.0,
            "layout_cache.bytes_written": nbytes,
            "layout_cache.files": nfiles,
            "layout_cache.write_amp": nbytes / src if src else 0.0,
        }

    # -- one operation -----------------------------------------------------

    def execute(self, op: workloads.Op, traced: bool):
        """Run ``op`` once; return (latency seconds, rows, columns) or raise."""
        tr = self.tracer if traced else None
        if tr:
            j0, calls0 = tr.job_id(), tr.py4j_calls
        t0 = time.perf_counter()
        df = op.build()
        t1 = time.perf_counter()
        if tr:
            jb, build_calls = tr.job_id(), tr.py4j_calls - calls0
        rows = df.collect()
        t2 = time.perf_counter()
        collect_end_ms = time.time() * 1e3
        if op.after:
            op.after()
        t3 = time.perf_counter()
        if tr:
            self._record_trace(op, df, rows, j0, jb, tr.job_id(), build_calls,
                               (t1 - t0) * 1e3, (t2 - t1) * 1e3, (t3 - t0) * 1e3, collect_end_ms)
        return t3 - t0, rows, df.columns

    def _record_trace(self, op, df, rows, j0, jb, j1, build_calls, build_ms, collect_ms,
                      wall_ms, collect_end_ms) -> None:
        s = self.session
        s.drain_listener()
        all_jobs = s.jobs(j0, j1)
        collect_jobs = s.jobs(jb, j1)
        cat = s.catalyst_ms(df)
        tail = collect_end_ms - collect_jobs["last_end_ms"] if collect_jobs["jobs"] else collect_ms
        add = self._add
        if op.name in self.registry:
            add("queries.build_ms", build_ms)
        add("queries.py4j_calls", build_calls)
        add("queries.build_jobs", jb - j0)
        for phase, ms in cat.items():
            add(f"catalyst.{phase}_ms", ms)
        for key in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
                    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew"):
            add(f"exec.{key}", all_jobs[key])
        add("exec.wall_ms", wall_ms)
        add("collect.tail_ms", max(tail, 0.0))
        add("collect.rows", len(rows))
        add("collect.result_bytes", probes.result_bytes(rows))
        self.traced_ops += 1

    def _add(self, key: str, value: float) -> None:
        self.layer_sums[key] = self.layer_sums.get(key, 0.0) + value

    # -- passes --------------------------------------------------------------

    def run_pass(self, ops, order, traced: bool, expected: "dict | None"):
        """Run one pass; return ((op name, latency) pairs, wall seconds,
        results by op)."""
        latencies, results, checking = [], {}, 0.0
        if traced:
            self.tracer.install()
        t_pass = time.perf_counter()
        try:
            for i in order:
                op = ops[i]
                self.attempted += 1
                try:
                    latency, rows, cols = self.execute(op, traced)
                except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                    self.failed += 1
                    self.problems.append(f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}")
                    continue
                latencies.append((op.name, latency))
                if not traced:
                    self.op_ms.setdefault(op.name, []).append(round(latency * 1e3, 1))
                t_check = time.perf_counter()
                if expected is None:
                    results[op.name] = (rows, cols)
                elif expected.get(op.name) != digest(rows):
                    self.failed += 1
                    self.problems.append(f"{op.name}: result differs from the checked first pass")
                checking += time.perf_counter() - t_check
        finally:
            if traced:
                self.tracer.uninstall()
        return latencies, time.perf_counter() - t_pass - checking, results

    def check(self, ops, results) -> dict:
        """Check first-pass results; return the expected digest per op."""
        import pandas as pd

        from matrixone_spark.oracle import compare_frames, duckdb_connect

        con = duckdb_connect(self.cfg["data_dir"])
        duck = lambda sql: con.execute(sql).fetchdf()  # noqa: E731
        expected = {}
        try:
            for op in ops:
                if op.name not in results:
                    continue
                rows, cols = results[op.name]
                problems = []
                if op.oracle:
                    got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
                    problems += compare_frames(got, duck(op.oracle))
                if op.check:
                    problems += op.check(rows, duck)
                if not op.oracle and not op.check:
                    problems.append("no oracle and no invariant")
                if problems:
                    self.failed += 1
                    self.problems.append(f"{op.name}: " + "; ".join(problems)[:500])
                else:
                    expected[op.name] = digest(rows)
        finally:
            con.close()
        return expected

    def main(self) -> dict:
        self.setup()
        self.marks["setup"] = time.time()
        ops = workloads.build_ops(self.workload, self.registry, self.engine, self.sf_dir,
                                  self.cfg["sf"], self.cfg["run_dir"], self.seed)
        rng = random.Random(self.seed)
        order = list(range(len(ops)))
        rng.shuffle(order)
        _, first_pass_s, first = self.run_pass(ops, order, False, None)
        self.marks["first_pass"] = time.time()
        objects_after_first = self.session.objects()
        expected = self.check(ops, first)
        self.marks["check"] = time.time()
        del first

        # untimed, checked passes: the JIT keeps speeding passes up for about
        # a minute, steepest at first, and the host's load stretches that
        # curve by a different amount in every run
        for _ in range(WARM_UP_PASSES):
            rng.shuffle(order)
            self.run_pass(ops, order, False, expected)
        self.marks["warm_up"] = time.time()

        latencies, walls = {False: [], True: []}, {False: [], True: []}
        passes = max(1, round(self.cfg["seconds"] / PASS_S))
        if self.trace:
            passes = max(2, passes)
        for p in range(passes):
            traced = self.trace and p % 2 == 1
            rng.shuffle(order)
            lat, wall, _ = self.run_pass(ops, order, traced, expected)
            latencies[traced] += lat
            walls[traced].append(wall)

        self.marks["warm"] = time.time()
        # each operation's median over the untraced warm passes: a pause that
        # hits one execution moves no metric
        per_op: "dict[str, list[float]]" = {}
        for name, latency in latencies[False]:
            per_op.setdefault(name, []).append(latency)
        warm = [statistics.median(v) for v in per_op.values()]
        s = self.session
        heap_mb, driver_mb = s.retained_mb()
        out = {
            "attempted": self.attempted,
            "failed": self.failed,
            "problems": self.problems[:20],
            "metrics": {
                "setup_s": self.setup_s,
                "first_pass_s": first_pass_s,
                # operations per second of a pass made of the median executions
                "warm_qps": len(warm) / sum(warm) if warm else 0.0,
                # the geometric mean, not the median: across a few distinct
                # operations the median jumps from one operation to another
                "query_gmean_ms": statistics.geometric_mean(warm) * 1e3 if warm else 0.0,
                "retained_mb": heap_mb + driver_mb,
            },
            "report": {
                "failed_frac": self.failed / max(self.attempted, 1),
                "leaked_objects": s.objects() - objects_after_first,
                "peak_rss_mb": s.peak_rss_mb(),
                "retained_heap_mb": heap_mb,
                "driver_rss_mb": driver_mb,
                # with a few distinct operations the tail is one operation's
                # latency, too unsteady between runs for a bounded metric
                "query_tail_ms": percentile(warm, TAIL_PCT) * 1e3 if warm else 0.0,
                "warm_passes": passes,
                "warm_pass_s": walls[False],
                "tail_pct": TAIL_PCT,
                "op_ms": self.op_ms,
                "ops_per_pass": len(ops),
                "spark_conf": s.settings(),
                "marks": self.marks,
            },
        }
        if self.trace:
            out["layers"] = self.layers(out["report"]["leaked_objects"], latencies, walls)
        return out

    def layers(self, leaked: int, latencies, walls) -> dict:
        s, tr, n = self.session, self.tracer, max(self.traced_ops, 1)
        per_op = {k: v / n for k, v in self.layer_sums.items()}
        per_op.update({k: v / n for k, v in tr.ms.items()})
        per_op.update({k: v / n for k, v in tr.counts.items()})
        wall_ms = self.layer_sums.get("exec.wall_ms", 0.0)
        out = dict(self.setup_layers)
        out["session.leaked_objects"] = leaked
        for key in ("queries.build_ms", "queries.py4j_calls", "queries.build_jobs",
                    "mysql_dialect.translate_ms", "engine.sql_ms",
                    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
                    "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms", "exec.cpu_ms",
                    "exec.gc_ms", "exec.input_bytes", "exec.shuffle_read_bytes",
                    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.task_skew",
                    "collect.tail_ms", "collect.rows", "collect.result_bytes",
                    "streaming.jobs", "results.save_ms", "results.scan_ms",
                    "results.bytes_written"):
            out[key] = per_op.get(key, 0.0)
        out["exec.busy_frac"] = self.layer_sums.get("exec.run_ms", 0.0) / (wall_ms * self.cores) if wall_ms else 0.0
        out["cache.entries"] = s.cache_entries()
        out["cache.storage_mb"] = s.storage_mb()
        out["cache.persisted_rdds"] = s.persisted_rdds()
        out["streaming.sink_tables"] = s.sink_tables()
        for traced, key in ((False, "trace.qps_untraced"), (True, "trace.qps_traced")):
            out[key] = len(latencies[traced]) / sum(walls[traced]) if walls[traced] else 0.0
        return out


def main(cfg_path: str) -> None:
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    result = Run(cfg).main()
    result["report"]["env"] = {k: v for k, v in sorted(os.environ.items())
                               if k.startswith(("SPARK_", "PYSPARK_", "JAVA_", "JDK_", "TMPDIR"))}
    with open(cfg["result_path"], "w") as fh:
        json.dump(result, fh)
    sys.stdout.flush()
    sys.stderr.flush()
    # no spark.stop(): run.py kills the JVM and its workers, which takes a
    # fraction of the seconds a clean stop does
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1])
