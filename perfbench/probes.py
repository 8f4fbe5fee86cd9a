"""Measurements taken from outside the program.

Nothing here edits the engine: the traced run wraps public functions of the
engine's modules (and py4j's ``send_command``) for the length of a traced
pass, attributes Spark jobs to an operation by the range of job ids
allocated while it ran, and reads task metrics from Spark's status store.
"""

from __future__ import annotations

import functools
import os
import pickle
import resource
import sys
import time

# (module, attribute) of the engine's in-process materialization caches
CACHES = (
    ("matrixone_spark.catalog", "_TABLE_CACHE"),
    ("matrixone_spark.operators.fulltext", "_INDEX_CACHE"),
    ("matrixone_spark.queries.vector", "_IVF_CACHE"),
    ("matrixone_spark.queries.vector", "_IVFPQ_CACHE"),
    ("matrixone_spark.queries.vector", "_LSH_CACHE"),
    ("matrixone_spark.queries.geo_bitmap", "_S2_BASE_CACHE"),
    ("matrixone_spark.streaming.events", "_SCHEMA_CACHE"),
)


def dir_bytes(path: str) -> "tuple[int, int]":
    """(total bytes, file count) under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Session:
    """Read-only views of the running Spark application."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def next_job_id(self) -> int:
        return self.jsc.dagScheduler().numTotalJobs()

    def stream_sessions(self) -> list:
        mod = sys.modules.get("matrixone_spark.streaming.events")
        return list(getattr(mod, "_STREAM_SESSION", {}).values())

    def sink_tables(self) -> int:
        return sum(len(s.catalog.listTables()) for s in self.stream_sessions())

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def objects(self) -> int:
        """Temp views in the caller's and the streaming child session, plus
        persisted RDDs: what a leak-free long-lived session keeps flat."""
        return len(self.spark.catalog.listTables()) + self.sink_tables() + self.persisted_rdds()

    def cache_entries(self) -> int:
        return sum(len(getattr(sys.modules.get(m), a, ())) for m, a in CACHES)

    def storage_mb(self) -> float:
        infos = self.jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def peak_rss_mb(self) -> float:
        """JVM VmHWM plus this driver's ru_maxrss (both in KiB)."""
        pid = self.sc._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return (hwm + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

    def retained_mb(self) -> "tuple[float, float]":
        """(JVM heap in use after a full collection, this driver's resident
        set) in MiB: the memory the session keeps, unlike the peak, which
        moves with the collector's timing."""
        jvm = self.sc._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        with open("/proc/self/status") as fh:
            rss_kib = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:"))
        return (rt.totalMemory() - rt.freeMemory()) / 2**20, rss_kib / 1024.0

    def settings(self) -> dict:
        from matrixone_spark.session import SPARK_CONF

        conf = self.sc.getConf()
        return {k: conf.get(k, None) for k in sorted(SPARK_CONF)} | {
            "spark.master": conf.get("spark.master"),
        }

    # -- status store ---------------------------------------------------------

    def drain_listener(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, lo: int, hi: int) -> dict:
        """Sum task metrics over the jobs with ids in [lo, hi)."""
        store, jvm, gw = self.jsc.statusStore(), self.sc._jvm, self.sc._gateway
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0)
        out["task_skew"], out["last_end_ms"] = 1.0, 0.0
        quantiles = gw.new_array(jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        no_quantiles = gw.new_array(jvm.double, 0)
        for job_id in range(lo, hi):
            try:
                job = store.job(job_id)
            except Exception:  # noqa: BLE001 — evicted or never registered
                continue
            out["jobs"] += 1
            if job.completionTime().isDefined():
                out["last_end_ms"] = max(out["last_end_ms"], job.completionTime().get().getTime())
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_id = ids.apply(i)
                attempts = store.stageData(stage_id, False, jvm.java.util.ArrayList(), False, no_quantiles)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numTasks()
                    out["run_ms"] += s.executorRunTime()
                    out["cpu_ms"] += s.executorCpuTime() / 1e6
                    out["gc_ms"] += s.jvmGcTime()
                    out["input_bytes"] += s.inputBytes()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    summary = store.taskSummary(stage_id, s.attemptId(), quantiles)
                    if summary.isDefined():
                        run = summary.get().executorRunTime()
                        out["task_skew"] = max(out["task_skew"], run.apply(1) / max(run.apply(0), 1.0))
        return out

    @staticmethod
    def catalyst_ms(df) -> dict:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in out:
                out[kv._1()] = float(kv._2().durationMs())
        return out


def result_bytes(rows) -> int:
    """Pickled size of the collected values: what crossed from JVM to Python."""
    return len(pickle.dumps([tuple(r) for r in rows], protocol=pickle.HIGHEST_PROTOCOL))


class Tracer:
    """Wraps engine functions with timers and py4j with a call counter.

    ``install()`` and ``uninstall()`` bracket a traced pass, so untraced
    passes run the program exactly as shipped.
    """

    def __init__(self, session: Session):
        self.session = session
        self.ms: "dict[str, float]" = {}
        self.counts: "dict[str, float]" = {}
        self.py4j_calls = 0
        self._paused = 0  # >0 while the tracer itself talks to the JVM
        self._sites: "list[tuple[object, str, object, object]]" = []

    def job_id(self) -> int:
        self._paused += 1
        try:
            return self.session.next_job_id()
        finally:
            self._paused -= 1

    def _add(self, key: str, value: float) -> None:
        self.ms[key] = self.ms.get(key, 0.0) + value

    def _timer(self, key: str, fn, on_done=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            j0 = self.job_id() if on_done else 0
            try:
                return fn(*args, **kwargs)
            finally:
                self._add(key, (time.perf_counter() - t0) * 1e3)
                if on_done:
                    on_done(j0, args, kwargs)

        return wrapper

    def _patch_everywhere(self, owner, attr: str, key: str, on_done=None) -> None:
        """Replace ``owner.attr`` and every module-level alias of it."""
        orig = getattr(owner, attr)
        wrapper = self._timer(key, orig, on_done)
        targets = [(owner, attr)]
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("matrixone_spark") and mod is not owner:
                targets += [(mod, k) for k, v in list(vars(mod).items()) if v is orig]
        for tgt, name in targets:
            self._sites.append((tgt, name, orig, wrapper))

    def prepare(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway

        from matrixone_spark import mysql_dialect, results
        from matrixone_spark.engine import Engine
        from matrixone_spark.sources import layout_cache
        from matrixone_spark.streaming import events

        def stream_jobs(j0, args, kwargs):
            self.counts["streaming.jobs"] = (
                self.counts.get("streaming.jobs", 0) + self.job_id() - j0)

        def saved_bytes(j0, args, kwargs):
            store = args[0]
            qid = store.last_query_id()
            self.counts["results.bytes_written"] = (
                self.counts.get("results.bytes_written", 0) + dir_bytes(os.path.join(store.root, qid))[0])

        self._patch_everywhere(mysql_dialect, "translate", "mysql_dialect.translate_ms")
        self._patch_everywhere(Engine, "sql", "engine.sql_ms")
        self._patch_everywhere(layout_cache, "split_layout_path", "layout_cache.build_ms")
        self._patch_everywhere(results.ResultStore, "save", "results.save_ms", saved_bytes)
        self._patch_everywhere(results.ResultStore, "result_scan", "results.scan_ms")
        for name in ("run_streaming_aggregate", "run_streaming_append"):
            self._patch_everywhere(events, name, f"streaming.{name}_ms", stream_jobs)

        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *args, _orig=orig, **kwargs):
                if not self._paused:
                    self.py4j_calls += 1
                return _orig(conn, command, *args, **kwargs)

            self._sites.append((cls, "send_command", orig, counted))

    def install(self) -> None:
        for owner, name, _, wrapper in self._sites:
            setattr(owner, name, wrapper)

    def uninstall(self) -> None:
        for owner, name, orig, _ in self._sites:
            setattr(owner, name, orig)
