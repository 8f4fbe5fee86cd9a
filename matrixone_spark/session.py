"""SparkSession factory tuned for the mospark engine.

Scale posture: these configs are chosen for a multi-executor cluster reading
~100 TB, and degrade gracefully on local[N] test runs:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting, dynamic
  broadcast conversion) — replaces the reference's stats-guided shuffle-method
  choice (reference: pkg/sql/plan/shuffle.go:1283).
- Runtime bloom filters on (reference: pkg/sql/plan/runtime_filter.go:409 builds
  exact/bloom runtime filters from join build sides).
- Arrow for any pandas-UDF exchange (reference's cgo SIMD kernels ≈ Tungsten
  codegen + Arrow batches; we never reimplement vectorization).
- UTC session timezone so timestamp semantics match the DuckDB oracle.

A session starts with nothing registered beyond Spark's builtins: the SQL
function surface (functions/sql_surface.py) is registered a few names at a
time, by the statements that call them (see ``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that matter at 100 TB; every one also works on local[N].
SPARK_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",  # cluster: ~2-3x total cores; AQE coalesces
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    # reference cte_max_recursion_depth defaults well beyond Spark's 100
    # (recursive_cte.sql iterates to 200)
    "spark.sql.cteRecursionLevelLimit": "10000",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark's vectorized reader
    # rejects it — read as int64 ns and convert in the catalog (truncating to
    # microseconds, matching DuckDB's ns→us read behavior).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Split-size sizing is per-deployment: production 100 TB keeps the 128 MB
    # default (12.5M tasks of metadata otherwise); this harness reads MB-scale
    # files where 128 MB bins collapse every table to one task. 4 MB bins give
    # one task per layout-cache slice (each slice costs openCostInBytes=4 MB in
    # the bin-packer), i.e. full local[32] scan parallelism.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)
    ),
    # Generated-class cache (driver-side janino compiles + executor JIT
    # state). The default 100 entries thrashes on any workload with more
    # than ~15 distinct plans in flight — the bench's 18 interleaved queries
    # evict every query's classes between its own runs, so EVERY execution
    # pays recompile+re-JIT (measured: q1 0.85 s interleaved vs 0.35 s
    # back-to-back in one process, identical plan; full 18-query bench
    # 13.96 s at 100 entries vs 9.16 s at 2048).
    # Not scale-dependent: a production driver serving many distinct
    # queries wants this just as much; memory cost is bounded (generated
    # classes, ~KBs each). Static conf — must be set before the session.
    "spark.sql.codegen.cache.maxEntries": "2048",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
    "spark.ui.enabled": "false",
    "spark.sql.ansi.enabled": "false",  # MySQL-ish permissive semantics (SURVEY §7)
}


def get_spark(app_name: str = "mospark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same entry points serve tests, bench, and the driver harness.

    The session starts with none of the SQL-text surface functions
    (functions/sql_surface.py: mo_conv, h3_*, json_*, ...) registered.
    ``Engine.sql``, ``Engine.mysql_sql`` and ``sql_surface.run_sql`` register
    the ones a statement calls just before it runs; raw ``spark.sql`` on
    this session sees only those registered that way.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in SPARK_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
