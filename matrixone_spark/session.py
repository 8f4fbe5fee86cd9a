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
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in SPARK_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ensure_sql_udfs(spark)
    return spark


def _ensure_sql_udfs(spark: SparkSession) -> None:
    """Register pandas-UDF-backed MySQL functions for SQL-text use.

    Idempotent and cheap when already done (per-session-id guard): besides
    get_spark, EVERY registry query calls this on its way in (queries/
    __init__.py register wrapper), because the driver contract hands queries
    an arbitrary SparkSession — round-4's only red driver row was a
    translate-based query assuming get_spark had pre-registered mo_conv.
    Only functions whose MySQL semantics can't be expressed as a Spark-SQL
    rewrite live here — the dialect layer routes their names to the mo_*
    registrations.

    The done-marker is a session-scoped conf tag (RuntimeConfig is
    per-SparkSession, including newSession() children), NOT id(spark):
    CPython reuses object ids after GC, so an id-keyed set can silently
    skip registration on a later session."""
    tag = "spark._mospark_sql_udfs_registered"
    try:
        if spark.conf.get(tag, None) == "1":
            return
    except Exception:
        pass
    from matrixone_spark.functions.geo_sql import register_geo_sql
    from matrixone_spark.functions.json_fns import _mo_json_extract_udf
    from matrixone_spark.functions.mysql import _conv_udf
    from matrixone_spark.functions.sql_surface import register_spark
    from matrixone_spark.functions.sql_udfs import register_all

    spark.udf.register("mo_conv", _conv_udf)
    spark.udf.register("mo_json_extract", _mo_json_extract_udf)
    register_all(spark)
    register_geo_sql(spark)
    register_spark(spark)
    try:
        spark.conf.set(tag, "1")
    except Exception:
        pass
