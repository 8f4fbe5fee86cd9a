"""Run a query and measure or check it: time its build and collect, count
its jobs and task run time, compare it with its DuckDB oracle, read its
plan. bench.py, the tools and the tests all go through here."""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass
from itertools import takewhile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from matrixone_spark.functions.sql_surface import run_sql
from matrixone_spark.oracle import compare_frames, run_oracle


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Run scan + join + agg + window codegen paths, an Arrow UDF and
    mapInArrow once, so the first timed query doesn't absorb JVM/codegen
    startup or the ~1.5-2 s first-Arrow-job worker launch."""
    from pyspark.sql import Window, functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    w = Window.partitionBy("l_returnflag").orderBy("l_orderkey")
    (
        li.limit(50000)
        .join(o.limit(50000), li.l_orderkey == o.o_orderkey)
        .withColumn("rn", F.row_number().over(w))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"), F.max("rn"))
        .collect()
    )
    # mo_conv: a pandas UDF of the SQL function surface
    run_sql(spark, "SELECT mo_conv('ff', 16, 10)").collect()
    spark.range(1000).mapInArrow(lambda it: it, "id long").count()


def total_jobs(spark: SparkSession) -> int:
    """Jobs the DAG scheduler has started in this application."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _stage_run_ms(spark: SparkSession):
    """(stage id, task executorRunTime ms) of each stage the live
    AppStatusStore retains, newest first (works with spark.ui.enabled=false)."""
    sc, jvm = spark.sparkContext, spark.sparkContext._jvm
    # Spark 4 signature: stageList(statuses, details, withSummaries, quantiles, taskStatus)
    it = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        s = it.next()
        yield s.stageId(), s.executorRunTime()


@dataclass
class Record:
    """One run of ``build()`` and its collect: ms of each, rows, jobs
    started, task run time (-1 when unreadable), or the error raised."""

    build_ms: float = 0.0
    collect_ms: float = 0.0
    rows: int = 0
    jobs: int = 0
    run_ms: int = -1
    error: "str | None" = None

    @property
    def total_ms(self) -> float:
        return self.build_ms + self.collect_ms


def measure(spark: SparkSession, build) -> Record:
    """Time ``build()`` (it returns a DataFrame) and its collect. A failing
    query is recorded, never raised."""
    try:
        stage = next(_stage_run_ms(spark), (-1, 0))[0]
    except Exception:  # noqa: BLE001 — metrics must never break timing
        stage = None
    jobs = total_jobs(spark)
    try:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 — isolation is the point
        return Record(error=f"{type(exc).__name__}: {exc}"[:300])
    rec = Record((t1 - t0) * 1e3, (t2 - t1) * 1e3, len(rows), total_jobs(spark) - jobs)
    # only the stages this run started: a delta of the store-wide sum goes
    # negative when the store evicts old stages
    if stage is not None:
        with contextlib.suppress(Exception):
            new = takewhile(lambda sm: sm[0] > stage, _stage_run_ms(spark))
            rec.run_ms = sum(ms for _, ms in new)
    return rec


@dataclass
class Check:
    """A query's Spark result and its oracle's; ``want`` and ``problems``
    are None for a rows-only query."""

    got: pd.DataFrame
    want: "pd.DataFrame | None"
    problems: "list[str] | None"


def check(spark: SparkSession, query, sf_dir: str) -> Check:
    """Compare a registry Query's result with its DuckDB oracle:
    ``toPandas``, ``run_oracle``, ``compare_frames``."""
    got = query.fn(spark, sf_dir).toPandas()
    if query.oracle is None:
        return Check(got, None, None)
    want = run_oracle(query.oracle, sf_dir)
    return Check(got, want, compare_frames(got, want))


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan(df: DataFrame) -> str:
    """Collect ``df`` and return its AQE final plan (AQE prints the final
    and the initial plan; only the first section ran)."""
    df.collect()
    return executed_plan(df).split("== Initial Plan ==")[0]
