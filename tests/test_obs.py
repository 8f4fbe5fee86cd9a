"""obs: one registry row measured, checked and read the way bench.py, the
query tools and the other tests do it."""

from __future__ import annotations

import dataclasses

from matrixone_spark import obs
from matrixone_spark.queries import Query
from tests.conftest import SF_DIR


def test_measure_and_check_an_oracle_row(spark, registry):
    q = registry["tpch_q6"]
    rec = obs.measure(spark, lambda: q.fn(spark, SF_DIR))
    assert [f.name for f in dataclasses.fields(rec)] == [
        "build_ms", "collect_ms", "rows", "jobs", "run_ms", "error"]
    assert rec.error is None and rec.build_ms > 0 and rec.collect_ms > 0
    assert rec.rows > 0 and rec.jobs >= 1 and rec.run_ms >= 0
    chk = obs.check(spark, q, SF_DIR)
    assert chk.problems == [] and len(chk.got) == len(chk.want) == rec.rows


def test_check_a_rows_only_row(spark, registry):
    chk = obs.check(spark, registry["sample_fraction"], SF_DIR)
    assert chk.problems is None and chk.want is None and len(chk.got) > 0


def test_a_failing_query_is_recorded_not_raised(spark):
    q = Query("broken", lambda spark, sf_dir: spark.table("no_such_table"), None)
    rec = obs.measure(spark, lambda: q.fn(spark, SF_DIR))
    assert rec.error.startswith("AnalysisException: ") and "no_such_table" in rec.error
    assert (rec.rows, rec.jobs, rec.run_ms) == (0, 0, -1)


def test_final_plan_is_the_aqe_final_section(spark, registry):
    df = registry["tpch_q6"].fn(spark, SF_DIR)
    plan = obs.final_plan(df)
    assert "isFinalPlan=true" in plan and "== Initial Plan ==" not in plan
    assert "== Initial Plan ==" in obs.executed_plan(df)
