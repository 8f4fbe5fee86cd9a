"""Driver-session simulation: registry queries must work on an ARBITRARY
SparkSession, not just our tuned get_spark one, and a session registers a
SQL-surface function only when a statement that calls it runs.

The round driver builds its own session, so any query whose SQL text uses
registered UDF names (mo_*, h3_*, ...) must self-provision them — round 4's
only red driver row was func_mysql3_battery assuming get_spark had
registered mo_conv (r4 verdict, What's wrong #2). ``spark.newSession()``
shares the JVM but has a FRESH function registry and conf, which is exactly
the driver's shape."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


@pytest.mark.parametrize("name", ["func_mysql3_battery", "func_mysql2_battery", "geo_h3_battery"])
def test_udf_queries_on_raw_session(spark, registry, name):
    raw = spark.newSession()
    assert raw is not spark
    rows = registry[name].fn(raw, SF_DIR).limit(5).collect()
    assert rows is not None and len(rows) > 0


def _user_functions(session) -> "set[str]":
    return {r[0] for r in session.sql("SHOW USER FUNCTIONS").collect()}


def test_statement_naming_no_surface_function_registers_nothing(spark):
    from matrixone_spark.functions.sql_surface import run_sql

    raw = spark.newSession()
    assert run_sql(raw, "SELECT 1 AS one, concat('mo_conv', '(') AS s").collect()
    assert not raw.catalog.functionExists("mo_conv")
    assert _user_functions(raw) == set()


def test_statement_registers_exactly_the_names_it_calls(spark):
    from matrixone_spark.engine import Engine

    raw = spark.newSession()
    rows = Engine(raw).sql("SELECT `MO_CONV` ('ff', 16, 10) AS v").collect()
    assert rows[0].v == "255"
    assert _user_functions(raw) == {"mo_conv"}


def test_sql_body_brings_in_the_surface_functions_it_calls(spark):
    from matrixone_spark.engine import Engine

    raw = spark.newSession()
    rows = Engine(raw).sql("SELECT mo_week2('2024-01-07', 0) AS w").collect()
    assert rows[0].w == 1
    assert _user_functions(raw) == {"mo_week2", "week"}


def test_builtin_override_resolves_on_first_statement(spark):
    """st_srid is also a Spark 4.1 builtin; the statement that first names
    it must already resolve to the surface kernel."""
    from matrixone_spark import obs
    from matrixone_spark.engine import Engine

    raw = spark.newSession()
    df = Engine(raw).sql("SELECT st_srid(st_geomfromtext('POINT(1 2)')) AS s")
    assert df.collect()[0].s == 0
    assert "ArrowEvalPython [st_srid(" in obs.final_plan(df)


@pytest.mark.parametrize(
    "name", ["grouping_sets_explicit", "timewin_sql_surface", "apply_sql_surface", "system_meta_battery"]
)
def test_sql_text_rows_leave_no_temp_views(spark, registry, name):
    raw = spark.newSession()
    assert registry[name].fn(raw, SF_DIR).collect()
    assert [t.name for t in raw.catalog.listTables() if t.isTemporary] == []


def test_sql_function_table_registers_once(spark):
    """Statements naming every row of the function table register it on a
    fresh session: no name appears twice, every name resolves, and the
    only Spark builtins it replaces are the three deliberate geo overrides."""
    from matrixone_spark.functions.sql_surface import SPARK_SQL, _surface, register_spark, spark_udfs

    raw = spark.newSession()
    builtins = {r[0] for r in raw.sql("SHOW SYSTEM FUNCTIONS").collect()}
    names = [name for name, _kernel, _ret in spark_udfs()] + [
        ddl.split("FUNCTION ", 1)[1].split("(", 1)[0] for ddl in SPARK_SQL
    ]
    assert set(names) == _surface()[3]
    for name in names:
        register_spark(raw, f"SELECT {name}(x) FROM t")
    assert len(names) == len(set(names))
    assert [n for n in names if not raw.catalog.functionExists(n)] == []
    assert set(names) & builtins == {"st_asbinary", "st_geomfromwkb", "st_srid"}
