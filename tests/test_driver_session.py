"""Driver-session simulation: registry queries must work on an ARBITRARY
SparkSession, not just our tuned get_spark one.

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


def test_sql_function_table_registers_once(spark):
    """One kernel table registers the SQL-text surface on a fresh session:
    no name appears twice, every name resolves, and the only Spark builtins
    it replaces are the three deliberate geo overrides."""
    from matrixone_spark.functions.sql_surface import spark_udfs
    from matrixone_spark.session import _ensure_sql_udfs

    raw = spark.newSession()
    builtins = {r[0] for r in raw.sql("SHOW SYSTEM FUNCTIONS").collect()}
    _ensure_sql_udfs(raw)
    names = [name for name, _kernel, _ret in spark_udfs()]
    assert len(names) == len(set(names))
    assert [n for n in names if not raw.catalog.functionExists(n)] == []
    assert set(names) & builtins == {"st_asbinary", "st_geomfromwkb", "st_srid"}
