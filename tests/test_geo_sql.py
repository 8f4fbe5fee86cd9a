"""SQL-registered geo surface (functions/geo_sql.py) + MySQL literal
re-encoding in the dialect (LIKE escapes, trailing escape, byte LENGTH).

Reference: pkg/sql/plan/function/func_geo*.go st_* registrations;
test/distributed/cases/geo/*.sql and operator/like_operator.sql are the
behavioral sources."""

from __future__ import annotations

import pytest

from matrixone_spark.functions.sql_surface import run_sql
from matrixone_spark.mysql_dialect import translate


def _one(spark, sql):
    return run_sql(spark, translate(sql)).collect()[0][0]


def test_geomfromtext_astext_roundtrip(spark):
    assert _one(spark, "select st_astext(st_geomfromtext('  POINT(1.5 -2.25) '))") == (
        "POINT(1.5 -2.25)"
    )
    assert _one(spark, "select st_astext(st_geomfromtext('LINESTRING(0 0,1 1,2 3)'))") == (
        "LINESTRING(0 0,1 1,2 3)"
    )


def test_srid_preserved_and_set(spark):
    assert _one(spark, "select st_srid(st_geomfromtext('POINT(1 2)', 4326))") == 4326
    assert _one(spark, "select st_srid(st_geomfromtext('POINT(1 2)'))") == 0
    # SRID survives geometry->geometry ops (geo_srid.sql)
    assert _one(
        spark,
        "select st_srid(st_centroid(st_geomfromtext('POLYGON((0 0,2 0,2 2,0 2,0 0))', 4326)))",
    ) == 4326


def test_wkb_roundtrip(spark):
    assert _one(
        spark,
        "select st_astext(st_geomfromwkb(st_aswkb(st_geomfromtext('POINT(1 2)'))))",
    ) == "POINT(1 2)"


def test_cast_as_geometry(spark):
    assert _one(spark, "select st_astext(cast('POINT(7 8)' as geometry))") == "POINT(7 8)"
    assert _one(spark, "select st_astext(cast('NOT A GEOMETRY' as geometry))") is None


def test_predicates_and_measures(spark):
    assert _one(
        spark,
        "select st_contains(st_geomfromtext('POLYGON((0 0,4 0,4 4,0 4,0 0))'),"
        " st_geomfromtext('POINT(2 2)'))",
    ) is True
    assert _one(
        spark,
        "select st_area(st_geomfromtext('POLYGON((0 0,4 0,4 4,0 4,0 0))'))",
    ) == pytest.approx(16.0)
    assert _one(
        spark,
        "select st_distance(st_geomfromtext('POINT(0 0)'), st_geomfromtext('POINT(3 4)'))",
    ) == pytest.approx(5.0)


def test_distance_sphere(spark):
    # one degree of longitude at the equator (IUGG mean radius)
    v = _one(
        spark,
        "select st_distance_sphere(st_geomfromtext('POINT(0 0)'),"
        " st_geomfromtext('POINT(1 0)'))",
    )
    assert v == pytest.approx(111195.0, rel=1e-3)


def test_geohash_family(spark):
    gh = _one(spark, "select st_geohash(-5.603, 42.605, 5)")
    assert isinstance(gh, str) and len(gh) == 5
    lon = _one(spark, f"select st_longfromgeohash('{gh}')")
    lat = _one(spark, f"select st_latfromgeohash('{gh}')")
    assert lon == pytest.approx(-5.603, abs=0.1)
    assert lat == pytest.approx(42.605, abs=0.1)


def test_line_accessors(spark):
    assert _one(
        spark, "select st_astext(st_startpoint(st_geomfromtext('LINESTRING(7 8,9 10)')))"
    ) == "POINT(7 8)"
    assert _one(
        spark, "select st_numpoints(st_geomfromtext('LINESTRING(0 0,1 1,2 2)'))"
    ) == 3
    assert _one(
        spark, "select st_isclosed(st_geomfromtext('LINESTRING(0 0,1 0,0 0)'))"
    ) is True


def test_swapxy_and_makeenvelope(spark):
    assert _one(
        spark, "select st_astext(st_swapxy(st_geomfromtext('LINESTRING(1 2,3 4)')))"
    ) == "LINESTRING(2 1,4 3)"
    assert _one(
        spark, "select st_astext(st_makeenvelope(0, 0, 2, 3))"
    ) == "POLYGON((0 0,2 0,2 3,0 3,0 0))"


# ---- MySQL literal re-encoding through translate() ------------------------


def test_like_escape_literals(spark):
    # MySQL keeps the backslash in \_ (LIKE escape); Spark's parser would
    # otherwise eat it and '%\_%' would match ANY character
    sql = translate(r"select 'x_y' like '%\_%' as a, 'xay' like '%\_%' as b")
    row = run_sql(spark, sql).collect()[0]
    assert (row.a, row.b) == (True, False)


def test_like_trailing_escape(spark):
    # MySQL: a trailing unpaired escape matches a literal backslash
    sql = translate(r"select 'a\\' like '%\\' as a, 'ab' like '%\\' as b")
    row = run_sql(spark, sql).collect()[0]
    assert (row.a, row.b) == (True, False)


def test_length_is_bytes(spark):
    sql = translate("select length('中文') as b, char_length('中文') as c")
    row = run_sql(spark, sql).collect()[0]
    assert (row.b, row.c) == (6, 2)


# ---- edge semantics of the SQL-registered function rows ---------------------
# Each row pins what translate() + spark.sql return for an argument-count,
# NULL or error edge: too many arguments fail the statement, omitted
# trailing arguments take the kernel's default, geo accessors answer NULL
# on a wrong-kind or malformed input, and the S2/H3 cell family raises on
# invalid input.

_FAILS = object()


def _polygon(v):
    return isinstance(v, str) and v.startswith("POLYGON")


@pytest.mark.parametrize(
    "sql, expected",
    [
        ("select st_x(st_geomfromtext('POINT(1 2)'), 5)", (_FAILS, None)),
        (
            "select st_distance_sphere(st_geomfromtext('POINT(0 0)'),"
            " st_geomfromtext('POINT(1 0)'), 5)",
            (_FAILS, None),
        ),
        ("select st_x('LINESTRING(0 0,1 1)')", None),
        ("select st_pointn(st_geomfromtext('LINESTRING(0 0,1 1)'))", None),
        ("select st_astext(st_geomfromtext('POINT(1 2)', NULL))", "POINT(1 2)"),
        ("select st_astext(CAST('POINT(7 8)' AS GEOMETRY))", "POINT(7 8)"),
        ("select st_buffer(st_geomfromtext('POINT(0 0)'), 1)", _polygon),
        ("select h3_h3index(st_point(1.0, 2.0))", 646077806716512457),
        (
            "select h3_h3index_parent(h3_h3index(st_point(1.0, 2.0), 5))",
            596538212583735295,
        ),
        ("select h3_h3index_resolution(0)", (_FAILS, "invalid H3Index: 0")),
        ("select s2_cellid(st_point(200.0, 2.0))", (_FAILS, "out of range")),
        ("select s2_cellid_level(NULL)", None),
        ("select mo_conv('17', -10, 16)", "11"),
    ],
)
def test_sql_function_edge_semantics(spark, sql, expected):
    if isinstance(expected, tuple) and expected[0] is _FAILS:
        with pytest.raises(Exception, match=expected[1]):
            _one(spark, sql)
    elif callable(expected):
        assert expected(_one(spark, sql))
    else:
        assert _one(spark, sql) == expected
