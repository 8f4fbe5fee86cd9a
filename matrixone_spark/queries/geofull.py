"""Full-geometry st_* batteries, golden-gated by the reference BVT suite.

Every case below is transcribed from `test/distributed/cases/geo/*.sql` with
its expected value from the matching `.result` file (reference's own golden
corpus — the same gating pattern as the S2 battery). The Spark side runs the
clean-room kernel (functions/geomlib) through ``geo_eval`` below — ONE
Arrow-batched UDF pass over a LocalRelation that evaluates each case's
labelled op on EWKT strings parsed and rendered as in functions/geo_sql;
the oracle is the literal golden VALUES relation, so the hash-compare
against it is a hard reference-parity gate. Reference error cases assert
NULL (the engine's non-throwing batch analogue of `invalid input:` errors).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from matrixone_spark.functions import arrow_udf
from matrixone_spark.functions import geomlib as GL
from matrixone_spark.functions.geo_sql import _geom, _parse, _render
from matrixone_spark.queries import register

# op label -> kernel(a, b, num) over the case's EWKT arguments
_B = {
    "astext": lambda a, b, n: _render(None, _geom(a)),
    "ewkt": lambda a, b, n: _render(*_parse(a)),
    "srid": lambda a, b, n: _parse(a)[0] or 0,
    "geomtype": lambda a, b, n: _geom(a)[0],
    "dimension": lambda a, b, n: GL.dimension(_geom(a)),
    "isempty": lambda a, b, n: int(GL.is_empty(_geom(a))),
    "iscollection": lambda a, b, n: int(GL.is_collection(_geom(a))),
    "numgeometries": lambda a, b, n: GL.num_geometries(_geom(a)),
    "geometryn": lambda a, b, n: GL.render_wkt(GL.geometry_n(_geom(a), int(n))),
    "exteriorring": lambda a, b, n: GL.render_wkt(GL.exterior_ring(_geom(a))),
    "numinteriorrings": lambda a, b, n: GL.num_interior_rings(_geom(a)),
    "interiorringn": lambda a, b, n: GL.render_wkt(GL.interior_ring_n(_geom(a), int(n))),
    "area": lambda a, b, n: GL.area(_geom(a)),
    "length": lambda a, b, n: GL.length(_geom(a)),
    "centroid": lambda a, b, n: GL.render_wkt(GL.centroid(_geom(a))),
    "envelope": lambda a, b, n: GL.render_wkt(GL.envelope(_geom(a))),
    "boundary": lambda a, b, n: GL.render_wkt(GL.boundary(_geom(a))),
    "pointonsurface": lambda a, b, n: GL.render_wkt(GL.point_on_surface(_geom(a))),
    "issimple": lambda a, b, n: int(GL.is_simple(_geom(a))),
    "isring": lambda a, b, n: int(GL.is_ring(_geom(a))),
    "isvalid": lambda a, b, n: int(GL.is_valid(_geom(a))),
    "validate": lambda a, b, n: (lambda g: GL.render_wkt(g) if g else None)(
        GL.validate(_geom(a))),
    "convexhull": lambda a, b, n: GL.render_wkt(GL.convex_hull(_geom(a))),
    "simplify": lambda a, b, n: GL.render_wkt(GL.simplify(_geom(a), float(n))),
    "collect": lambda a, b, n: GL.render_wkt(GL.collect(_geom(a), _geom(b))),
    "distance": lambda a, b, n: GL.distance(_geom(a), _geom(b)),
    "intersects": lambda a, b, n: int(GL.intersects(_geom(a), _geom(b))),
    "disjoint": lambda a, b, n: int(GL.disjoint(_geom(a), _geom(b))),
    "contains": lambda a, b, n: int(GL.contains(_geom(a), _geom(b))),
    "within": lambda a, b, n: int(GL.within(_geom(a), _geom(b))),
    "covers": lambda a, b, n: int(GL.covers(_geom(a), _geom(b))),
    "coveredby": lambda a, b, n: int(GL.coveredby(_geom(a), _geom(b))),
    "touches": lambda a, b, n: int(GL.touches(_geom(a), _geom(b))),
    "crosses": lambda a, b, n: int(GL.crosses(_geom(a), _geom(b))),
    "overlaps": lambda a, b, n: int(GL.overlaps(_geom(a), _geom(b))),
    "equals": lambda a, b, n: int(GL.equals(_geom(a), _geom(b))),
    "hausdorff": lambda a, b, n: GL.hausdorff(_geom(a), _geom(b)),
    "frechet": lambda a, b, n: GL.frechet(_geom(a), _geom(b)),
    "union_area": lambda a, b, n: GL.area(GL.overlay(_geom(a), _geom(b), "union")),
    "inter_area": lambda a, b, n: GL.area(GL.overlay(_geom(a), _geom(b), "intersection")),
    "diff_area": lambda a, b, n: GL.area(GL.overlay(_geom(a), _geom(b), "difference")),
    "xor_area": lambda a, b, n: GL.area(GL.overlay(_geom(a), _geom(b), "symdifference")),
    "union_type": lambda a, b, n: GL.overlay(_geom(a), _geom(b), "union")[0],
    "buffer_area": lambda a, b, n: GL.area(GL.buffer(_geom(a), float(n))),
    "buffer_area_q32": lambda a, b, n: GL.area(GL.buffer(_geom(a), float(n), 32)),
    "buffer_type": lambda a, b, n: GL.buffer(_geom(a), float(n))[0],
    "buffer_text": lambda a, b, n: GL.render_wkt(GL.buffer(_geom(a), float(n))),
    "interp_point": lambda a, b, n: GL.render_wkt(
        GL.line_interpolate_point(_geom(a), float(n))),
    "interp_points": lambda a, b, n: GL.render_wkt(
        GL.line_interpolate_points(_geom(a), float(n))),
    "point_at_distance": lambda a, b, n: GL.render_wkt(
        GL.point_at_distance(_geom(a), float(n))),
    "asgeojson": lambda a, b, n: GL.to_geojson(
        _geom(a), int(n) if n is not None and n >= 0 else None),
    "fromgeojson": lambda a, b, n: GL.render_wkt(GL.from_geojson(a)),
    "fromgeojson_srid": lambda a, b, n: (
        GL.from_geojson(a) and (int(n) if n is not None else 4326)),
    "ewkt_simplify": lambda a, b, n: (
        lambda sr, g: _render(sr, GL.simplify(g, float(n))))(*_parse(a)),
    "ewkt_convexhull": lambda a, b, n: (
        lambda sr, g: _render(sr, GL.convex_hull(g)))(*_parse(a)),
    "ewkt_boundary": lambda a, b, n: (
        lambda sr, g: _render(sr, GL.boundary(g)))(*_parse(a)),
    "typed_text": lambda a, b, n: (
        lambda g: GL.render_wkt(g) if g[0] == b else None)(_geom(a)),
    "typed_wkb": lambda a, b, n: (
        lambda g: GL.render_wkt(g) if g[0] == b else None)(
            GL.from_wkb(GL.to_wkb(_geom(a)))),
    "point32": lambda a, b, n: (
        lambda g: "POINT({} {})".format(
            GL.fmt_num(float(np.float32(g[1][0]))),
            GL.fmt_num(float(np.float32(g[1][1])))))(_geom(a)),
    "wkb_roundtrip": lambda a, b, n: GL.render_wkt(GL.from_wkb(GL.to_wkb(_geom(a)))),
    "geojson_roundtrip": lambda a, b, n: GL.render_wkt(
        GL.from_geojson(GL.to_geojson(_geom(a)))),
}


def _k_geo_eval(op, a, b, num):
    """The case's ``op`` on (a, b, num), rendered as text: floats through
    fmt_num, integers (predicates give 0/1) as digits; an error or a NULL
    the op cannot take gives NULL."""
    try:
        r = _B[op](a, b, None if num is None else float(num))
        if isinstance(r, float):
            return GL.fmt_num(round(r, 12))
        if isinstance(r, int):
            return str(r)
        return r
    except Exception:
        return None


geo_eval = arrow_udf(_k_geo_eval, StringType())

_SCHEMA = "c string, op string, a string, b string, num double, lo double, hi double"


def _run(spark: SparkSession, cases) -> DataFrame:
    rows = [(c, op, a, b, num, lo, hi) for (c, op, a, b, num, lo, hi, _exp) in cases]
    df = spark.createDataFrame(rows, _SCHEMA)
    val = geo_eval("op", "a", "b", "num")
    res = F.when(
        F.col("lo").isNotNull(),
        F.when(val.cast("double").between(F.col("lo"), F.col("hi")), "1").otherwise("0"),
    ).otherwise(val)
    return df.select("c", res.alias("res")).orderBy("c")


def _oracle(cases) -> str:
    rows = ",\n".join(
        "(" + _q(c) + ", " + _q(exp) + ")" for (c, _, _, _, _, _, _, exp) in cases
    )
    return (
        "SELECT c, res FROM (VALUES\n" + rows + "\n) AS t(c, res) ORDER BY c"
    )


def _q(v: "str | None") -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + v.replace("'", "''") + "'"


def _case(c, op, a, b=None, num=None, lo=None, hi=None, exp=None):
    return (c, op, a, b, num, lo, hi, exp)


# --- geo_io.sql: WKT/WKB I/O round-trips, all seven kinds + EMPTY -----------

_IO_CASES = [
    _case("c01_point", "astext", "POINT(1 2)", exp="POINT(1 2)"),
    _case("c02_linestring", "astext", "LINESTRING(0 0,1 1,2 3)", exp="LINESTRING(0 0,1 1,2 3)"),
    _case("c03_polygon", "astext", "POLYGON((0 0,4 0,4 4,0 4,0 0))", exp="POLYGON((0 0,4 0,4 4,0 4,0 0))"),
    _case("c04_polygon_hole", "astext", "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,2 4,4 4,4 2,2 2))",
          exp="POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,2 4,4 4,4 2,2 2))"),
    _case("c05_multipoint", "astext", "MULTIPOINT(1 1,2 2)", exp="MULTIPOINT(1 1,2 2)"),
    _case("c06_multilinestring", "astext", "MULTILINESTRING((0 0,1 1),(2 2,3 3))",
          exp="MULTILINESTRING((0 0,1 1),(2 2,3 3))"),
    _case("c07_multipolygon", "astext", "MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((2 2,3 2,3 3,2 2)))",
          exp="MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((2 2,3 2,3 3,2 2)))"),
    _case("c08_collection", "astext", "GEOMETRYCOLLECTION(POINT(1 1),LINESTRING(0 0,1 1))",
          exp="GEOMETRYCOLLECTION(POINT(1 1),LINESTRING(0 0,1 1))"),
    _case("c09_point_empty", "astext", "POINT EMPTY", exp="POINT EMPTY"),
    _case("c10_collection_empty", "astext", "GEOMETRYCOLLECTION EMPTY", exp="GEOMETRYCOLLECTION EMPTY"),
    _case("c11_decimals", "astext", "POINT(-1.5 2.25)", exp="POINT(-1.5 2.25)"),
    _case("c12_scientific", "astext", "POINT(1e2 -3.5e-1)", exp="POINT(100 -0.35)"),
    _case("c13_wkb_point", "wkb_roundtrip", "POINT(1 2)", exp="POINT(1 2)"),
    _case("c14_wkb_line", "wkb_roundtrip", "LINESTRING(0 0,1 1,2 3)", exp="LINESTRING(0 0,1 1,2 3)"),
    _case("c15_wkb_polygon", "wkb_roundtrip", "POLYGON((0 0,4 0,4 4,0 4,0 0))",
          exp="POLYGON((0 0,4 0,4 4,0 4,0 0))"),
    _case("c16_wkb_multipoint", "wkb_roundtrip", "MULTIPOINT(1 1,2 2)", exp="MULTIPOINT(1 1,2 2)"),
    _case("c17_wkb_mpoly", "wkb_roundtrip", "MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((2 2,3 2,3 3,2 2)))",
          exp="MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((2 2,3 2,3 3,2 2)))"),
    _case("c18_wkb_collection", "wkb_roundtrip", "GEOMETRYCOLLECTION(POINT(1 1),LINESTRING(0 0,1 1))",
          exp="GEOMETRYCOLLECTION(POINT(1 1),LINESTRING(0 0,1 1))"),
    _case("c19_not_a_geometry", "astext", "NOT A GEOMETRY", exp=None),
    _case("c20_truncated", "astext", "POINT(1", exp=None),
    _case("c21_nan", "astext", "POINT(NaN 1)", exp=None),
    _case("c22_bad_type", "astext", "CIRCLE(0 0,1)", exp=None),
    _case("c23_point32", "point32", "POINT(116.3975 39.9087)",
          exp="POINT(116.39749908447266 39.90869903564453)"),
    _case("c24_point32_int", "point32", "POINT(1 2)", exp="POINT(1 2)"),
]


@register(
    "geo_io_full_battery",
    oracle=_oracle(_IO_CASES),
    tags=("geo",),
    doc=(
        "WKT/WKB I/O over all seven geometry kinds + EMPTY + float32 points "
        "(geo_io.sql, geo_stpoint.sql goldens; kernel functions/geomlib "
        "parse/render/WKB codec, st_point32 float32 rounding). Malformed "
        "payload cases (reference 'invalid geometry payload' errors) gate "
        "as NULL."
    ),
)
def geo_io_full_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, _IO_CASES)


# --- geo_functions_unary.sql: accessors, measures, derived geometries -------

_UNARY_CASES = [
    _case("c01_t_point", "geomtype", "POINT(1 2)", exp="POINT"),
    _case("c02_t_mpoly", "geomtype", "MULTIPOLYGON(((0 0,1 0,1 1,0 0)))", exp="MULTIPOLYGON"),
    _case("c03_d_point", "dimension", "POINT(1 2)", exp="0"),
    _case("c04_d_line", "dimension", "LINESTRING(0 0,1 1)", exp="1"),
    _case("c05_d_poly", "dimension", "POLYGON((0 0,1 0,1 1,0 0))", exp="2"),
    _case("c06_empty_yes", "isempty", "POINT EMPTY", exp="1"),
    _case("c07_empty_no", "isempty", "POINT(1 2)", exp="0"),
    _case("c08_is_coll", "iscollection", "MULTIPOINT(1 1,2 2)", exp="1"),
    _case("c09_not_coll", "iscollection", "POINT(1 1)", exp="0"),
    _case("c10_ext_ring", "exteriorring", "POLYGON((0 0,4 0,4 4,0 4,0 0))",
          exp="LINESTRING(0 0,4 0,4 4,0 4,0 0)"),
    _case("c11_n_rings", "numinteriorrings", "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,4 2,4 4,2 4,2 2))",
          exp="1"),
    _case("c12_int_ring", "interiorringn", "POLYGON((0 0,10 0,10 10,0 10,0 0),(2 2,4 2,4 4,2 4,2 2))",
          num=1.0, exp="LINESTRING(2 2,4 2,4 4,2 4,2 2)"),
    _case("c13_n_geoms", "numgeometries", "MULTIPOINT(1 1,2 2,3 3)", exp="3"),
    _case("c14_geom_n", "geometryn", "MULTIPOINT(1 1,2 2,3 3)", num=2.0, exp="POINT(2 2)"),
    _case("c15_rect_area", "area", "POLYGON((0 0,3 0,3 4,0 4,0 0))", exp="12"),
    _case("c16_hole_area", "area", "POLYGON((0 0,20 0,20 20,0 20,0 0),(5 5,15 5,15 15,5 15,5 5))",
          exp="300"),
    _case("c17_mpoly_area", "area", "MULTIPOLYGON(((0 0,1 0,1 1,0 1,0 0)),((2 2,4 2,4 4,2 4,2 2)))",
          exp="5"),
    _case("c18_line_len", "length", "LINESTRING(0 0,3 4)", exp="5"),
    _case("c19_mline_len", "length", "MULTILINESTRING((0 0,0 1),(0 0,1 0))", exp="2"),
    _case("c20_centroid", "centroid", "POLYGON((0 0,2 0,2 2,0 2,0 0))", exp="POINT(1 1)"),
    _case("c21_centroid_mp", "centroid", "MULTIPOINT(0 0,2 0,2 2,0 2)", exp=None),
    _case("c22_envelope", "envelope", "LINESTRING(1 2,3 4,0 5)", exp="POLYGON((0 2,3 2,3 5,0 5,0 2))"),
    _case("c23_boundary", "boundary", "POLYGON((0 0,4 0,4 4,0 4,0 0))",
          exp="MULTILINESTRING((0 0,4 0,4 4,0 4,0 0))"),
    _case("c24_pos", "pointonsurface", "POLYGON((0 0,4 0,4 4,0 4,0 0))", exp="POINT(2 2)"),
    _case("c25_area_pt_err", "area", "POINT(1 1)", exp=None),
    _case("c26_len_pt_err", "length", "POINT(1 1)", exp=None),
]


@register(
    "geo_unary_full_battery",
    oracle=_oracle(_UNARY_CASES),
    tags=("geo",),
    doc=(
        "Unary accessors/measures/derived geometries over the full model — "
        "holes, multis, collections (geo_functions_unary.sql golden): "
        "exteriorring/interiorringn/geometryn/boundary/pointonsurface, "
        "hole-aware area, multiline length, centroid type errors as NULL."
    ),
)
def geo_unary_full_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, _UNARY_CASES)


# --- geo_functions_binary.sql: distances + relation predicates --------------

_SQ4 = "POLYGON((0 0,4 0,4 4,0 4,0 0))"
_BINARY_CASES = [
    _case("c01_d_pp", "distance", "POINT(0 0)", "POINT(3 4)", exp="5"),
    _case("c02_d_pl", "distance", "POINT(0 0)", "LINESTRING(1 0,1 1)", exp="1"),
    _case("c03_d_polypoly", "distance", "POLYGON((0 0,2 0,2 2,0 2,0 0))",
          "POLYGON((5 0,7 0,7 2,5 2,5 0))", exp="3"),
    _case("c04_d_inside", "distance", "POINT(5 5)", "POLYGON((0 0,10 0,10 10,0 10,0 0))", exp="0"),
    _case("c05_contains_yes", "contains", _SQ4, "POINT(2 2)", exp="1"),
    _case("c06_contains_no", "contains", _SQ4, "POINT(9 9)", exp="0"),
    _case("c07_within_yes", "within", "POINT(2 2)", _SQ4, exp="1"),
    _case("c08_covers_boundary", "covers", _SQ4, "POINT(0 2)", exp="1"),
    _case("c09_coveredby", "coveredby", "POINT(0 2)", _SQ4, exp="1"),
    _case("c10_intersects_yes", "intersects", "LINESTRING(0 0,2 2)", "LINESTRING(0 2,2 0)", exp="1"),
    _case("c11_intersects_no", "intersects", "POINT(0 0)", "POINT(5 5)", exp="0"),
    _case("c12_disjoint_yes", "disjoint", "POINT(0 0)", "POINT(5 5)", exp="1"),
    _case("c13_disjoint_no", "disjoint", "LINESTRING(0 0,2 2)", "POINT(1 1)", exp="0"),
    _case("c14_touches", "touches", "LINESTRING(0 0,2 0)", "LINESTRING(2 0,4 0)", exp="1"),
    _case("c15_crosses", "crosses", "LINESTRING(-1 1,3 1)", "POLYGON((0 0,2 0,2 2,0 2,0 0))", exp="1"),
    _case("c16_overlaps", "overlaps", "POLYGON((0 0,2 0,2 2,0 2,0 0))",
          "POLYGON((1 1,3 1,3 3,1 3,1 1))", exp="1"),
    _case("c17_equals_yes", "equals", "POINT(1 1)", "POINT(1 1)", exp="1"),
    _case("c18_equals_no", "equals", "POINT(1 1)", "POINT(2 2)", exp="0"),
    _case("c19_equals_polygon", "equals", "POLYGON((0 0,2 0,2 2,0 2,0 0))",
          "POLYGON((2 0,2 2,0 2,0 0,2 0))", exp="1"),
    _case("c20_touches_poly_pt", "touches", _SQ4, "POINT(0 2)", exp="1"),
    _case("c21_crosses_ll", "crosses", "LINESTRING(0 0,2 2)", "LINESTRING(0 2,2 0)", exp="1"),
    _case("c22_overlaps_line", "overlaps", "LINESTRING(0 0,2 0)", "LINESTRING(1 0,3 0)", exp="1"),
]


@register(
    "geo_binary_full_battery",
    oracle=_oracle(_BINARY_CASES),
    tags=("geo",),
    doc=(
        "Binary distance + DE-9IM-style relation predicates over the full "
        "model (geo_functions_binary.sql golden): st_distance across mixed "
        "dims, contains/within/covers/coveredby boundary semantics, touches/"
        "crosses/overlaps interior-intersection logic, order-independent "
        "st_equals."
    ),
)
def geo_binary_full_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, _BINARY_CASES)


# --- geo_overlay.sql + geo_buffer.sql: boolean overlay and buffer -----------

_A = "POLYGON((0 0,4 0,4 4,0 4,0 0))"
_B2 = "POLYGON((2 2,6 2,6 6,2 6,2 2))"
_OVERLAY_CASES = [
    _case("c01_inter_area", "inter_area", _A, _B2, exp="4"),
    _case("c02_union_area", "union_area", _A, _B2, exp="28"),
    _case("c03_diff_area", "diff_area", _A, _B2, exp="12"),
    _case("c04_xor_area", "xor_area", _A, _B2, exp="24"),
    _case("c05_disjoint_inter", "inter_area", "POLYGON((0 0,1 0,1 1,0 1,0 0))",
          "POLYGON((5 5,6 5,6 6,5 6,5 5))", exp="0"),
    _case("c06_disjoint_union", "union_area", "POLYGON((0 0,1 0,1 1,0 1,0 0))",
          "POLYGON((5 5,6 5,6 6,5 6,5 5))", exp="2"),
    _case("c07_ring_area", "diff_area", "POLYGON((0 0,10 0,10 10,0 10,0 0))",
          "POLYGON((3 3,7 3,7 7,3 7,3 3))", exp="84"),
    _case("c08_shared_edge_union", "union_area", _A, "POLYGON((4 0,8 0,8 4,4 4,4 0))", exp="32"),
    _case("c09_union_nonareal", "union_area", "POINT(0 0)", "POLYGON((0 0,1 0,1 1,0 1,0 0))",
          exp=None),
    _case("c10_point_buf", "buffer_area", "POINT(0 0)", num=2.0, lo=12.4, hi=12.6, exp="1"),
    _case("c11_fine_buf", "buffer_area_q32", "POINT(0 0)", num=2.0, lo=12.55, hi=12.57, exp="1"),
    _case("c12_line_buf", "buffer_area", "LINESTRING(0 0,10 0)", num=1.0, lo=23.0, hi=23.2, exp="1"),
    _case("c13_poly_buf", "buffer_area", "POLYGON((0 0,10 0,10 10,0 10,0 0))", num=1.0,
          lo=142.9, hi=143.3, exp="1"),
    _case("c14_buf_type", "buffer_type", "POINT(0 0)", num=1.0, exp="POLYGON"),
    _case("c15_zero_buf", "buffer_text", "POINT(3 4)", num=0.0, exp="POINT(3 4)"),
    _case("c16_neg_buf", "buffer_text", "POINT(0 0)", num=-1.0, exp=None),
]


@register(
    "geo_overlay_battery",
    oracle=_oracle(_OVERLAY_CASES),
    tags=("geo",),
    doc=(
        "Boolean polygon overlay + planar buffer (geo_overlay.sql/"
        "geo_buffer.sql goldens): boundary-classification overlay handles "
        "partial/disjoint/contained/shared-edge squares exactly; Minkowski "
        "buffer areas asserted in the reference's own tolerance ranges; "
        "non-areal overlay input and negative distance gate as NULL."
    ),
)
def geo_overlay_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, _OVERLAY_CASES)


# --- geo_lineref.sql + geo_discrete.sql: linear referencing + distances -----

_LINEREF_CASES = [
    _case("c01_mid", "interp_point", "LINESTRING(0 0,10 0)", num=0.5, exp="POINT(5 0)"),
    _case("c02_quarter3", "interp_point", "LINESTRING(0 0,10 0,10 10)", num=0.75, exp="POINT(10 5)"),
    _case("c03_start", "interp_point", "LINESTRING(0 0,10 0)", num=0.0, exp="POINT(0 0)"),
    _case("c04_end", "interp_point", "LINESTRING(0 0,10 0)", num=1.0, exp="POINT(10 0)"),
    _case("c05_quarters", "interp_points", "LINESTRING(0 0,10 0)", num=0.25,
          exp="MULTIPOINT(2.5 0,5 0,7.5 0,10 0)"),
    _case("c06_just_end", "interp_points", "LINESTRING(0 0,10 0)", num=1.0, exp="POINT(10 0)"),
    _case("c07_at3", "point_at_distance", "LINESTRING(0 0,10 0)", num=3.0, exp="POINT(3 0)"),
    _case("c08_at15", "point_at_distance", "LINESTRING(0 0,10 0,10 10)", num=15.0, exp="POINT(10 5)"),
    _case("c09_out_of_range", "point_at_distance", "LINESTRING(0 0,10 0)", num=99.0, exp=None),
    _case("c10_bad_fraction", "interp_points", "LINESTRING(0 0,10 0)", num=0.0, exp=None),
    _case("c11_not_line", "interp_point", "POINT(1 1)", num=0.5, exp=None),
    _case("c12_hd_parallel", "hausdorff", "LINESTRING(0 0,10 0)", "LINESTRING(0 1,10 1)", exp="1"),
    _case("c13_fd_parallel", "frechet", "LINESTRING(0 0,10 0)", "LINESTRING(0 1,10 1)", exp="1"),
    _case("c14_hd_same", "hausdorff", "LINESTRING(0 0,10 0)", "LINESTRING(0 0,10 0)", exp="0"),
    _case("c15_fd_same", "frechet", "LINESTRING(0 0,10 0)", "LINESTRING(0 0,10 0)", exp="0"),
    _case("c16_fd_diverge", "frechet", "LINESTRING(0 0,10 0)", "LINESTRING(0 0,10 5)", exp="5"),
    _case("c17_hd_points", "hausdorff", "MULTIPOINT(0 0,0 3)", "MULTIPOINT(4 0,4 3)", exp="4"),
]


@register(
    "geo_lineref_battery",
    oracle=_oracle(_LINEREF_CASES),
    tags=("geo",),
    doc=(
        "Linear referencing (st_lineinterpolatepoint/points, "
        "st_pointatdistance) + discrete curve distances (Eiter-Mannila "
        "Fréchet, vertex-to-segment Hausdorff) — geo_lineref.sql/"
        "geo_discrete.sql goldens; range/fraction/type errors as NULL."
    ),
)
def geo_lineref_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, _LINEREF_CASES)


# --- geo_validity.sql: simplicity / ring / validity predicates --------------

_VALIDITY_CASES = [
    _case("c01_simple_point", "issimple", "POINT(1 2)", exp="1"),
    _case("c02_simple_line", "issimple", "LINESTRING(0 0,1 0,2 0)", exp="1"),
    _case("c03_simple_closed_tri", "issimple", "LINESTRING(0 0,2 0,1 1,0 0)", exp="1"),
    _case("c04_not_simple_crossing", "issimple", "LINESTRING(0 0,2 2,0 2,2 0)", exp="0"),
    _case("c05_not_simple_backtrack", "issimple", "LINESTRING(0 0,1 0,0 0)", exp="0"),
    _case("c06_ring_yes", "isring", "LINESTRING(0 0,2 0,1 1,0 0)", exp="1"),
    _case("c07_ring_not_closed", "isring", "LINESTRING(0 0,1 0,2 0)", exp="0"),
    _case("c08_ring_closed_not_simple", "isring", "LINESTRING(0 0,1 0,0 0)", exp="0"),
    _case("c09_ring_point_err", "isring", "POINT(1 2)", exp=None),
    _case("c10_valid_point", "isvalid", "POINT(1 2)", exp="1"),
    _case("c11_valid_line", "isvalid", "LINESTRING(0 0,1 1)", exp="1"),
    _case("c12_valid_polygon", "isvalid", "POLYGON((0 0,4 0,4 4,0 4,0 0))", exp="1"),
    _case("c13_invalid_bowtie", "isvalid", "POLYGON((0 0,4 4,4 0,0 4,0 0))", exp="0"),
    _case("c14_valid_with_hole", "isvalid",
          "POLYGON((0 0,6 0,6 6,0 6,0 0),(1 1,2 1,2 2,1 2,1 1))", exp="1"),
    _case("c15_invalid_hole_touches", "isvalid",
          "POLYGON((0 0,6 0,6 6,0 6,0 0),(0 1,2 1,2 2,0 2,0 1))", exp="0"),
    _case("c16_valid_empty_gc", "isvalid", "GEOMETRYCOLLECTION EMPTY", exp="1"),
    _case("c17_validate_ok", "validate", "POLYGON((0 0,4 0,4 4,0 4,0 0))",
          exp="POLYGON((0 0,4 0,4 4,0 4,0 0))"),
    _case("c18_validate_bowtie", "validate", "POLYGON((0 0,4 4,4 0,0 4,0 0))", exp=None),
]


@register(
    "geo_validity_battery",
    oracle=_oracle(_VALIDITY_CASES),
    tags=("geo",),
    doc=(
        "st_issimple/st_isring/st_isvalid/st_validate (geo_validity.sql, "
        "geo_misc.sql goldens): self-intersection and backtrack detection, "
        "bowtie rings, hole-inside-shell with edge-sharing rejection."
    ),
)
def geo_validity_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, _VALIDITY_CASES)


# --- geo_construct.sql + geo_constructors.sql + geo_geojson.sql -------------

_CONSTRUCT_CASES = [
    _case("c01_hull_poly", "convexhull", "MULTIPOINT(0 0,4 0,4 4,0 4,2 2)",
          exp="POLYGON((0 0,4 0,4 4,0 4,0 0))"),
    _case("c02_hull_line", "convexhull", "MULTIPOINT(0 0,1 1,2 2)", exp="LINESTRING(0 0,2 2)"),
    _case("c03_hull_point", "convexhull", "MULTIPOINT(5 5,5 5)", exp="POINT(5 5)"),
    _case("c04_hull_from_poly", "convexhull",
          "POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,2 2,1 2,1 1))",
          exp="POLYGON((0 0,4 0,4 4,0 4,0 0))"),
    _case("c05_simp_flat", "simplify", "LINESTRING(0 0,5 0.0001,10 0)", num=0.001,
          exp="LINESTRING(0 0,10 0)"),
    _case("c06_simp_bend", "simplify", "LINESTRING(0 0,5 5,10 0)", num=0.001,
          exp="LINESTRING(0 0,5 5,10 0)"),
    _case("c07_simp_point", "simplify", "POINT(1 2)", num=1.0, exp="POINT(1 2)"),
    _case("c08_collect_pts", "collect", "POINT(0 0)", "POINT(1 1)", exp="MULTIPOINT(0 0,1 1)"),
    _case("c09_collect_polys", "collect", "POLYGON((0 0,1 0,1 1,0 1,0 0))",
          "POLYGON((2 2,3 2,3 3,2 3,2 2))",
          exp="MULTIPOLYGON(((0 0,1 0,1 1,0 1,0 0)),((2 2,3 2,3 3,2 3,2 2)))"),
    _case("c10_collect_mixed", "collect", "POINT(0 0)", "LINESTRING(0 0,1 1)",
          exp="GEOMETRYCOLLECTION(POINT(0 0),LINESTRING(0 0,1 1))"),
    _case("c11_srid_simplify", "ewkt_simplify", "SRID=4326;LINESTRING(0 0,1 0,2 0,3 0)",
          num=0.5, exp="SRID=4326;LINESTRING(0 0,3 0)"),
    _case("c12_srid_hull", "ewkt_convexhull", "SRID=4326;LINESTRING(0 0,1 0,2 0,3 0)",
          exp="SRID=4326;LINESTRING(0 0,3 0)"),
    _case("c13_srid_boundary", "ewkt_boundary", "SRID=4326;POLYGON((0 0,2 0,2 2,0 2,0 0))",
          exp="SRID=4326;MULTILINESTRING((0 0,2 0,2 2,0 2,0 0))"),
    _case("c14_mpoint_text", "typed_text", "MULTIPOINT(1 1,2 2)", "MULTIPOINT",
          exp="MULTIPOINT(1 1,2 2)"),
    _case("c15_mline_text", "typed_text", "MULTILINESTRING((0 0,1 1),(2 2,3 3))",
          "MULTILINESTRING", exp="MULTILINESTRING((0 0,1 1),(2 2,3 3))"),
    _case("c16_mpoly_text", "typed_text", "MULTIPOLYGON(((0 0,1 0,1 1,0 0)))",
          "MULTIPOLYGON", exp="MULTIPOLYGON(((0 0,1 0,1 1,0 0)))"),
    _case("c17_gc_text", "typed_text", "GEOMETRYCOLLECTION(POINT(1 1))",
          "GEOMETRYCOLLECTION", exp="GEOMETRYCOLLECTION(POINT(1 1))"),
    _case("c18_typed_mismatch", "typed_text", "LINESTRING(0 0,1 1)", "POINT", exp=None),
    _case("c19_typed_wkb", "typed_wkb", "POLYGON((0 0,2 0,2 2,0 0))", "POLYGON",
          exp="POLYGON((0 0,2 0,2 2,0 0))"),
    _case("c20_typed_wkb_mismatch", "typed_wkb", "LINESTRING(0 0,1 1)", "POINT", exp=None),
]


@register(
    "geo_construct_battery",
    oracle=_oracle(_CONSTRUCT_CASES),
    tags=("geo",),
    doc=(
        "Constructive ops + typed constructors (geo_construct.sql/"
        "geo_constructors.sql goldens): monotone-chain convex hull with "
        "point/line degeneracies, Douglas-Peucker simplify, st_collect "
        "kind-promotion, EWKT SRID preservation through constructive ops, "
        "typed FromText/FromWKB constructors NULL on subtype mismatch."
    ),
)
def geo_construct_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, _CONSTRUCT_CASES)


_GJ_CASES = [
    _case("c01_pt", "asgeojson", "POINT(1 2)", exp='{"type":"Point","coordinates":[1,2]}'),
    _case("c02_ls", "asgeojson", "LINESTRING(0 0,1 1,2 2)",
          exp='{"type":"LineString","coordinates":[[0,0],[1,1],[2,2]]}'),
    _case("c03_poly", "asgeojson", "POLYGON((0 0,4 0,4 4,0 4,0 0))",
          exp='{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}'),
    _case("c04_mpt", "asgeojson", "MULTIPOINT(0 0,1 1)",
          exp='{"type":"MultiPoint","coordinates":[[0,0],[1,1]]}'),
    _case("c05_gc", "asgeojson", "GEOMETRYCOLLECTION(POINT(1 1),LINESTRING(0 0,1 1))",
          exp='{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":'
              '[1,1]},{"type":"LineString","coordinates":[[0,0],[1,1]]}]}'),
    _case("c06_full_prec", "asgeojson", "POINT(1.23456 2.34567)",
          exp='{"type":"Point","coordinates":[1.23456,2.34567]}'),
    _case("c07_two_digits", "asgeojson", "POINT(1.23456 2.34567)", num=2.0,
          exp='{"type":"Point","coordinates":[1.23,2.35]}'),
    _case("c08_back_pt", "fromgeojson", '{"type":"Point","coordinates":[3,4]}',
          exp="POINT(3 4)"),
    _case("c09_back_ls", "fromgeojson", '{"type":"LineString","coordinates":[[0,0],[1,1],[2,2]]}',
          exp="LINESTRING(0 0,1 1,2 2)"),
    _case("c10_back_poly", "fromgeojson",
          '{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]}',
          exp="POLYGON((0 0,4 0,4 4,0 4,0 0))"),
    _case("c11_roundtrip", "geojson_roundtrip", "POLYGON((0 0,4 0,4 4,0 4,0 0))",
          exp="POLYGON((0 0,4 0,4 4,0 4,0 0))"),
    _case("c12_invalid", "fromgeojson", '{"type":"Point"}', exp=None),
    _case("c13_srid_default", "fromgeojson_srid", '{"type":"Point","coordinates":[3,4]}',
          exp="4326"),
    _case("c14_srid_zero", "fromgeojson_srid", '{"type":"Point","coordinates":[3,4]}',
          num=0.0, exp="0"),
]


@register(
    "geo_geojson_battery",
    oracle=_oracle(_GJ_CASES),
    tags=("geo",),
    doc=(
        "GeoJSON I/O (geo_geojson.sql golden): RFC 7946 export with "
        "maxdecimaldigits rounding, import with the reference's default "
        "SRID 4326 (rendered as an EWKT prefix here — 'fromgeojson' cases "
        "assert it explicitly), WKT round-trip, invalid JSON as NULL."
    ),
)
def geo_geojson_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run(spark, _GJ_CASES)
