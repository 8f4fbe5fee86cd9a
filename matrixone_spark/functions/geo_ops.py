"""Full-model st_* surface over the clean-room kernel (functions/geomlib).

The struct-expression core in functions/geo.py stays the codegen fast path
for the hot operators (point distance filters, MBR pruning, ray-cast
containment joins); this module carries the reference's long tail — all
seven WKT kinds, holes, collections, overlay/buffer/validity/lineref/
GeoJSON — as Arrow-batched pandas UDFs over WKT strings (reference
`pkg/sql/plan/function/func_geo*.go`, GEOS-backed there; golden semantics
from `test/distributed/cases/geo/*.result`, gated in tests/test_geomlib.py
and the geo_* batteries).

Geometries travel as WKT strings with an optional EWKT ``SRID=n;`` prefix
(how the reference's typed columns carry their SRID through constructive
ops: geo_srid.sql / geo_construct.sql golden). Per-row errors map to NULL,
the engine's non-throwing batch analogue.

Scale note: every function here is a per-row scalar transform — Arrow
batches, no shuffle, no driver state — so it distributes exactly like the
built-in string functions at 100 TB; the geometry values are per-row small.
"""

from __future__ import annotations

import numpy as _np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, StringType,
)

from matrixone_spark.functions import col_of
from matrixone_spark.functions import geomlib as GL


def _parse(text):
    """EWKT/WKT string -> (srid | None, geometry). Raises on malformed."""
    srid, bare = GL.split_srid(text)
    return srid, GL.parse_wkt(bare)


def _render(srid, g) -> "str | None":
    if g is None:
        return None
    wkt = GL.render_wkt(g)
    return f"SRID={srid};{wkt}" if srid else wkt


# ---------------------------------------------------------------------------
# UDF factories
# ---------------------------------------------------------------------------

def _u1(fn, rettype, dtype):
    """Unary geometry function; fn(geom) -> python value."""
    @pandas_udf(rettype)
    def u(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            try:
                _, g = _parse(v)
                out.append(fn(g))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=dtype)
    return u


def _u1_geom(fn, preserve_srid=True):
    """Unary geometry -> geometry function."""
    @pandas_udf(StringType())
    def u(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            try:
                srid, g = _parse(v)
                out.append(_render(srid if preserve_srid else None, fn(g)))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u


def _u2(fn, rettype, dtype):
    """Binary geometry function; fn(ga, gb) -> python value."""
    @pandas_udf(rettype)
    def u(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = []
        for va, vb in zip(sa, sb):
            try:
                _, ga = _parse(va)
                _, gb = _parse(vb)
                out.append(fn(ga, gb))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype=dtype)
    return u


def _u2_geom(fn):
    @pandas_udf(StringType())
    def u(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = []
        for va, vb in zip(sa, sb):
            try:
                sr, ga = _parse(va)
                _, gb = _parse(vb)
                out.append(_render(sr, fn(ga, gb)))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u


def _u1n_geom(fn):
    """(geometry, number) -> geometry."""
    @pandas_udf(StringType())
    def u(s: pd.Series, n: pd.Series) -> pd.Series:
        out = []
        for v, k in zip(s, n):
            try:
                sr, g = _parse(v)
                out.append(_render(sr, fn(g, k)))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u


def _lit(x, typ="double"):
    return F.lit(x).cast(typ) if not isinstance(x, Column) else x


# ---------------------------------------------------------------------------
# Constructors / IO
# ---------------------------------------------------------------------------

def st_geomfromtext(wkt, srid=None) -> Column:
    """Parse + canonicalize WKT (all seven kinds, EMPTY, holes). With a
    SRID argument the result carries an EWKT prefix (geo_srid.sql)."""
    @pandas_udf(StringType())
    def u(s: pd.Series, sr: pd.Series) -> pd.Series:
        out = []
        for v, r in zip(s, sr):
            try:
                _, g = _parse(v)
                out.append(_render(int(r) if pd.notna(r) and r else None, g))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u(col_of(wkt), _lit(srid if srid is not None else 0, "int"))


st_geometryfromtext = st_geomfromtext


def _typed_from_text(expect):
    def ctor(wkt, srid=None) -> Column:
        @pandas_udf(StringType())
        def u(s: pd.Series) -> pd.Series:
            out = []
            for v in s:
                try:
                    sr, g = _parse(v)
                    out.append(_render(sr, g) if g[0] == expect else None)
                except Exception:
                    out.append(None)
            return pd.Series(out, dtype="object")
        return u(col_of(wkt))
    return ctor


st_mpointfromtext = st_multipointfromtext = _typed_from_text("MULTIPOINT")
st_mlinefromtext = st_multilinestringfromtext = _typed_from_text("MULTILINESTRING")
st_mpolyfromtext = st_multipolygonfromtext = _typed_from_text("MULTIPOLYGON")
st_geomcollfromtext = st_geomcollfromtxt = st_geometrycollectionfromtext = (
    _typed_from_text("GEOMETRYCOLLECTION"))


def st_astext(g) -> Column:
    """Canonical WKT (SRID prefix stripped) — reference ST_AsText/ST_AsWKT."""
    return _u1_geom(lambda x: x, preserve_srid=False)(col_of(g))


st_aswkt = st_astext


def st_srid(g) -> Column:
    """EWKT prefix SRID, default 0 (MySQL unqualified-geometry default)."""
    @pandas_udf(IntegerType())
    def u(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            try:
                srid, _ = _parse(v)
                out.append(srid if srid is not None else 0)
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="Int32")
    return u(col_of(g))


def st_aswkb(g) -> Column:
    """OGC WKB (little-endian), nested headers for multi parts."""
    @pandas_udf(BinaryType())
    def u(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            try:
                _, geom = _parse(v)
                out.append(GL.to_wkb(geom))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u(col_of(g))


st_asbinary = st_aswkb


def st_geomfromwkb(b) -> Column:
    @pandas_udf(StringType())
    def u(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            try:
                out.append(GL.render_wkt(GL.from_wkb(bytes(v))))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u(col_of(b))


st_geomfrombinary = st_geometryfromwkb = st_geomfromwkb


def _typed_from_wkb(expect):
    def ctor(b) -> Column:
        @pandas_udf(StringType())
        def u(s: pd.Series) -> pd.Series:
            out = []
            for v in s:
                try:
                    g = GL.from_wkb(bytes(v))
                    out.append(GL.render_wkt(g) if g[0] == expect else None)
                except Exception:
                    out.append(None)
            return pd.Series(out, dtype="object")
        return u(col_of(b))
    return ctor


st_pointfromwkb = _typed_from_wkb("POINT")
st_linefromwkb = st_linestringfromwkb = _typed_from_wkb("LINESTRING")
st_polyfromwkb = st_polygonfromwkb = _typed_from_wkb("POLYGON")
st_mpointfromwkb = st_multipointfromwkb = _typed_from_wkb("MULTIPOINT")
st_mlinefromwkb = st_multilinestringfromwkb = _typed_from_wkb("MULTILINESTRING")
st_mpolyfromwkb = st_multipolygonfromwkb = _typed_from_wkb("MULTIPOLYGON")
st_geomcollfromwkb = st_geometrycollectionfromwkb = _typed_from_wkb(
    "GEOMETRYCOLLECTION")


def st_asgeojson(g, maxdecimaldigits=None) -> Column:
    """RFC 7946 GeoJSON text (geo_geojson.sql golden shapes)."""
    @pandas_udf(StringType())
    def u(s: pd.Series, md: pd.Series) -> pd.Series:
        out = []
        for v, d in zip(s, md):
            try:
                _, geom = _parse(v)
                dec = int(d) if pd.notna(d) and d >= 0 else None
                out.append(GL.to_geojson(geom, dec))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u(col_of(g), _lit(maxdecimaldigits if maxdecimaldigits is not None else -1, "int"))


def st_geomfromgeojson(j, srid=None) -> Column:
    """GeoJSON -> geometry; SRID defaults to 4326 (the reference default)."""
    @pandas_udf(StringType())
    def u(s: pd.Series, sr: pd.Series) -> pd.Series:
        out = []
        for v, r in zip(s, sr):
            try:
                g = GL.from_geojson(v)
                srid_val = int(r) if pd.notna(r) else 4326
                out.append(_render(srid_val if srid_val else None, g))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u(col_of(j), _lit(srid if srid is not None else 4326, "int"))


def st_point32(x, y) -> Column:
    """POINT with float32-rounded coordinates (reference point32 type:
    geo_stpoint.sql golden renders the float32 value as a double)."""
    import numpy as np

    @pandas_udf(StringType())
    def u(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for xv, yv in zip(xs, ys):
            if pd.isna(xv) or pd.isna(yv):
                out.append(None)
            else:
                fx = float(np.float32(xv))
                fy = float(np.float32(yv))
                out.append(f"POINT({GL.fmt_num(fx)} {GL.fmt_num(fy)})")
        return pd.Series(out, dtype="object")
    return u(col_of(x).cast("double"), col_of(y).cast("double"))


# ---------------------------------------------------------------------------
# Accessors / measures
# ---------------------------------------------------------------------------

st_geometrytype = lambda g: _u1(lambda x: x[0], StringType(), "object")(col_of(g))
st_dimension = lambda g: _u1(GL.dimension, IntegerType(), "Int32")(col_of(g))
st_isempty = lambda g: _u1(GL.is_empty, BooleanType(), "object")(col_of(g))
st_iscollection = lambda g: _u1(GL.is_collection, BooleanType(), "object")(col_of(g))
st_numgeometries = lambda g: _u1(GL.num_geometries, IntegerType(), "Int32")(col_of(g))
st_numinteriorrings = lambda g: _u1(GL.num_interior_rings, IntegerType(), "Int32")(col_of(g))
st_numinteriorring = st_numinteriorrings
st_area = lambda g: _u1(GL.area, DoubleType(), "float64")(col_of(g))
st_length = lambda g: _u1(GL.length, DoubleType(), "float64")(col_of(g))
st_centroid = lambda g: _u1_geom(GL.centroid)(col_of(g))
st_envelope = lambda g: _u1_geom(GL.envelope)(col_of(g))
st_boundary = lambda g: _u1_geom(GL.boundary)(col_of(g))
st_pointonsurface = lambda g: _u1_geom(GL.point_on_surface)(col_of(g))
st_exteriorring = lambda g: _u1_geom(GL.exterior_ring)(col_of(g))
st_convexhull = lambda g: _u1_geom(GL.convex_hull)(col_of(g))
st_issimple = lambda g: _u1(GL.is_simple, BooleanType(), "object")(col_of(g))
st_isring = lambda g: _u1(GL.is_ring, BooleanType(), "object")(col_of(g))
st_isvalid = lambda g: _u1(GL.is_valid, BooleanType(), "object")(col_of(g))
st_validate = lambda g: _u1_geom(GL.validate)(col_of(g))


def st_geometryn(g, n) -> Column:
    return _u1n_geom(lambda x, k: GL.geometry_n(x, int(k)))(col_of(g), _lit(n, "int"))


def st_interiorringn(g, n) -> Column:
    return _u1n_geom(lambda x, k: GL.interior_ring_n(x, int(k)))(col_of(g), _lit(n, "int"))


def st_simplify(g, tol) -> Column:
    return _u1n_geom(lambda x, t: GL.simplify(x, float(t)))(col_of(g), _lit(tol))


# ---------------------------------------------------------------------------
# Binary predicates / measures / overlay
# ---------------------------------------------------------------------------

st_distance = lambda a, b: _u2(GL.distance, DoubleType(), "float64")(col_of(a), col_of(b))
st_intersects = lambda a, b: _u2(GL.intersects, BooleanType(), "object")(col_of(a), col_of(b))
st_disjoint = lambda a, b: _u2(GL.disjoint, BooleanType(), "object")(col_of(a), col_of(b))
st_contains = lambda a, b: _u2(GL.contains, BooleanType(), "object")(col_of(a), col_of(b))
st_within = lambda a, b: _u2(GL.within, BooleanType(), "object")(col_of(a), col_of(b))
st_covers = lambda a, b: _u2(GL.covers, BooleanType(), "object")(col_of(a), col_of(b))
st_coveredby = lambda a, b: _u2(GL.coveredby, BooleanType(), "object")(col_of(a), col_of(b))
st_touches = lambda a, b: _u2(GL.touches, BooleanType(), "object")(col_of(a), col_of(b))
st_crosses = lambda a, b: _u2(GL.crosses, BooleanType(), "object")(col_of(a), col_of(b))
st_overlaps = lambda a, b: _u2(GL.overlaps, BooleanType(), "object")(col_of(a), col_of(b))
st_equals = lambda a, b: _u2(GL.equals, BooleanType(), "object")(col_of(a), col_of(b))
st_hausdorffdistance = lambda a, b: _u2(GL.hausdorff, DoubleType(), "float64")(col_of(a), col_of(b))
st_frechetdistance = lambda a, b: _u2(GL.frechet, DoubleType(), "float64")(col_of(a), col_of(b))
st_union = lambda a, b: _u2_geom(lambda x, y: GL.overlay(x, y, "union"))(col_of(a), col_of(b))
st_intersection = lambda a, b: _u2_geom(lambda x, y: GL.overlay(x, y, "intersection"))(col_of(a), col_of(b))
st_difference = lambda a, b: _u2_geom(lambda x, y: GL.overlay(x, y, "difference"))(col_of(a), col_of(b))
st_symdifference = lambda a, b: _u2_geom(lambda x, y: GL.overlay(x, y, "symdifference"))(col_of(a), col_of(b))
st_collect = lambda a, b: _u2_geom(GL.collect)(col_of(a), col_of(b))


def st_buffer(g, dist, quad_segs=8) -> Column:
    """Planar Minkowski-sum buffer (geo_buffer.sql): default 8 segments per
    quarter circle; the optional third argument raises the arc resolution."""
    @pandas_udf(StringType())
    def u(s: pd.Series, d: pd.Series, q: pd.Series) -> pd.Series:
        out = []
        for v, dv, qv in zip(s, d, q):
            try:
                sr, geom = _parse(v)
                out.append(_render(sr, GL.buffer(geom, float(dv), int(qv))))
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u(col_of(g), _lit(dist), _lit(quad_segs, "int"))


def st_lineinterpolatepoint(g, fraction) -> Column:
    return _u1n_geom(lambda x, f: GL.line_interpolate_point(x, float(f)))(
        col_of(g), _lit(fraction))


def st_lineinterpolatepoints(g, fraction) -> Column:
    return _u1n_geom(lambda x, f: GL.line_interpolate_points(x, float(f)))(
        col_of(g), _lit(fraction))


def st_pointatdistance(g, dist) -> Column:
    return _u1n_geom(lambda x, d: GL.point_at_distance(x, float(d)))(
        col_of(g), _lit(dist))


# ---------------------------------------------------------------------------
# Battery dispatcher: evaluates a labeled op per row in ONE vectorized UDF
# so a whole golden battery plans as LocalRelation -> Project(single UDF).
# ---------------------------------------------------------------------------

def _g(v):
    return _parse(v)[1]


_B = {
    "astext": lambda a, b, n: _render(None, _g(a)),
    "ewkt": lambda a, b, n: _render(*_parse(a)),
    "srid": lambda a, b, n: _parse(a)[0] or 0,
    "geomtype": lambda a, b, n: _g(a)[0],
    "dimension": lambda a, b, n: GL.dimension(_g(a)),
    "isempty": lambda a, b, n: int(GL.is_empty(_g(a))),
    "iscollection": lambda a, b, n: int(GL.is_collection(_g(a))),
    "numgeometries": lambda a, b, n: GL.num_geometries(_g(a)),
    "geometryn": lambda a, b, n: GL.render_wkt(GL.geometry_n(_g(a), int(n))),
    "exteriorring": lambda a, b, n: GL.render_wkt(GL.exterior_ring(_g(a))),
    "numinteriorrings": lambda a, b, n: GL.num_interior_rings(_g(a)),
    "interiorringn": lambda a, b, n: GL.render_wkt(GL.interior_ring_n(_g(a), int(n))),
    "area": lambda a, b, n: GL.area(_g(a)),
    "length": lambda a, b, n: GL.length(_g(a)),
    "centroid": lambda a, b, n: GL.render_wkt(GL.centroid(_g(a))),
    "envelope": lambda a, b, n: GL.render_wkt(GL.envelope(_g(a))),
    "boundary": lambda a, b, n: GL.render_wkt(GL.boundary(_g(a))),
    "pointonsurface": lambda a, b, n: GL.render_wkt(GL.point_on_surface(_g(a))),
    "issimple": lambda a, b, n: int(GL.is_simple(_g(a))),
    "isring": lambda a, b, n: int(GL.is_ring(_g(a))),
    "isvalid": lambda a, b, n: int(GL.is_valid(_g(a))),
    "validate": lambda a, b, n: (lambda g: GL.render_wkt(g) if g else None)(
        GL.validate(_g(a))),
    "convexhull": lambda a, b, n: GL.render_wkt(GL.convex_hull(_g(a))),
    "simplify": lambda a, b, n: GL.render_wkt(GL.simplify(_g(a), float(n))),
    "collect": lambda a, b, n: GL.render_wkt(GL.collect(_g(a), _g(b))),
    "distance": lambda a, b, n: GL.distance(_g(a), _g(b)),
    "intersects": lambda a, b, n: int(GL.intersects(_g(a), _g(b))),
    "disjoint": lambda a, b, n: int(GL.disjoint(_g(a), _g(b))),
    "contains": lambda a, b, n: int(GL.contains(_g(a), _g(b))),
    "within": lambda a, b, n: int(GL.within(_g(a), _g(b))),
    "covers": lambda a, b, n: int(GL.covers(_g(a), _g(b))),
    "coveredby": lambda a, b, n: int(GL.coveredby(_g(a), _g(b))),
    "touches": lambda a, b, n: int(GL.touches(_g(a), _g(b))),
    "crosses": lambda a, b, n: int(GL.crosses(_g(a), _g(b))),
    "overlaps": lambda a, b, n: int(GL.overlaps(_g(a), _g(b))),
    "equals": lambda a, b, n: int(GL.equals(_g(a), _g(b))),
    "hausdorff": lambda a, b, n: GL.hausdorff(_g(a), _g(b)),
    "frechet": lambda a, b, n: GL.frechet(_g(a), _g(b)),
    "union_area": lambda a, b, n: GL.area(GL.overlay(_g(a), _g(b), "union")),
    "inter_area": lambda a, b, n: GL.area(GL.overlay(_g(a), _g(b), "intersection")),
    "diff_area": lambda a, b, n: GL.area(GL.overlay(_g(a), _g(b), "difference")),
    "xor_area": lambda a, b, n: GL.area(GL.overlay(_g(a), _g(b), "symdifference")),
    "union_type": lambda a, b, n: GL.overlay(_g(a), _g(b), "union")[0],
    "buffer_area": lambda a, b, n: GL.area(GL.buffer(_g(a), float(n))),
    "buffer_area_q32": lambda a, b, n: GL.area(GL.buffer(_g(a), float(n), 32)),
    "buffer_type": lambda a, b, n: GL.buffer(_g(a), float(n))[0],
    "buffer_text": lambda a, b, n: GL.render_wkt(GL.buffer(_g(a), float(n))),
    "interp_point": lambda a, b, n: GL.render_wkt(
        GL.line_interpolate_point(_g(a), float(n))),
    "interp_points": lambda a, b, n: GL.render_wkt(
        GL.line_interpolate_points(_g(a), float(n))),
    "point_at_distance": lambda a, b, n: GL.render_wkt(
        GL.point_at_distance(_g(a), float(n))),
    "asgeojson": lambda a, b, n: GL.to_geojson(
        _g(a), int(n) if n is not None and n >= 0 else None),
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
        lambda g: GL.render_wkt(g) if g[0] == b else None)(_g(a)),
    "typed_wkb": lambda a, b, n: (
        lambda g: GL.render_wkt(g) if g[0] == b else None)(
            GL.from_wkb(GL.to_wkb(_g(a)))),
    "point32": lambda a, b, n: (
        lambda g: "POINT({} {})".format(
            GL.fmt_num(float(_np.float32(g[1][0]))),
            GL.fmt_num(float(_np.float32(g[1][1])))))(_g(a)),
    "wkb_roundtrip": lambda a, b, n: GL.render_wkt(GL.from_wkb(GL.to_wkb(_g(a)))),
    "geojson_roundtrip": lambda a, b, n: GL.render_wkt(
        GL.from_geojson(GL.to_geojson(_g(a)))),
}


def geo_eval(op, a, b=None, num=None) -> Column:
    """Battery dispatcher: evaluate the labeled kernel op per row, rendering
    the result to a string (numbers via fmt_num; errors/NULL -> NULL)."""
    @pandas_udf(StringType())
    def u(ops: pd.Series, sa: pd.Series, sb: pd.Series, sn: pd.Series) -> pd.Series:
        out = []
        for o, va, vb, vn in zip(ops, sa, sb, sn):
            try:
                r = _B[o](va, vb, None if pd.isna(vn) else float(vn))
                if r is None:
                    out.append(None)
                elif isinstance(r, float):
                    out.append(GL.fmt_num(round(r, 12)))
                elif isinstance(r, int):
                    out.append(str(r))
                else:
                    out.append(r)
            except Exception:
                out.append(None)
        return pd.Series(out, dtype="object")
    return u(
        col_of(op), col_of(a),
        col_of(b) if b is not None else F.lit(None).cast("string"),
        col_of(num) if num is not None else F.lit(None).cast("double"),
    )
