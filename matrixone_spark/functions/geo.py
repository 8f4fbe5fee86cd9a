"""Geo core: WKT points + bounding boxes as pure column expressions.

Reference: ~190 st_* functions over WKB geometry (pkg/geo/,
function/func_s2h3.go; SURVEY §2.8 marks the full surface optional). This
module implements the point/bbox core that covers the common analytical
shapes (distance filters, containment joins) WITHOUT any geometry library:
WKT 'POINT(x y)' round-trips through regexp + cast, all math is plain
doubles inside codegen — so it runs at 100 TB and oracle-checks against
DuckDB with the same expressions.

Full polygon/linestring support would slot in as a Sedona-style UDF layer;
declared out of round-1 scope (SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, StringType

from matrixone_spark.functions import _strict, arrow_udf, col_of


def st_point(x, y) -> Column:
    """ST_POINT(x, y) → WKT string (reference st_point, pkg/geo/)."""
    return F.concat(F.lit("POINT("), col_of(x).cast("string"), F.lit(" "), col_of(y).cast("string"), F.lit(")"))


def st_x(p) -> Column:
    """ST_X('POINT(x y)')."""
    return F.regexp_extract(col_of(p), r"POINT\(([-0-9.eE]+) ([-0-9.eE]+)\)", 1).cast("double")


def st_y(p) -> Column:
    return F.regexp_extract(col_of(p), r"POINT\(([-0-9.eE]+) ([-0-9.eE]+)\)", 2).cast("double")


def st_distance(a, b) -> Column:
    """Euclidean ST_DISTANCE between two WKT points."""
    dx = st_x(a) - st_x(b)
    dy = st_y(a) - st_y(b)
    return F.sqrt(dx * dx + dy * dy)


def st_dwithin(a, b, d: float) -> Column:
    """ST_DWITHIN: distance ≤ d (squared compare — no sqrt on the hot path)."""
    dx = st_x(a) - st_x(b)
    dy = st_y(a) - st_y(b)
    return (dx * dx + dy * dy) <= (d * d)


def mbr_contains(xmin, ymin, xmax, ymax, p) -> Column:
    """MBR containment (reference mbr* family): point inside bbox."""
    px, py = st_x(p), st_y(p)
    return (px >= col_of(xmin)) & (px <= col_of(xmax)) & (py >= col_of(ymin)) & (py <= col_of(ymax))


# ---------------------------------------------------------------------------
# WKT geometry core: LINESTRING / POLYGON as array<struct<x,y>> expressions.
#
# Reference surface: st_geomfromtext/st_astext/st_numpoints/st_pointn/
# st_startpoint/st_endpoint/st_isclosed/st_length/st_area/st_centroid/
# st_envelope/st_makeenvelope/st_contains/st_distance_sphere
# (function_id.go:1234-1363; geodetic kernel pkg/geo/geodetic.go:205
# DistanceMeters = S2 chord angle × EarthRadiusMeters 6371008.8).
#
# Spark-first: a geometry is struct<gtype:string, pts:array<struct<x,y>>>
# built with regexp/split/transform and measured with zip_with/aggregate —
# every function below stays inside whole-stage codegen (no UDF, no geometry
# library), so it distributes like any other column expression. Polygons
# keep the outer ring only (interior rings are out of round scope).
# ---------------------------------------------------------------------------

EARTH_RADIUS_M = 6371008.8  # pkg/geo/geodetic.go:30 (IUGG mean radius R1)


def st_geomfromtext(wkt) -> Column:
    """Parse POINT/LINESTRING/POLYGON WKT → struct(gtype, pts).

    POLYGON keeps the exterior ring (closed: first point repeated last,
    as WKT writes it). Unknown/malformed text → gtype NULL, empty pts.
    """
    w = F.trim(col_of(wkt))
    gtype = F.upper(F.regexp_extract(w, r"^\s*([A-Za-z]+)", 1))
    gtype = F.when(gtype.isin("POINT", "LINESTRING", "POLYGON"), gtype)
    body = (
        F.when(gtype == "POLYGON", F.regexp_extract(w, r"\(\(\s*([^()]*?)\s*\)", 1))
        .otherwise(F.regexp_extract(w, r"\(\s*([^()]*?)\s*\)", 1))
    )
    pts = F.transform(
        F.split(body, r"\s*,\s*"),
        lambda s: F.struct(
            F.split(F.trim(s), r"\s+").getItem(0).cast("double").alias("x"),
            F.split(F.trim(s), r"\s+").getItem(1).cast("double").alias("y"),
        ),
    )
    pts = F.when(body == "", F.expr("array()").cast("array<struct<x:double,y:double>>")).otherwise(pts)
    return F.struct(gtype.alias("gtype"), pts.alias("pts"))


def st_astext(g) -> Column:
    """Render struct(gtype, pts) back to WKT."""
    g = col_of(g)
    coords = F.array_join(
        F.transform(
            g.pts, lambda p: F.concat(p.x.cast("string"), F.lit(" "), p.y.cast("string"))
        ),
        ", ",
    )
    return (
        F.when(g.gtype == "POINT", F.concat(F.lit("POINT("), coords, F.lit(")")))
        .when(g.gtype == "LINESTRING", F.concat(F.lit("LINESTRING("), coords, F.lit(")")))
        .when(g.gtype == "POLYGON", F.concat(F.lit("POLYGON(("), coords, F.lit("))")))
    )


def st_geometrytype(g) -> Column:
    return col_of(g).gtype


def st_numpoints(g) -> Column:
    return F.size(col_of(g).pts)


def st_pointn(g, n) -> Column:
    """N-th point (1-based) as WKT POINT (NULL out of range)."""
    p = F.element_at(col_of(g).pts, n if not isinstance(n, int) else F.lit(n))
    return F.when(p.isNotNull(), F.concat(
        F.lit("POINT("), p.x.cast("string"), F.lit(" "), p.y.cast("string"), F.lit(")")))


def st_startpoint(g) -> Column:
    return st_pointn(g, 1)


def st_endpoint(g) -> Column:
    return st_pointn(g, F.size(col_of(g).pts))


def st_isclosed(g) -> Column:
    g = col_of(g)
    first, last = F.element_at(g.pts, 1), F.element_at(g.pts, F.size(g.pts))
    return (first.x == last.x) & (first.y == last.y)


def _segments(g: Column) -> Column:
    """Consecutive point pairs: array<struct<ax,ay,bx,by>>."""
    pts = g.pts
    n = F.size(pts)
    return F.zip_with(
        F.slice(pts, 1, n - 1),
        F.slice(pts, 2, n - 1),
        lambda a, b: F.struct(
            a.x.alias("ax"), a.y.alias("ay"), b.x.alias("bx"), b.y.alias("by")
        ),
    )


def st_length(g) -> Column:
    """LINESTRING length: index-ordered fold of segment lengths (bit-exact
    vs an explicit per-segment sum in the oracle — left fold from 0.0)."""
    segs = _segments(col_of(g))
    return F.aggregate(
        segs,
        F.lit(0.0),
        lambda acc, s: acc
        + F.sqrt((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay)),
    )


def _shoelace(g: Column) -> Column:
    """Signed double-area Σ(x_i·y_j − x_j·y_i) over the closed ring."""
    return F.aggregate(
        _segments(g),
        F.lit(0.0),
        lambda acc, s: acc + (s.ax * s.by - s.bx * s.ay),
    )


def st_area(g) -> Column:
    """POLYGON area via the shoelace formula (outer ring)."""
    return F.abs(_shoelace(col_of(g))) / 2.0


def st_centroid(g) -> Column:
    """POLYGON centroid (standard shoelace centroid) as WKT POINT."""
    g = col_of(g)
    cross = _shoelace(g)
    cx = F.aggregate(
        _segments(g), F.lit(0.0),
        lambda acc, s: acc + (s.ax + s.bx) * (s.ax * s.by - s.bx * s.ay),
    ) / (3.0 * cross)
    cy = F.aggregate(
        _segments(g), F.lit(0.0),
        lambda acc, s: acc + (s.ay + s.by) * (s.ax * s.by - s.bx * s.ay),
    ) / (3.0 * cross)
    return F.concat(F.lit("POINT("), cx.cast("string"), F.lit(" "), cy.cast("string"), F.lit(")"))


def st_envelope_bounds(g) -> Column:
    """Envelope as struct(xmin, ymin, xmax, ymax) — the oracle-friendly form."""
    pts = col_of(g).pts
    return F.struct(
        F.array_min(F.transform(pts, lambda p: p.x)).alias("xmin"),
        F.array_min(F.transform(pts, lambda p: p.y)).alias("ymin"),
        F.array_max(F.transform(pts, lambda p: p.x)).alias("xmax"),
        F.array_max(F.transform(pts, lambda p: p.y)).alias("ymax"),
    )


def st_makeenvelope(xmin, ymin, xmax, ymax) -> Column:
    """Axis-aligned rectangle POLYGON WKT (reference st_makeenvelope)."""
    x0, y0, x1, y1 = (col_of(xmin).cast("string"), col_of(ymin).cast("string"),
                      col_of(xmax).cast("string"), col_of(ymax).cast("string"))
    sp, cm = F.lit(" "), F.lit(", ")
    return F.concat(
        F.lit("POLYGON(("),
        x0, sp, y0, cm, x1, sp, y0, cm, x1, sp, y1, cm, x0, sp, y1, cm, x0, sp, y0,
        F.lit("))"),
    )


def st_contains_point(poly, px, py) -> Column:
    """Point-in-polygon via ray casting (crossing parity over ring edges).

    Boundary behavior follows the raw parity rule (points exactly on an edge
    are implementation-defined, as in MySQL's planar st_contains on the
    boundary) — callers gating results pick probe points off the boundary.
    """
    px, py = col_of(px), col_of(py)
    crossings = F.aggregate(
        _segments(col_of(poly)),
        F.lit(0),
        lambda acc, s: acc
        + F.when(
            ((s.ay > py) != (s.by > py))
            & (px < (s.bx - s.ax) * (py - s.ay) / (s.by - s.ay) + s.ax),
            1,
        ).otherwise(0),
    )
    return crossings % 2 == 1


def _cross(ox, oy, px, py, qx, qy):
    """2D cross product (p−o)×(q−o): sign = orientation of o→p→q."""
    return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)


def _seg_pair_intersects(s, t) -> Column:
    """Segment-segment intersection (proper crossing OR endpoint/collinear
    touch) via the standard orientation test — pure JVM expressions."""
    d1 = _cross(t.ax, t.ay, t.bx, t.by, s.ax, s.ay)
    d2 = _cross(t.ax, t.ay, t.bx, t.by, s.bx, s.by)
    d3 = _cross(s.ax, s.ay, s.bx, s.by, t.ax, t.ay)
    d4 = _cross(s.ax, s.ay, s.bx, s.by, t.bx, t.by)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )

    def onseg(d, px, py, seg):
        return (
            (d == 0)
            & (px >= F.least(seg.ax, seg.bx))
            & (px <= F.greatest(seg.ax, seg.bx))
            & (py >= F.least(seg.ay, seg.by))
            & (py <= F.greatest(seg.ay, seg.by))
        )

    return (
        proper
        | onseg(d1, s.ax, s.ay, t)
        | onseg(d2, s.bx, s.by, t)
        | onseg(d3, t.ax, t.ay, s)
        | onseg(d4, t.bx, t.by, s)
    )


def _edges_intersect(a: Column, b: Column) -> Column:
    """Any edge of a touches/crosses any edge of b — nested EXISTS over the
    segment arrays (O(n·m) per row, JVM-side; polygons are per-row small)."""
    segs_b = _segments(b)
    return F.exists(
        _segments(a), lambda s: F.exists(segs_b, lambda t: _seg_pair_intersects(s, t))
    )


def st_intersects(a, b) -> Column:
    """Real polygon-polygon intersects (beyond MBR): edges touch/cross, or
    one geometry lies entirely inside the other (checked via one vertex —
    valid because no edge crossing means all-in or all-out). Supports
    POLYGON×POLYGON and POINT×POLYGON (reference pkg/geo/ predicates;
    boundary-exact point cases follow ray-cast parity, see
    st_contains_point)."""
    a, b = col_of(a), col_of(b)
    pa, pb = F.element_at(a.pts, 1), F.element_at(b.pts, 1)
    point_cases = (
        F.when(
            (a.gtype == "POINT") & (b.gtype == "POINT"),
            (pa.x == pb.x) & (pa.y == pb.y),
        )
        .when(a.gtype == "POINT", st_contains_point(b, pa.x, pa.y))
        .when(b.gtype == "POINT", st_contains_point(a, pb.x, pb.y))
    )
    poly_case = (
        _edges_intersect(a, b)
        | st_contains_point(b, pa.x, pa.y)
        | st_contains_point(a, pb.x, pb.y)
    )
    return F.coalesce(point_cases, poly_case)


def st_contains(a, b) -> Column:
    """Polygon a strictly contains geometry b: every vertex of b interior to
    a (ray cast) and no edge contact. Boundary-touching is excluded (strict
    interior), the deterministic planar convention — probe geometries off
    the boundary for exact gating."""
    a, b = col_of(a), col_of(b)
    all_in = F.forall(b.pts, lambda p: st_contains_point(a, p.x, p.y))
    no_edge = F.when(b.gtype == "POINT", F.lit(True)).otherwise(~_edges_intersect(a, b))
    return all_in & no_edge


def st_within(a, b) -> Column:
    """a within b ⇔ contains(b, a)."""
    return st_contains(b, a)


def st_disjoint(a, b) -> Column:
    return ~st_intersects(a, b)


def st_distance_sphere(p1, p2) -> Column:
    """Great-circle meters between two WKT POINTs (x=lon, y=lat degrees).

    Haversine × EarthRadiusMeters — for two points this equals the
    reference's S2 chord-angle × R (geodetic.go:205-217). Out-of-range
    lon/lat → NULL (reference validates [-180,180]/[-90,90] and errors;
    NULL is the non-throwing batch analogue).
    """
    lon1, lat1 = F.radians(st_x(p1)), F.radians(st_y(p1))
    lon2, lat2 = F.radians(st_x(p2)), F.radians(st_y(p2))
    dlat, dlon = lat2 - lat1, lon2 - lon1
    h = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(lat1) * F.cos(lat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    dist = 2.0 * F.asin(F.sqrt(h)) * EARTH_RADIUS_M
    valid = (
        (F.abs(st_x(p1)) <= 180) & (F.abs(st_y(p1)) <= 90)
        & (F.abs(st_x(p2)) <= 180) & (F.abs(st_y(p2)) <= 90)
    )
    return F.when(valid, dist)


def st_swapxy(g) -> Column:
    """Swap x/y of every coordinate (reference st_swapxy)."""
    g = col_of(g)
    return F.struct(
        g.gtype.alias("gtype"),
        F.transform(g.pts, lambda p: F.struct(p.y.alias("x"), p.x.alias("y"))).alias("pts"),
    )


# --- MBR relation family (reference mbrcontains/within/intersects/disjoint/
# equals/touches/overlaps/covers/coveredby, function_id.go:1306-1325 mbr*) —
# all pure inequalities over envelope structs (st_envelope_bounds shape),
# the pruning predicates a spatial index pushes into the scan at scale. ---


def mbr_within(a, b) -> Column:
    """a's box fully inside b's box (closed boundaries, as MySQL MBR ops)."""
    a, b = col_of(a), col_of(b)
    return (
        (a.xmin >= b.xmin) & (a.xmax <= b.xmax) & (a.ymin >= b.ymin) & (a.ymax <= b.ymax)
    )


def mbr_contains_box(a, b) -> Column:
    return mbr_within(b, a)


def mbr_disjoint(a, b) -> Column:
    a, b = col_of(a), col_of(b)
    return (a.xmax < b.xmin) | (b.xmax < a.xmin) | (a.ymax < b.ymin) | (b.ymax < a.ymin)


def mbr_intersects(a, b) -> Column:
    return ~mbr_disjoint(a, b)


def mbr_equals(a, b) -> Column:
    a, b = col_of(a), col_of(b)
    return (
        (a.xmin == b.xmin) & (a.xmax == b.xmax) & (a.ymin == b.ymin) & (a.ymax == b.ymax)
    )


def mbr_touches(a, b) -> Column:
    """Boundaries meet but interiors don't: intersecting with zero-width
    overlap in at least one axis."""
    a, b = col_of(a), col_of(b)
    x_olap = F.least(a.xmax, b.xmax) - F.greatest(a.xmin, b.xmin)
    y_olap = F.least(a.ymax, b.ymax) - F.greatest(a.ymin, b.ymin)
    return mbr_intersects(a, b) & ((x_olap == 0) | (y_olap == 0))


def mbr_overlaps(a, b) -> Column:
    """Interiors strictly overlap but neither box contains the other."""
    a, b = col_of(a), col_of(b)
    x_olap = F.least(a.xmax, b.xmax) - F.greatest(a.xmin, b.xmin)
    y_olap = F.least(a.ymax, b.ymax) - F.greatest(a.ymin, b.ymin)
    return (x_olap > 0) & (y_olap > 0) & ~mbr_within(a, b) & ~mbr_within(b, a)


# --- Geohash family (function_id.go:1278-1281 st_geohash/st_latfromgeohash/
# st_longfromgeohash/st_pointfromgeohash). Arrow-batched UDFs: the encode is
# a 5·precision-step bisection loop — as a Column expression the interval
# updates nest one level per bit (codegen explosion), so the batched Python
# loop is the right trade for a non-hot-path function. ---

_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_encode(lon: float, lat: float, precision: int) -> "str | None":
    if lon is None or lat is None or not (-180 <= lon <= 180 and -90 <= lat <= 90):
        return None
    lo_lon, hi_lon, lo_lat, hi_lat = -180.0, 180.0, -90.0, 90.0
    bits, even, out = 0, True, []
    n = 0
    while len(out) < precision:
        if even:
            mid = (lo_lon + hi_lon) / 2
            if lon >= mid:
                bits = (bits << 1) | 1
                lo_lon = mid
            else:
                bits <<= 1
                hi_lon = mid
        else:
            mid = (lo_lat + hi_lat) / 2
            if lat >= mid:
                bits = (bits << 1) | 1
                lo_lat = mid
            else:
                bits <<= 1
                hi_lat = mid
        even = not even
        n += 1
        if n == 5:
            out.append(_GH32[bits])
            bits, n = 0, 0
    return "".join(out)


def _geohash_decode(gh: str) -> "tuple[float, float] | None":
    if not gh:
        return None
    lo_lon, hi_lon, lo_lat, hi_lat = -180.0, 180.0, -90.0, 90.0
    even = True
    for ch in gh.lower():
        idx = _GH32.find(ch)
        if idx < 0:
            return None
        for b in (16, 8, 4, 2, 1):
            if even:
                mid = (lo_lon + hi_lon) / 2
                if idx & b:
                    lo_lon = mid
                else:
                    hi_lon = mid
            else:
                mid = (lo_lat + hi_lat) / 2
                if idx & b:
                    lo_lat = mid
                else:
                    hi_lat = mid
            even = not even
    return ((lo_lon + hi_lon) / 2, (lo_lat + hi_lat) / 2)


def _k_geohash_lon(gh):
    return (_geohash_decode(str(gh)) or (None, None))[0]


def _k_geohash_lat(gh):
    return (_geohash_decode(str(gh)) or (None, None))[1]


_geohash_lon_udf = arrow_udf(_strict(_k_geohash_lon), DoubleType())
_geohash_lat_udf = arrow_udf(_strict(_k_geohash_lat), DoubleType())


def st_geohash(lon, lat, precision: int = 9) -> Column:
    """Geohash of lon/lat (cell-prefix property: shared prefixes = nearby
    cells — the bucketing key for geo joins at scale)."""

    def _k_geohash(lo, la):
        return _geohash_encode(lo, la, precision)

    return arrow_udf(_k_geohash, StringType())(col_of(lon), col_of(lat))


def st_longfromgeohash(gh) -> Column:
    return _geohash_lon_udf(col_of(gh))


def st_latfromgeohash(gh) -> Column:
    return _geohash_lat_udf(col_of(gh))


def st_pointfromgeohash(gh) -> Column:
    """Cell-center WKT POINT from a geohash."""
    return F.concat(
        F.lit("POINT("),
        st_longfromgeohash(gh).cast("string"),
        F.lit(" "),
        st_latfromgeohash(gh).cast("string"),
        F.lit(")"),
    )


def mbr_covers(a, b) -> Column:
    """MBRCovers(a, b): no point of b outside a. For closed rectangles this
    coincides with MBRContains (func_mbr.go MySQL MBR family — boundary
    points count as covered)."""
    return mbr_contains_box(a, b)


def mbr_coveredby(a, b) -> Column:
    """MBRCoveredBy(a, b) ≡ MBRCovers(b, a)."""
    return mbr_within(a, b)


def mbr_overlaps(a, b) -> Column:
    """MBROverlaps: boxes intersect with positive area but neither contains
    the other (MySQL MBROverlaps: same dimension, partial overlap)."""
    a, b = col_of(a), col_of(b)
    x_olap = F.least(a.xmax, b.xmax) - F.greatest(a.xmin, b.xmin)
    y_olap = F.least(a.ymax, b.ymax) - F.greatest(a.ymin, b.ymin)
    return (
        (x_olap > 0) & (y_olap > 0) & ~mbr_within(a, b) & ~mbr_contains_box(a, b)
    )


# ---------------------------------------------------------------------------
# WKB codec + WKT constructor/accessor long tail (function_id.go st_* family).
# WKB layout (OGC): byte order (01=LE), geometry type uint32, then f64
# coordinates; polygons carry ring count + per-ring point counts. Codec runs
# as Arrow-batched row kernels over the WKT rendering (multimodal-operator
# precedent) since binary packing has no Column-expression form; everything
# else below stays pure expressions.
# ---------------------------------------------------------------------------

_WKB_TYPES = {"POINT": 1, "LINESTRING": 2, "POLYGON": 3}
_WKB_NAMES = {v: k for k, v in _WKB_TYPES.items()}


def _wkt_to_wkb_py(wkt: "str | None") -> "bytes | None":
    import re as _re
    import struct as _struct

    if wkt is None:
        return None
    m = _re.match(r"\s*([A-Za-z]+)\s*\((.*)\)\s*$", wkt, _re.DOTALL)
    if not m or m.group(1).upper() not in _WKB_TYPES:
        return None
    gtype = m.group(1).upper()
    body = m.group(2)

    def pts(text):
        out = []
        for pair in text.split(","):
            x, y = pair.split()
            out.append((float(x), float(y)))
        return out

    head = _struct.pack("<BI", 1, _WKB_TYPES[gtype])
    if gtype == "POINT":
        (xy,) = pts(body)
        return head + _struct.pack("<dd", *xy)
    if gtype == "LINESTRING":
        ps = pts(body)
        return head + _struct.pack("<I", len(ps)) + b"".join(
            _struct.pack("<dd", *p) for p in ps
        )
    ring = pts(body.strip().strip("()"))
    return (
        head
        + _struct.pack("<II", 1, len(ring))
        + b"".join(_struct.pack("<dd", *p) for p in ring)
    )


def _wkb_to_wkt_py(raw: "bytes | None") -> "str | None":
    import struct as _struct

    if raw is None or len(raw) < 5:
        return None
    try:
        order = "<" if raw[0] == 1 else ">"
        (gt,) = _struct.unpack_from(order + "I", raw, 1)
        name = _WKB_NAMES.get(gt)
        if name is None:
            return None

        def fmt(x: float) -> str:
            return repr(x)

        if name == "POINT":
            x, y = _struct.unpack_from(order + "dd", raw, 5)
            return f"POINT({fmt(x)} {fmt(y)})"
        if name == "LINESTRING":
            (n,) = _struct.unpack_from(order + "I", raw, 5)
            coords = _struct.unpack_from(order + "d" * (2 * n), raw, 9)
            body = ", ".join(f"{fmt(coords[2*i])} {fmt(coords[2*i+1])}" for i in range(n))
            return f"LINESTRING({body})"
        (nrings,) = _struct.unpack_from(order + "I", raw, 5)
        if nrings < 1:
            return None
        (n,) = _struct.unpack_from(order + "I", raw, 9)  # exterior ring only
        coords = _struct.unpack_from(order + "d" * (2 * n), raw, 13)
        body = ", ".join(f"{fmt(coords[2*i])} {fmt(coords[2*i+1])}" for i in range(n))
        return f"POLYGON(({body}))"
    except Exception:
        return None


_wkt_to_wkb_udf = arrow_udf(_wkt_to_wkb_py, BinaryType())
_wkb_to_wkt_udf = arrow_udf(_wkb_to_wkt_py, StringType())


def st_aswkb(g) -> Column:
    """ST_AsWKB/ST_AsBinary: geometry struct → OGC WKB (little-endian)."""
    return _wkt_to_wkb_udf(st_astext(g))


def st_geomfromwkb(b) -> Column:
    """ST_GeomFromWKB/ST_GeomFromBinary: WKB → geometry struct (NULL on
    malformed/unsupported input, the reference's per-row error analogue)."""
    return st_geomfromtext(_wkb_to_wkt_udf(col_of(b)))


def _typed(g: Column, expect: str) -> Column:
    return F.when(g.gtype == expect, g)


def st_pointfromwkb(b) -> Column:
    return _typed(st_geomfromwkb(b), "POINT")


def st_linestringfromwkb(b) -> Column:
    return _typed(st_geomfromwkb(b), "LINESTRING")


def st_polygonfromwkb(b) -> Column:
    return _typed(st_geomfromwkb(b), "POLYGON")


def st_geometryfromtext(wkt) -> Column:
    """MySQL alias family: typed FromText constructors return NULL (not an
    error) on type mismatch."""
    return st_geomfromtext(wkt)


def st_pointfromtext(wkt) -> Column:
    return _typed(st_geomfromtext(wkt), "POINT")


def st_linestringfromtext(wkt) -> Column:
    return _typed(st_geomfromtext(wkt), "LINESTRING")


def st_polygonfromtext(wkt) -> Column:
    return _typed(st_geomfromtext(wkt), "POLYGON")


def st_longitude(g) -> Column:
    """Longitude (x) of a POINT geometry (func_s2h3.go point accessors)."""
    g = col_of(g)
    return F.when(g.gtype == "POINT", F.element_at(g.pts, 1).x)


def st_latitude(g) -> Column:
    g = col_of(g)
    return F.when(g.gtype == "POINT", F.element_at(g.pts, 1).y)


def st_isempty(g) -> Column:
    g = col_of(g)
    return F.when(g.gtype.isNotNull(), F.size(g.pts) == 0)


def st_dimension(g) -> Column:
    g = col_of(g)
    return (
        F.when(g.gtype == "POINT", F.lit(0))
        .when(g.gtype == "LINESTRING", F.lit(1))
        .when(g.gtype == "POLYGON", F.lit(2))
    )


def st_numgeometries(g) -> Column:
    """Non-collection geometries count 1 (collections out of repr scope)."""
    g = col_of(g)
    return F.when(g.gtype.isNotNull(), F.lit(1))


def st_numinteriorrings(g) -> Column:
    """Outer-ring-only representation ⇒ polygons report 0 interior rings."""
    g = col_of(g)
    return F.when(g.gtype == "POLYGON", F.lit(0))


def st_srid(g) -> Column:
    """MySQL default SRID 0 (the repr carries no CRS; reference stores 4326
    only via typed columns)."""
    g = col_of(g)
    return F.when(g.gtype.isNotNull(), F.lit(0))


def st_equals(a, b) -> Column:
    """Point-set equality within this repr: same type and same vertex walk
    (forward, reversed, or — for closed rings — rotated)."""
    a, b = col_of(a), col_of(b)
    fwd = a.pts == b.pts
    rev = a.pts == F.reverse(b.pts)
    # closed-ring rotation: same cycle ⇒ same vertex multiset once the
    # duplicated closing vertex is dropped
    def open_ring(g):
        return F.slice(g.pts, 1, F.greatest(F.size(g.pts) - 1, F.lit(0)))

    ring = (a.gtype == "POLYGON") & (
        F.array_sort(open_ring(a)) == F.array_sort(open_ring(b))
    )
    return F.when(
        a.gtype.isNotNull() & b.gtype.isNotNull(),
        (a.gtype == b.gtype) & (fwd | rev | ring),
    )
