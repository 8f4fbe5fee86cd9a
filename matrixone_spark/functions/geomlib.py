"""Clean-room planar geometry kernel (pure Python, no geometry library).

Implements the reference's `st_*` long tail over all seven WKT kinds —
parsing/rendering (WKT, WKB, GeoJSON), accessors, measures, validity,
constructive ops (hull/simplify/collect/buffer), linear referencing,
discrete curve distances, boolean overlay, and DE-9IM-style relation
predicates. The reference backs these with GEOS (`pkg/geo/`,
`pkg/sql/plan/function/func_geo*.go`); golden semantics come from its BVT
suite `test/distributed/cases/geo/*.sql|.result`, which gates this module
(tests/test_geomlib.py runs every golden).

Algorithms are the published standards, implemented from their
descriptions: Andrew monotone-chain convex hull, Douglas–Peucker
simplification, even-odd ray-cast point location, boundary-classification
boolean overlay (split all edges at pairwise intersections, keep the
sub-edges whose two sides disagree on result membership, re-assemble rings
by leftmost-turn walking), Eiter–Mannila discrete Fréchet distance, and
vertex-to-segment directed Hausdorff distance.

Geometry value = (gtype, data):
  "POINT"              -> (x, y) | None for EMPTY
  "LINESTRING"         -> [pt, ...]
  "POLYGON"            -> [ring, ...]            ring = closed [pt, ...]
  "MULTIPOINT"         -> [pt, ...]
  "MULTILINESTRING"    -> [[pt, ...], ...]
  "MULTIPOLYGON"       -> [[ring, ...], ...]
  "GEOMETRYCOLLECTION" -> [geom, ...]

Functions raise ValueError on semantic misuse (messages mirror the
reference's `invalid input:` text); the Spark callers (the st_* rows of
functions/geo_sql and the geofull batteries' geo_eval) map errors to NULL,
the engine's non-throwing batch analogue.
"""

from __future__ import annotations

import json
import math
import re
import struct

_EPS = 1e-9          # snap grid for overlay vertices
_SIDE_EPS = 1e-7     # offset for side-of-edge membership sampling
_AREA_TOL = 1e-12    # "empty" area tolerance in overlay-derived predicates

_TYPES = (
    "POINT", "LINESTRING", "POLYGON", "MULTIPOINT", "MULTILINESTRING",
    "MULTIPOLYGON", "GEOMETRYCOLLECTION",
)
_WKB_CODE = {t: i + 1 for i, t in enumerate(_TYPES)}
_WKB_NAME = {v: k for k, v in _WKB_CODE.items()}


# ---------------------------------------------------------------------------
# WKT parse / render
# ---------------------------------------------------------------------------

def split_srid(text: str) -> "tuple[int | None, str]":
    """Strip an EWKT 'SRID=n;' prefix; returns (srid | None, bare wkt)."""
    m = re.match(r"(?i)^\s*SRID=(\d+)\s*;", text)
    if m:
        return int(m.group(1)), text[m.end():]
    return None, text


def _num(tok: str) -> float:
    try:
        v = float(tok)
    except ValueError:
        raise ValueError("invalid geometry payload")
    if math.isnan(v) or math.isinf(v):
        raise ValueError("invalid geometry payload")
    return v


class _Scanner:
    def __init__(self, s: str):
        self.s = s
        self.i = 0

    def skip_ws(self):
        while self.i < len(self.s) and self.s[self.i].isspace():
            self.i += 1

    def peek(self) -> str:
        self.skip_ws()
        return self.s[self.i] if self.i < len(self.s) else ""

    def expect(self, ch: str):
        if self.peek() != ch:
            raise ValueError("invalid geometry payload")
        self.i += 1

    def word(self) -> str:
        self.skip_ws()
        m = re.match(r"[A-Za-z]+", self.s[self.i:])
        if not m:
            raise ValueError("invalid geometry payload")
        self.i += m.end()
        return m.group(0).upper()

    def number(self) -> float:
        self.skip_ws()
        m = re.match(r"[-+0-9.eEnNaAiIfF]+", self.s[self.i:])
        if not m:
            raise ValueError("invalid geometry payload")
        self.i += m.end()
        return _num(m.group(0))


def _parse_point_body(sc: _Scanner):
    x = sc.number()
    y = sc.number()
    return (x, y)


def _parse_ptseq(sc: _Scanner):
    """Parenthesized comma-separated coordinate list: (x y, x y, ...)."""
    sc.expect("(")
    pts = []
    while True:
        # MULTIPOINT allows nested parens per point: ((1 1),(2 2)) — and
        # EMPTY members (our render of st_collect with an empty point)
        if sc.peek() == "(":
            sc.expect("(")
            pts.append(_parse_point_body(sc))
            sc.expect(")")
        elif sc.peek().upper() == "E":
            if sc.word() != "EMPTY":
                raise ValueError("invalid geometry payload")
            pts.append(None)
        else:
            pts.append(_parse_point_body(sc))
        if sc.peek() == ",":
            sc.i += 1
            continue
        sc.expect(")")
        return pts


def _parse_ringseq(sc: _Scanner):
    sc.expect("(")
    rings = []
    while True:
        rings.append(_parse_ptseq(sc))
        if sc.peek() == ",":
            sc.i += 1
            continue
        sc.expect(")")
        return rings


def _parse_geom(sc: _Scanner):
    t = sc.word()
    if t not in _TYPES:
        raise ValueError("invalid geometry type")
    sc.skip_ws()
    if sc.s[sc.i:sc.i + 5].upper() == "EMPTY":
        sc.i += 5
        return (t, None if t == "POINT" else [])
    if t == "POINT":
        sc.expect("(")
        p = _parse_point_body(sc)
        sc.expect(")")
        return (t, p)
    if t in ("LINESTRING", "MULTIPOINT"):
        return (t, _parse_ptseq(sc))
    if t in ("POLYGON", "MULTILINESTRING"):
        return (t, _parse_ringseq(sc))
    if t == "MULTIPOLYGON":
        sc.expect("(")
        polys = []
        while True:
            polys.append(_parse_ringseq(sc))
            if sc.peek() == ",":
                sc.i += 1
                continue
            sc.expect(")")
            return (t, polys)
    # GEOMETRYCOLLECTION
    sc.expect("(")
    geoms = []
    while True:
        geoms.append(_parse_geom(sc))
        if sc.peek() == ",":
            sc.i += 1
            continue
        sc.expect(")")
        return (t, geoms)


def parse_wkt(text: str):
    """Parse bare WKT (no SRID prefix) into a geometry value."""
    if text is None:
        return None
    sc = _Scanner(text)
    g = _parse_geom(sc)
    sc.skip_ws()
    if sc.i != len(sc.s):
        raise ValueError("invalid geometry payload")
    _check_structure(g)
    return g


def _check_structure(g):
    t, d = g
    if t == "LINESTRING" and d is not None and len(d) == 1:
        raise ValueError("invalid geometry payload")
    if t == "POLYGON" and d:
        for ring in d:
            if len(ring) < 4 or ring[0] != ring[-1]:
                raise ValueError("invalid geometry payload")
    if t == "MULTILINESTRING" and d:
        for ln in d:
            if len(ln) < 2:
                raise ValueError("invalid geometry payload")
    if t == "MULTIPOLYGON" and d:
        for poly in d:
            _check_structure(("POLYGON", poly))
    if t == "GEOMETRYCOLLECTION" and d:
        for sub in d:
            _check_structure(sub)


def fmt_num(x: float) -> str:
    """Canonical WKT number: integral values render without a decimal part."""
    if x == int(x) and abs(x) < 1e16:
        return str(int(x))
    return repr(x)


def _pts_text(pts) -> str:
    # a None member is an EMPTY point inside a MULTIPOINT
    # (st_collect(POINT EMPTY, …), geo_review_fixes.sql)
    return ",".join(
        "EMPTY" if p is None else f"{fmt_num(p[0])} {fmt_num(p[1])}"
        for p in pts
    )


def render_wkt(g) -> str:
    t, d = g
    if d is None or d == []:
        return f"{t} EMPTY"
    if t == "POINT":
        return f"POINT({fmt_num(d[0])} {fmt_num(d[1])})"
    if t in ("LINESTRING", "MULTIPOINT"):
        return f"{t}({_pts_text(d)})"
    if t in ("POLYGON", "MULTILINESTRING"):
        return f"{t}(" + ",".join(f"({_pts_text(r)})" for r in d) + ")"
    if t == "MULTIPOLYGON":
        return "MULTIPOLYGON(" + ",".join(
            "(" + ",".join(f"({_pts_text(r)})" for r in poly) + ")" for poly in d
        ) + ")"
    return "GEOMETRYCOLLECTION(" + ",".join(render_wkt(s) for s in d) + ")"


# ---------------------------------------------------------------------------
# WKB codec (OGC, little-endian; nested headers for multi/collection parts)
# ---------------------------------------------------------------------------

def to_wkb(g, f32: bool = False) -> bytes:
    """OGC WKB; ``f32=True`` packs float32 coordinates — the reference's
    GEOMETRY32 storage (pkg/container/types geometry32), whose raw point
    is 13 bytes (1 endian + 4 type + 2×4 coords) vs standard 21."""
    t, d = g
    pt = "<ff" if f32 else "<dd"
    out = [struct.pack("<BI", 1, _WKB_CODE[t])]
    if t == "POINT":
        x, y = d if d is not None else (math.nan, math.nan)
        out.append(struct.pack(pt, x, y))
    elif t in ("LINESTRING", "MULTIPOINT"):
        pts = d or []
        out.append(struct.pack("<I", len(pts)))
        if t == "MULTIPOINT":
            out.extend(to_wkb(("POINT", p), f32) for p in pts)
        else:
            out.extend(struct.pack(pt, *p) for p in pts)
    elif t == "POLYGON":
        rings = d or []
        out.append(struct.pack("<I", len(rings)))
        for r in rings:
            out.append(struct.pack("<I", len(r)))
            out.extend(struct.pack(pt, *p) for p in r)
    elif t == "MULTILINESTRING":
        parts = d or []
        out.append(struct.pack("<I", len(parts)))
        out.extend(to_wkb(("LINESTRING", ln), f32) for ln in parts)
    elif t == "MULTIPOLYGON":
        parts = d or []
        out.append(struct.pack("<I", len(parts)))
        out.extend(to_wkb(("POLYGON", poly), f32) for poly in parts)
    else:
        parts = d or []
        out.append(struct.pack("<I", len(parts)))
        out.extend(to_wkb(s, f32) for s in parts)
    return b"".join(out)


def from_wkb(raw: bytes):
    g, off = _from_wkb_at(raw, 0)
    if off != len(raw):
        raise ValueError("invalid geometry payload")
    return g


def _from_wkb_at(raw: bytes, off: int):
    if len(raw) < off + 5:
        raise ValueError("invalid geometry payload")
    order = "<" if raw[off] == 1 else ">"
    (code,) = struct.unpack_from(order + "I", raw, off + 1)
    t = _WKB_NAME.get(code)
    if t is None:
        raise ValueError("invalid geometry payload")
    off += 5
    if t == "POINT":
        x, y = struct.unpack_from(order + "dd", raw, off)
        off += 16
        if math.isnan(x):
            return ("POINT", None), off
        return ("POINT", (x, y)), off
    (n,) = struct.unpack_from(order + "I", raw, off)
    off += 4
    if t == "LINESTRING":
        pts = list(struct.iter_unpack(order + "dd", raw[off:off + 16 * n]))
        off += 16 * n
        return (t, [tuple(p) for p in pts]), off
    if t == "POLYGON":
        rings = []
        for _ in range(n):
            (m,) = struct.unpack_from(order + "I", raw, off)
            off += 4
            ring = [tuple(p) for p in struct.iter_unpack(order + "dd", raw[off:off + 16 * m])]
            off += 16 * m
            rings.append(ring)
        return (t, rings), off
    parts = []
    for _ in range(n):
        sub, off = _from_wkb_at(raw, off)
        parts.append(sub)
    if t == "MULTIPOINT":
        return (t, [s[1] for s in parts]), off
    if t == "MULTILINESTRING":
        return (t, [s[1] for s in parts]), off
    if t == "MULTIPOLYGON":
        return (t, [s[1] for s in parts]), off
    return (t, parts), off


# ---------------------------------------------------------------------------
# GeoJSON codec
# ---------------------------------------------------------------------------

def _gj_num(x: float, maxdec: "int | None"):
    if maxdec is not None:
        x = round(x, maxdec)
    return int(x) if x == int(x) and abs(x) < 1e16 else x


def _gj_coords(g, maxdec):
    t, d = g
    n = lambda x: _gj_num(x, maxdec)
    if t == "POINT":
        return [n(d[0]), n(d[1])] if d else []
    if t in ("LINESTRING", "MULTIPOINT"):
        # an EMPTY member point renders [] (geo_review_fixes.result:
        # st_collect(POINT EMPTY, POINT(1 1)) → [[],[1,1]])
        return [[] if p is None else [n(p[0]), n(p[1])] for p in (d or [])]
    if t in ("POLYGON", "MULTILINESTRING"):
        return [[[n(x), n(y)] for x, y in part] for part in (d or [])]
    return [[[[n(x), n(y)] for x, y in r] for r in poly] for poly in (d or [])]


_GJ_NAME = {
    "POINT": "Point", "LINESTRING": "LineString", "POLYGON": "Polygon",
    "MULTIPOINT": "MultiPoint", "MULTILINESTRING": "MultiLineString",
    "MULTIPOLYGON": "MultiPolygon", "GEOMETRYCOLLECTION": "GeometryCollection",
}
_GJ_BACK = {v: k for k, v in _GJ_NAME.items()}


def to_geojson(g, maxdec: "int | None" = None) -> str:
    t, d = g
    if t == "GEOMETRYCOLLECTION":
        obj = {
            "type": "GeometryCollection",
            "geometries": [json.loads(to_geojson(s, maxdec)) for s in (d or [])],
        }
    else:
        obj = {"type": _GJ_NAME[t], "coordinates": _gj_coords(g, maxdec)}
    return json.dumps(obj, separators=(",", ":"))


def from_geojson(text: str):
    try:
        obj = json.loads(text)
    except Exception:
        raise ValueError("invalid GeoJSON: unexpected end of JSON input")
    if not isinstance(obj, dict) or "type" not in obj:
        raise ValueError("invalid GeoJSON: missing type")
    t = _GJ_BACK.get(obj["type"])
    if t is None:
        raise ValueError("invalid GeoJSON: unknown type")
    if t == "GEOMETRYCOLLECTION":
        subs = obj.get("geometries")
        if subs is None:
            raise ValueError(
                "invalid GeoJSON GeometryCollection: unexpected end of JSON input")
        return (t, [from_geojson(json.dumps(s)) for s in subs])
    coords = obj.get("coordinates")
    if coords is None:
        raise ValueError(
            f"invalid GeoJSON {obj['type']}: unexpected end of JSON input")
    try:
        if t == "POINT":
            return (t, (float(coords[0]), float(coords[1])) if coords else None)
        if t in ("LINESTRING", "MULTIPOINT"):
            return (t, [(float(x), float(y)) for x, y in coords])
        if t in ("POLYGON", "MULTILINESTRING"):
            return (t, [[(float(x), float(y)) for x, y in part] for part in coords])
        return (t, [[[(float(x), float(y)) for x, y in r] for r in poly]
                    for poly in coords])
    except (TypeError, ValueError, IndexError):
        raise ValueError(f"invalid GeoJSON {obj['type']}: bad coordinates")


# ---------------------------------------------------------------------------
# Decomposition helpers
# ---------------------------------------------------------------------------

def is_empty(g) -> bool:
    t, d = g
    return d is None or d == []


def components(g):
    """Top-level parts of a multi/collection; a simple geometry is itself."""
    t, d = g
    if t == "MULTIPOINT":
        return [("POINT", p) for p in (d or [])]
    if t == "MULTILINESTRING":
        return [("LINESTRING", ln) for ln in (d or [])]
    if t == "MULTIPOLYGON":
        return [("POLYGON", poly) for poly in (d or [])]
    if t == "GEOMETRYCOLLECTION":
        return list(d or [])
    return [g]


def _flatten(g):
    """Recursively expand to simple geometries (POINT/LINESTRING/POLYGON)."""
    out = []
    for c in components(g):
        if c[0] == "GEOMETRYCOLLECTION":
            out.extend(_flatten(c))
        else:
            out.append(c)
    return out


def _points_of(g):
    """All vertices."""
    pts = []
    for t, d in _flatten(g):
        if d is None:
            continue
        if t == "POINT":
            pts.append(d)
        elif t == "LINESTRING":
            pts.extend(d)
        else:
            for r in d:
                pts.extend(r)
    return pts


def _segments_of(g):
    """All linework segments ((p, q) tuples) of lines and polygon rings."""
    segs = []
    for t, d in _flatten(g):
        if d is None:
            continue
        if t == "LINESTRING":
            segs.extend(zip(d, d[1:]))
        elif t == "POLYGON":
            for r in d:
                segs.extend(zip(r, r[1:]))
    return segs


def _polys_of(g):
    """Areal components as lists of rings; raises if any part is non-areal."""
    polys = []
    for t, d in _flatten(g):
        if t != "POLYGON":
            raise ValueError(
                f"overlay requires POLYGON or MULTIPOLYGON input, got {t}")
        if d:
            polys.append(d)
    return polys


def dimension(g) -> int:
    t, d = g
    if t == "POINT" or t == "MULTIPOINT":
        return 0
    if t in ("LINESTRING", "MULTILINESTRING"):
        return 1
    if t in ("POLYGON", "MULTIPOLYGON"):
        return 2
    dims = [dimension(s) for s in (d or [])]
    # the reference reports -1 for EMPTY geometries (st_dimension of
    # 'GEOMETRYCOLLECTION()' / 'MULTIPOINT()' — func_geometry.test)
    return max(dims) if dims else -1


# ---------------------------------------------------------------------------
# Scalar geometry math
# ---------------------------------------------------------------------------

def _ring_signed_area2(ring) -> float:
    s = 0.0
    for (ax, ay), (bx, by) in zip(ring, ring[1:]):
        s += ax * by - bx * ay
    return s


def area(g) -> float:
    t, _ = g
    if t not in ("POLYGON", "MULTIPOLYGON"):
        raise ValueError("geometry is not a POLYGON or MULTIPOLYGON")
    total = 0.0
    for _, rings in _flatten(g):
        if not rings:
            continue
        total += abs(_ring_signed_area2(rings[0])) / 2.0
        for hole in rings[1:]:
            total -= abs(_ring_signed_area2(hole)) / 2.0
    return total


def length(g) -> float:
    t, _ = g
    if t not in ("LINESTRING", "MULTILINESTRING"):
        raise ValueError("geometry is not a LINESTRING or MULTILINESTRING")
    return sum(math.dist(p, q) for p, q in _segments_of(g))


def centroid(g):
    t, d = g
    if t == "POINT":
        return g
    if t == "LINESTRING":
        tot = wx = wy = 0.0
        for p, q in zip(d, d[1:]):
            w = math.dist(p, q)
            tot += w
            wx += w * (p[0] + q[0]) / 2.0
            wy += w * (p[1] + q[1]) / 2.0
        if tot == 0:
            return ("POINT", d[0])
        return ("POINT", (wx / tot, wy / tot))
    if t == "POLYGON":
        a2 = cx = cy = 0.0
        shell_sign = 1.0 if _ring_signed_area2(d[0]) >= 0 else -1.0
        for i, ring in enumerate(d):
            s = _ring_signed_area2(ring)
            # orient shell positive, holes negative
            sign = shell_sign if i == 0 else -shell_sign
            s = abs(s) * sign
            rcx = rcy = 0.0
            for (ax, ay), (bx, by) in zip(ring, ring[1:]):
                cr = ax * by - bx * ay
                rcx += (ax + bx) * cr
                rcy += (ay + by) * cr
            flip = 1.0 if _ring_signed_area2(ring) * s >= 0 else -1.0
            a2 += s
            cx += flip * rcx
            cy += flip * rcy
        if a2 == 0:
            return ("POINT", d[0][0])
        return ("POINT", (cx / (3.0 * a2), cy / (3.0 * a2)))
    raise ValueError("geometry type is not supported by ST_Centroid")


def envelope(g):
    pts = _points_of(g)
    if not pts:
        raise ValueError("invalid point payload")
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
    return ("POLYGON", [[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]])


def boundary(g):
    t, d = g
    if t == "POINT" or t == "MULTIPOINT":
        return ("GEOMETRYCOLLECTION", [])
    if t == "LINESTRING":
        if not d or d[0] == d[-1]:
            return ("MULTIPOINT", [])
        return ("MULTIPOINT", [d[0], d[-1]])
    if t == "POLYGON":
        return ("MULTILINESTRING", [list(r) for r in (d or [])])
    if t == "MULTILINESTRING":
        pts = []
        for ln in (d or []):
            if ln and ln[0] != ln[-1]:
                pts.extend([ln[0], ln[-1]])
        return ("MULTIPOINT", pts)
    if t == "MULTIPOLYGON":
        return ("MULTILINESTRING", [list(r) for poly in (d or []) for r in poly])
    raise ValueError("geometry type is not supported by ST_Boundary")


def point_on_surface(g):
    t, d = g
    if t == "POINT":
        return g
    if t in ("LINESTRING", "MULTIPOINT"):
        return ("POINT", d[len(d) // 2])
    if t not in ("POLYGON", "MULTIPOLYGON"):
        raise ValueError("geometry is not a POLYGON or MULTIPOLYGON")
    rings_list = [d] if t == "POLYGON" else d
    rings = rings_list[0]
    c = centroid(("POLYGON", rings))[1]
    if _pt_loc(rings, c[0], c[1]) == 1:
        return ("POINT", c)
    # scanline fallback: try horizontal lines between distinct vertex ys
    ys = sorted({p[1] for r in rings for p in r})
    for y0, y1 in zip(ys, ys[1:]):
        y = (y0 + y1) / 2.0
        xs = []
        for (ax, ay), (bx, by) in [s for r in rings for s in zip(r, r[1:])]:
            if (ay > y) != (by > y):
                xs.append(ax + (y - ay) * (bx - ax) / (by - ay))
        xs.sort()
        best = None
        for xa, xb in zip(xs[0::2], xs[1::2]):
            if best is None or xb - xa > best[1] - best[0]:
                best = (xa, xb)
        if best and best[1] - best[0] > _EPS:
            return ("POINT", ((best[0] + best[1]) / 2.0, y))
    raise ValueError("invalid point payload")


# ---------------------------------------------------------------------------
# Point location / segment intersection primitives
# ---------------------------------------------------------------------------

def _on_segment(px, py, a, b, eps=_EPS) -> bool:
    ax, ay = a
    bx, by = b
    cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    seg_len = math.hypot(bx - ax, by - ay)
    if seg_len == 0:
        return math.hypot(px - ax, py - ay) <= eps
    if abs(cross) / seg_len > eps:
        return False
    dot = (px - ax) * (bx - ax) + (py - ay) * (by - ay)
    return -eps * seg_len <= dot <= seg_len * seg_len + eps * seg_len


def _pt_loc(rings, x, y) -> int:
    """0 = outside, 1 = inside (even-odd over all rings), 2 = on boundary."""
    inside = False
    for r in rings:
        for a, b in zip(r, r[1:]):
            if _on_segment(x, y, a, b):
                return 2
            (ax, ay), (bx, by) = a, b
            if (ay > y) != (by > y):
                xi = ax + (y - ay) * (bx - ax) / (by - ay)
                if x < xi:
                    inside = not inside
    return 1 if inside else 0


def _seg_intersections(p, q, a, b):
    """Intersection parameters t on segment p->q where it meets segment a->b.

    Returns a list of t values in (0, 1) exclusive of exact endpoints; for
    collinear overlap, both overlap endpoints' parameters are returned.
    """
    px, py = p
    qx, qy = q
    ax, ay = a
    bx, by = b
    rx, ry = qx - px, qy - py
    sx, sy = bx - ax, by - ay
    denom = rx * sy - ry * sx
    wx, wy = ax - px, ay - py
    if abs(denom) > 1e-15:
        t = (wx * sy - wy * sx) / denom
        u = (wx * ry - wy * rx) / denom
        if -1e-12 <= t <= 1 + 1e-12 and -1e-12 <= u <= 1 + 1e-12:
            return [t]
        return []
    # parallel: collinear?
    if abs(wx * ry - wy * rx) > _EPS * max(1.0, math.hypot(rx, ry)):
        return []
    rr = rx * rx + ry * ry
    if rr == 0:
        return []
    t0 = ((ax - px) * rx + (ay - py) * ry) / rr
    t1 = ((bx - px) * rx + (by - py) * ry) / rr
    lo, hi = min(t0, t1), max(t0, t1)
    # clamp the collinear overlap to this segment's parameter range
    lo, hi = max(lo, 0.0), min(hi, 1.0)
    if hi < lo - 1e-12:
        return []
    if hi - lo <= 1e-12:
        return [lo]
    return [lo, hi]


def _split_by(segs, cutters):
    """Split each segment of `segs` at every intersection with `cutters`."""
    out = []
    for p, q in segs:
        ts = {0.0, 1.0}
        for a, b in cutters:
            for t in _seg_intersections(p, q, a, b):
                ts.add(min(1.0, max(0.0, t)))
        ts = sorted(ts)
        px, py = p
        qx, qy = q
        for t0, t1 in zip(ts, ts[1:]):
            if t1 - t0 < 1e-12:
                continue
            s = (px + (qx - px) * t0, py + (qy - py) * t0)
            e = (px + (qx - px) * t1, py + (qy - py) * t1)
            out.append((s, e))
    return out


def _snap(p):
    return (round(p[0], 9), round(p[1], 9))


# ---------------------------------------------------------------------------
# Boolean overlay (union / intersection / difference / symdifference)
# ---------------------------------------------------------------------------

_OPS = {
    "union": lambda a, b: a or b,
    "intersection": lambda a, b: a and b,
    "difference": lambda a, b: a and not b,
    "symdifference": lambda a, b: a != b,
}


def overlay(ga, gb, op: str):
    """Boolean overlay of two areal geometries.

    Boundary-classification method: every input edge is split at each
    intersection with the other geometry's edges; a sub-edge belongs to the
    result boundary iff the boolean op disagrees across its two sides
    (membership sampled just off the edge midpoint, which resolves shared
    edges and touching rings uniformly). Kept edges are oriented with the
    result interior on the left and walked leftmost-turn-first into rings;
    CCW rings are shells, CW rings are holes.
    """
    fn = _OPS[op]
    pa = _polys_of(ga)
    pb = _polys_of(gb)
    a_rings = [r for poly in pa for r in poly]
    b_rings = [r for poly in pb for r in poly]
    a_segs = [s for r in a_rings for s in zip(r, r[1:])]
    b_segs = [s for r in b_rings for s in zip(r, r[1:])]

    pieces = _split_by(a_segs, b_segs) + _split_by(b_segs, a_segs)
    kept = {}
    for s, e in pieces:
        mx, my = (s[0] + e[0]) / 2.0, (s[1] + e[1]) / 2.0
        dx, dy = e[0] - s[0], e[1] - s[1]
        ln = math.hypot(dx, dy)
        if ln < 1e-12:
            continue
        nx, ny = -dy / ln, dx / ln  # left normal
        lx, ly = mx + nx * _SIDE_EPS, my + ny * _SIDE_EPS
        rx, ry = mx - nx * _SIDE_EPS, my - ny * _SIDE_EPS
        in_a_l = _pt_loc(a_rings, lx, ly) == 1
        in_a_r = _pt_loc(a_rings, rx, ry) == 1
        in_b_l = _pt_loc(b_rings, lx, ly) == 1
        in_b_r = _pt_loc(b_rings, rx, ry) == 1
        res_l = fn(in_a_l, in_b_l)
        res_r = fn(in_a_r, in_b_r)
        if res_l == res_r:
            continue
        if res_l:
            edge = (_snap(s), _snap(e))
        else:
            edge = (_snap(e), _snap(s))
        if edge[0] != edge[1]:
            kept[edge] = True  # dict dedupes coincident shared edges

    return _assemble(list(kept))


def _assemble(edges):
    """Stitch directed edges (interior on the left) into rings."""
    from collections import defaultdict

    out_edges = defaultdict(list)
    for s, e in edges:
        out_edges[s].append(e)
    unused = set(edges)
    rings = []
    for start_edge in edges:
        if start_edge not in unused:
            continue
        ring = [start_edge[0]]
        cur = start_edge
        unused.discard(cur)
        ring.append(cur[1])
        guard = 0
        while cur[1] != ring[0] and guard < 100000:
            guard += 1
            v = cur[1]
            inx, iny = v[0] - cur[0][0], v[1] - cur[0][1]
            back_ang = math.atan2(-iny, -inx)
            best = None
            for nxt in out_edges[v]:
                if (v, nxt) not in unused:
                    continue
                ang = math.atan2(nxt[1] - v[1], nxt[0] - v[0])
                # CCW angle from the reversed incoming direction; smallest
                # positive = leftmost turn (keeps the face to the left)
                rel = (back_ang - ang) % (2 * math.pi)
                if rel < 1e-12:
                    rel = 2 * math.pi
                if best is None or rel < best[0]:
                    best = (rel, nxt)
            if best is None:
                break
            cur = (v, best[1])
            unused.discard(cur)
            ring.append(best[1])
        if len(ring) >= 4 and ring[0] == ring[-1]:
            rings.append(ring)

    shells = [r for r in rings if _ring_signed_area2(r) > 0]
    holes = [r for r in rings if _ring_signed_area2(r) < 0]
    polys = [[s] for s in shells]
    # attach each hole to the smallest shell that contains it
    for h in holes:
        hx, hy = h[0]
        candidates = []
        for i, s in enumerate(shells):
            loc = _pt_loc([s], hx, hy)
            if loc != 0:
                candidates.append((abs(_ring_signed_area2(s)), i))
        if candidates:
            polys[min(candidates)[1]].append(h)
    if not polys:
        return ("POLYGON", [])
    if len(polys) == 1:
        return ("POLYGON", polys[0])
    return ("MULTIPOLYGON", polys)


# ---------------------------------------------------------------------------
# Buffer (Minkowski sum via union of per-element pieces)
# ---------------------------------------------------------------------------

def buffer(g, dist: float, quad: int = 8):
    if dist < 0:
        raise ValueError("ST_Buffer: negative distance is not supported")
    if dist == 0:
        return g
    n = max(4, 4 * quad)

    def disc(cx, cy):
        return [[(cx + dist * math.cos(2 * math.pi * k / n),
                  cy + dist * math.sin(2 * math.pi * k / n)) for k in range(n)]
                + [(cx + dist, cy)]]

    pieces = []
    for t, d in _flatten(g):
        if d is None:
            continue
        if t == "POINT":
            pieces.append(("POLYGON", disc(*d)))
            continue
        segs = (list(zip(d, d[1:])) if t == "LINESTRING"
                else [s for r in d for s in zip(r, r[1:])])
        verts = d if t == "LINESTRING" else [p for r in d for p in r[:-1]]
        if t == "POLYGON":
            pieces.append(("POLYGON", [list(r) for r in d]))
        for (ax, ay), (bx, by) in segs:
            ln = math.hypot(bx - ax, by - ay)
            if ln == 0:
                continue
            nx, ny = -(by - ay) / ln * dist, (bx - ax) / ln * dist
            pieces.append(("POLYGON", [[
                (ax + nx, ay + ny), (bx + nx, by + ny),
                (bx - nx, by - ny), (ax - nx, ay - ny), (ax + nx, ay + ny),
            ]]))
        for vx, vy in verts:
            pieces.append(("POLYGON", disc(vx, vy)))

    if not pieces:
        raise ValueError("invalid point payload")
    acc = pieces[0]
    for piece in pieces[1:]:
        acc = overlay(acc, piece, "union")
    return acc


# ---------------------------------------------------------------------------
# Distances between geometries
# ---------------------------------------------------------------------------

def _pt_seg_dist(p, a, b) -> float:
    ax, ay = a
    bx, by = b
    px, py = p
    dx, dy = bx - ax, by - ay
    dd = dx * dx + dy * dy
    if dd == 0:
        return math.dist(p, a)
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / dd))
    return math.dist(p, (ax + t * dx, ay + t * dy))


def _seg_seg_dist(p, q, a, b) -> float:
    if _seg_intersections(p, q, a, b):
        return 0.0
    return min(_pt_seg_dist(p, a, b), _pt_seg_dist(q, a, b),
               _pt_seg_dist(a, p, q), _pt_seg_dist(b, p, q))


def distance(ga, gb) -> float:
    if intersects(ga, gb):
        return 0.0
    best = math.inf
    a_pts, b_pts = _points_of(ga), _points_of(gb)
    a_segs, b_segs = _segments_of(ga), _segments_of(gb)
    if a_segs and b_segs:
        for p, q in a_segs:
            for a, b in b_segs:
                best = min(best, _seg_seg_dist(p, q, a, b))
    elif a_segs:
        for p in b_pts:
            for a, b in a_segs:
                best = min(best, _pt_seg_dist(p, a, b))
    elif b_segs:
        for p in a_pts:
            for a, b in b_segs:
                best = min(best, _pt_seg_dist(p, a, b))
    else:
        for p in a_pts:
            for q in b_pts:
                best = min(best, math.dist(p, q))
    return best


# ---------------------------------------------------------------------------
# Relation predicates
# ---------------------------------------------------------------------------

def _areal_rings(g):
    rings = []
    for t, d in _flatten(g):
        if t == "POLYGON" and d:
            rings.extend(d)
    return rings


def intersects(ga, gb) -> bool:
    if is_empty(ga) or is_empty(gb):
        return False
    a_rings, b_rings = _areal_rings(ga), _areal_rings(gb)
    for p in _points_of(ga):
        if b_rings and _pt_loc(b_rings, p[0], p[1]) != 0:
            return True
        for q in _points_of(gb):
            if math.dist(p, q) <= _EPS:
                return True
        for a, b in _segments_of(gb):
            if _on_segment(p[0], p[1], a, b):
                return True
    for q in _points_of(gb):
        if a_rings and _pt_loc(a_rings, q[0], q[1]) != 0:
            return True
        for a, b in _segments_of(ga):
            if _on_segment(q[0], q[1], a, b):
                return True
    for p, q in _segments_of(ga):
        for a, b in _segments_of(gb):
            if _seg_intersections(p, q, a, b):
                return True
    return False


def disjoint(ga, gb) -> bool:
    return not intersects(ga, gb)


def _interiors_intersect(ga, gb) -> bool:
    da, db = dimension(ga), dimension(gb)
    if da > db:
        return _interiors_intersect(gb, ga)
    a_rings, b_rings = _areal_rings(ga), _areal_rings(gb)
    if da == 0:
        # point interior = the point itself; must be in the other's interior
        for p in _points_of(ga):
            if db == 0:
                if any(math.dist(p, q) <= _EPS for q in _points_of(gb)):
                    return True
            elif db == 1:
                for ln_t, ln in _flatten(gb):
                    if ln_t != "LINESTRING" or not ln:
                        continue
                    interior_ok = _on_any_segment_interior(p, ln)
                    if interior_ok:
                        return True
            else:
                if _pt_loc(b_rings, p[0], p[1]) == 1:
                    return True
        return False
    if da == 1 and db == 2:
        subs = _split_by(_segments_of(ga), [s for r in b_rings for s in zip(r, r[1:])])
        for s, e in subs:
            mx, my = (s[0] + e[0]) / 2.0, (s[1] + e[1]) / 2.0
            if _pt_loc(b_rings, mx, my) == 1:
                return True
        return False
    if da == 1 and db == 1:
        # shared point interior to both, or collinear overlap of positive length
        a_segs, b_segs = _segments_of(ga), _segments_of(gb)
        for p, q in a_segs:
            for a, b in b_segs:
                ts = _seg_intersections(p, q, a, b)
                if len(ts) >= 2:  # collinear overlap
                    if abs(ts[1] - ts[0]) * math.dist(p, q) > _EPS:
                        return True
                elif ts:
                    t = ts[0]
                    x = (p[0] + (q[0] - p[0]) * t, p[1] + (q[1] - p[1]) * t)
                    if (_is_line_interior(ga, x) and _is_line_interior(gb, x)):
                        return True
        return False
    # areal-areal
    try:
        return area(overlay(ga, gb, "intersection")) > _AREA_TOL
    except ValueError:
        return False


def _on_any_segment_interior(p, line_pts) -> bool:
    """p lies on the line and is not one of its boundary endpoints."""
    on = any(_on_segment(p[0], p[1], a, b) for a, b in zip(line_pts, line_pts[1:]))
    if not on:
        return False
    closed = line_pts[0] == line_pts[-1]
    if closed:
        return True
    return (math.dist(p, line_pts[0]) > _EPS
            and math.dist(p, line_pts[-1]) > _EPS)


def _is_line_interior(g, p) -> bool:
    for t, d in _flatten(g):
        if t == "LINESTRING" and d and _on_any_segment_interior(p, d):
            return True
    return False


def _pt_on(ga, p) -> bool:
    """p lies anywhere on ga's CLOSURE, across heterogeneous members
    (GEOMETRYCOLLECTION(POINT …, LINESTRING …) covers a point equal to its
    point member — func_geometry.test collection rows)."""
    for t, d in _flatten(ga):
        if d is None:
            continue
        if t == "POINT":
            if math.dist(p, d) <= _EPS:
                return True
        elif t == "LINESTRING":
            if any(_on_segment(p[0], p[1], a, b) for a, b in zip(d, d[1:])):
                return True
        else:  # POLYGON: d is the ring list
            if _pt_loc(list(d), p[0], p[1]) != 0:
                return True
    return False


def _pt_in_interior(ga, p) -> bool:
    """p lies in ga's INTERIOR (a point member's interior is itself; a
    linestring's excludes its endpoints; a polygon's excludes its rings)."""
    for t, d in _flatten(ga):
        if d is None:
            continue
        if t == "POINT":
            if math.dist(p, d) <= _EPS:
                return True
        elif t == "LINESTRING":
            if d and _on_any_segment_interior(p, d):
                return True
        else:
            if _pt_loc(list(d), p[0], p[1]) == 1:
                return True
    return False


def covers(ga, gb) -> bool:
    """No point of gb lies in the exterior of ga."""
    if is_empty(ga) or is_empty(gb):
        return False
    da, db = dimension(ga), dimension(gb)
    if db == 0:
        # member-wise: handles mixed GEOMETRYCOLLECTION sides uniformly
        pts = _points_of(gb)
        return bool(pts) and all(_pt_on(ga, p) for p in pts)
    a_rings = _areal_rings(ga)
    if da == 2:
        for p in _points_of(gb):
            if _pt_loc(a_rings, p[0], p[1]) == 0:
                return False
        if db >= 1:
            cutters = [s for r in a_rings for s in zip(r, r[1:])]
            subs = _split_by(_segments_of(gb), cutters)
            for s, e in subs:
                mx, my = (s[0] + e[0]) / 2.0, (s[1] + e[1]) / 2.0
                if _pt_loc(a_rings, mx, my) == 0:
                    return False
        if db == 2:
            return area(overlay(gb, ga, "difference")) <= _AREA_TOL
        return True
    if da == 1:
        if db == 2:
            return False
        a_segs = _segments_of(ga)
        for p in _points_of(gb):
            if not any(_on_segment(p[0], p[1], a, b) for a, b in a_segs):
                return False
        if db == 1:
            subs = _split_by(_segments_of(gb), a_segs)
            for s, e in subs:
                mx, my = (s[0] + e[0]) / 2.0, (s[1] + e[1]) / 2.0
                if not any(_on_segment(mx, my, a, b) for a, b in a_segs):
                    return False
        return True
    # point covers point
    if db > 0:
        return False
    apts = _points_of(ga)
    return all(any(math.dist(p, q) <= _EPS for q in apts) for p in _points_of(gb))


def coveredby(ga, gb) -> bool:
    return covers(gb, ga)


def contains(ga, gb) -> bool:
    if not is_empty(gb) and dimension(gb) == 0:
        # the reference's boost-geometry semantics: EVERY point of gb must
        # lie in ga's INTERIOR (a multipoint with one point on ga's
        # boundary is NOT contained — func_geometry.test
        # contains_multiline_boundary); GEOS/DE-9IM would accept it
        pts = _points_of(gb)
        return bool(pts) and all(_pt_in_interior(ga, p) for p in pts)
    return covers(ga, gb) and _interiors_intersect(ga, gb)


def within(ga, gb) -> bool:
    return contains(gb, ga)


def touches(ga, gb) -> bool:
    return intersects(ga, gb) and not _interiors_intersect(ga, gb)


def crosses(ga, gb) -> bool:
    da, db = dimension(ga), dimension(gb)
    if da == db == 1:
        if not _interiors_intersect(ga, gb):
            return False
        # crosses requires a 0-dimensional intersection: no collinear overlap
        for p, q in _segments_of(ga):
            for a, b in _segments_of(gb):
                ts = _seg_intersections(p, q, a, b)
                if len(ts) >= 2 and abs(ts[1] - ts[0]) * math.dist(p, q) > _EPS:
                    return False
        return True
    if da == db:
        return False
    lo, hi = (ga, gb) if da < db else (gb, ga)
    if not _interiors_intersect(lo, hi):
        return False
    if dimension(lo) == 0 and dimension(hi) == 1:
        # the reference (boost geometry) grades a point INTERIOR to a
        # LINESTRING as crossing it (st_crosses(POINT, LINESTRING) = 1 —
        # func_geometry.test), unlike DE-9IM's a∩b≠a rule; point-vs-AREA
        # keeps the containment rule (crosses(POINT, POLYGON) = 0 there)
        return True
    return not covers(hi, lo)


def overlaps(ga, gb) -> bool:
    if dimension(ga) != dimension(gb):
        return False
    return (_interiors_intersect(ga, gb)
            and not covers(ga, gb) and not covers(gb, ga))


def equals(ga, gb) -> bool:
    da, db = dimension(ga), dimension(gb)
    if da != db:
        return False
    if da == 0:
        ap = {(round(x, 9), round(y, 9)) for x, y in _points_of(ga)}
        bp = {(round(x, 9), round(y, 9)) for x, y in _points_of(gb)}
        return ap == bp
    return covers(ga, gb) and covers(gb, ga)


# ---------------------------------------------------------------------------
# Validity / simplicity
# ---------------------------------------------------------------------------

def _line_is_simple(pts) -> bool:
    segs = list(zip(pts, pts[1:]))
    n = len(segs)
    closed = len(pts) > 2 and pts[0] == pts[-1]
    for i in range(n):
        p, q = segs[i]
        if p == q:
            return False
        for j in range(i + 1, n):
            a, b = segs[j]
            ts = _seg_intersections(p, q, a, b)
            if not ts:
                continue
            adjacent = (j == i + 1) or (closed and i == 0 and j == n - 1)
            if len(ts) >= 2 and abs(ts[1] - ts[0]) * math.dist(p, q) > _EPS:
                return False  # collinear overlap (backtracking)
            if adjacent:
                continue  # shared endpoint between consecutive segments
            t = ts[0]
            x = (p[0] + (q[0] - p[0]) * t, p[1] + (q[1] - p[1]) * t)
            if closed and i == 0 and j == n - 1:
                continue
            if j > i + 1 or not closed:
                # any contact between non-adjacent segments breaks simplicity
                return False
    return True


def is_simple(g) -> bool:
    t, d = g
    if is_empty(g):
        return True
    if t == "POINT":
        return True
    if t == "MULTIPOINT":
        return len({(round(x, 9), round(y, 9)) for x, y in d}) == len(d)
    if t == "LINESTRING":
        return _line_is_simple(d)
    if t == "MULTILINESTRING":
        return all(_line_is_simple(ln) for ln in d)
    if t in ("POLYGON", "MULTIPOLYGON"):
        return is_valid(g)
    return all(is_simple(s) for s in d)


def is_ring(g) -> bool:
    t, d = g
    if t != "LINESTRING":
        raise ValueError("geometry is not a LINESTRING")
    if not d:
        return False
    return d[0] == d[-1] and _line_is_simple(d)


def _rings_conflict(r1, r2) -> bool:
    """Rings may touch at isolated points but not cross or share edges."""
    for p, q in zip(r1, r1[1:]):
        for a, b in zip(r2, r2[1:]):
            ts = _seg_intersections(p, q, a, b)
            if len(ts) >= 2 and abs(ts[1] - ts[0]) * math.dist(p, q) > _EPS:
                return True  # collinear overlap
            if ts:
                t = ts[0]
                x = p[0] + (q[0] - p[0]) * t
                y = p[1] + (q[1] - p[1]) * t
                # proper crossing: interior of both segments
                d1 = (q[0] - p[0]) * (a[1] - p[1]) - (q[1] - p[1]) * (a[0] - p[0])
                d2 = (q[0] - p[0]) * (b[1] - p[1]) - (q[1] - p[1]) * (b[0] - p[0])
                d3 = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
                d4 = (b[0] - a[0]) * (q[1] - a[1]) - (b[1] - a[1]) * (q[0] - a[0])
                if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
                    return True
    return False


def _polygon_is_valid(rings) -> bool:
    if not rings:
        return True
    for r in rings:
        if len(r) < 4 or r[0] != r[-1]:
            return False
        if not _line_is_simple(r):
            return False
        if abs(_ring_signed_area2(r)) / 2.0 <= _AREA_TOL:
            return False
    shell = rings[0]
    for hole in rings[1:]:
        if _rings_conflict(shell, hole):
            return False
        # hole must lie inside the shell
        inside_seen = False
        for p in hole[:-1]:
            loc = _pt_loc([shell], p[0], p[1])
            if loc == 0:
                return False
            if loc == 1:
                inside_seen = True
        if not inside_seen:
            return False
    for i in range(1, len(rings)):
        for j in range(i + 1, len(rings)):
            if _rings_conflict(rings[i], rings[j]):
                return False
    return True


def is_valid(g) -> bool:
    t, d = g
    if is_empty(g):
        return True
    if t in ("POINT", "MULTIPOINT", "LINESTRING", "MULTILINESTRING"):
        return True
    if t == "POLYGON":
        return _polygon_is_valid(d)
    if t == "MULTIPOLYGON":
        return all(_polygon_is_valid(p) for p in d)
    return all(is_valid(s) for s in d)


def validate(g):
    """Reference ST_Validate: pass valid geometry through, else NULL."""
    return g if is_valid(g) else None


# ---------------------------------------------------------------------------
# Constructive: convex hull, simplify, collect
# ---------------------------------------------------------------------------

def convex_hull(g):
    pts = sorted({(x, y) for x, y in _points_of(g)})
    if not pts:
        raise ValueError("invalid point payload")
    if len(pts) == 1:
        return ("POINT", pts[0])

    def half(points):
        h = []
        for p in points:
            while len(h) >= 2 and (
                (h[-1][0] - h[-2][0]) * (p[1] - h[-2][1])
                - (h[-1][1] - h[-2][1]) * (p[0] - h[-2][0])
            ) <= 0:
                h.pop()
            h.append(p)
        return h

    lower = half(pts)
    upper = half(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        return ("LINESTRING", [pts[0], pts[-1]])
    return ("POLYGON", [hull + [hull[0]]])


def _dp_simplify(pts, tol):
    if len(pts) <= 2:
        return list(pts)
    keep = [False] * len(pts)
    keep[0] = keep[-1] = True
    stack = [(0, len(pts) - 1)]
    while stack:
        i, j = stack.pop()
        best_d, best_k = -1.0, None
        for k in range(i + 1, j):
            dd = _pt_seg_dist(pts[k], pts[i], pts[j])
            if dd > best_d:
                best_d, best_k = dd, k
        if best_d > tol and best_k is not None:
            keep[best_k] = True
            stack.append((i, best_k))
            stack.append((best_k, j))
    return [p for p, k in zip(pts, keep) if k]


def simplify(g, tol: float):
    t, d = g
    if is_empty(g) or t in ("POINT", "MULTIPOINT"):
        return g
    if t == "LINESTRING":
        return (t, _dp_simplify(d, tol))
    if t == "MULTILINESTRING":
        return (t, [_dp_simplify(ln, tol) for ln in d])
    if t == "POLYGON":
        return (t, [_simplify_ring(r, tol) for r in d])
    if t == "MULTIPOLYGON":
        return (t, [[_simplify_ring(r, tol) for r in poly] for poly in d])
    return (t, [simplify(s, tol) for s in d])


def _simplify_ring(r, tol):
    out = _dp_simplify(r, tol)
    if len(out) < 4:
        return list(r)
    return out


def collect(*geoms):
    parts = []
    for g in geoms:
        if g is None:
            continue
        parts.extend(_flatten(g))
    if not parts:
        return ("GEOMETRYCOLLECTION", [])
    kinds = {p[0] for p in parts}
    if kinds == {"POINT"}:
        return ("MULTIPOINT", [p[1] for p in parts])
    if kinds == {"LINESTRING"}:
        return ("MULTILINESTRING", [p[1] for p in parts])
    if kinds == {"POLYGON"}:
        return ("MULTIPOLYGON", [p[1] for p in parts])
    return ("GEOMETRYCOLLECTION", parts)


# ---------------------------------------------------------------------------
# Linear referencing
# ---------------------------------------------------------------------------

def _require_line(g):
    t, d = g
    if t != "LINESTRING" or not d:
        raise ValueError("geometry is not a LINESTRING")
    return d


def _point_along(pts, target: float):
    acc = 0.0
    for p, q in zip(pts, pts[1:]):
        seg = math.dist(p, q)
        if acc + seg >= target - 1e-12:
            if seg == 0:
                return p
            t = (target - acc) / seg
            return (p[0] + (q[0] - p[0]) * t, p[1] + (q[1] - p[1]) * t)
        acc += seg
    return pts[-1]


def line_interpolate_point(g, fraction: float):
    pts = _require_line(g)
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("ST_LineInterpolatePoint: fraction must be in [0, 1]")
    total = sum(math.dist(p, q) for p, q in zip(pts, pts[1:]))
    return ("POINT", _point_along(pts, total * fraction))


def line_interpolate_points(g, fraction: float):
    pts = _require_line(g)
    if not 0.0 < fraction <= 1.0:
        raise ValueError("ST_LineInterpolatePoints: fraction must be in (0, 1]")
    total = sum(math.dist(p, q) for p, q in zip(pts, pts[1:]))
    out = []
    k = 1
    while k * fraction <= 1.0 + 1e-12:
        out.append(_point_along(pts, total * min(1.0, k * fraction)))
        k += 1
    if len(out) == 1:
        return ("POINT", out[0])
    return ("MULTIPOINT", out)


def point_at_distance(g, dist: float):
    pts = _require_line(g)
    total = sum(math.dist(p, q) for p, q in zip(pts, pts[1:]))
    if not 0.0 <= dist <= total:
        raise ValueError("ST_PointAtDistance: distance is out of range")
    return ("POINT", _point_along(pts, dist))


# ---------------------------------------------------------------------------
# Discrete curve distances
# ---------------------------------------------------------------------------

def hausdorff(ga, gb) -> float:
    """Symmetric Hausdorff distance, vertices-to-linework."""
    def directed(src, dst):
        dst_segs = _segments_of(dst)
        dst_pts = _points_of(dst)
        worst = 0.0
        for p in _points_of(src):
            if dst_segs:
                best = min(_pt_seg_dist(p, a, b) for a, b in dst_segs)
            else:
                best = min(math.dist(p, q) for q in dst_pts)
            worst = max(worst, best)
        return worst

    return max(directed(ga, gb), directed(gb, ga))


def frechet(ga, gb) -> float:
    """Discrete Fréchet distance (Eiter–Mannila dynamic program)."""
    p = _points_of(ga)
    q = _points_of(gb)
    if not p or not q:
        raise ValueError("invalid point payload")
    n, m = len(p), len(q)
    ca = [[-1.0] * m for _ in range(n)]
    ca[0][0] = math.dist(p[0], q[0])
    for j in range(1, m):
        ca[0][j] = max(ca[0][j - 1], math.dist(p[0], q[j]))
    for i in range(1, n):
        ca[i][0] = max(ca[i - 1][0], math.dist(p[i], q[0]))
        for j in range(1, m):
            ca[i][j] = max(
                min(ca[i - 1][j], ca[i - 1][j - 1], ca[i][j - 1]),
                math.dist(p[i], q[j]),
            )
    return ca[n - 1][m - 1]


# ---------------------------------------------------------------------------
# Accessors over multis / polygons
# ---------------------------------------------------------------------------

def num_geometries(g) -> int:
    return len(components(g))


def geometry_n(g, n: int):
    comps = components(g)
    if not 1 <= n <= len(comps):
        raise ValueError("ST_GeometryN: index out of range")
    return comps[n - 1]


def exterior_ring(g):
    t, d = g
    if t != "POLYGON" or not d:
        raise ValueError("geometry is not a POLYGON")
    return ("LINESTRING", list(d[0]))


def num_interior_rings(g) -> int:
    t, d = g
    if t != "POLYGON":
        raise ValueError("geometry is not a POLYGON")
    return max(0, len(d or []) - 1)


def interior_ring_n(g, n: int):
    t, d = g
    if t != "POLYGON":
        raise ValueError("geometry is not a POLYGON")
    holes = (d or [])[1:]
    if not 1 <= n <= len(holes):
        raise ValueError("ST_InteriorRingN: index out of range")
    return ("LINESTRING", list(holes[n - 1]))


def is_collection(g) -> bool:
    return g[0].startswith("MULTI") or g[0] == "GEOMETRYCOLLECTION"
