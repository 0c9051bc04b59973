"""ST_* scalar functions over the canonical GEOMETRY (= WKB binary) column.

Each function mirrors a reference registration (SURVEY.md §2.2/§2.3; files
under ``/root/reference/spatial/src/spatial/{core,geos}/functions/scalar/``).
Implementation: Arrow-batched pandas UDFs dispatching into the numpy kernel
(:mod:`duckdb_spatial_spark.geo`) — the Spark analog of the reference's
vectorized 2048-row DataChunk execution (``geos_executor.hpp:60-67``).

Prepared-geometry fast path (reference ``geos_executor.hpp:28-67``): WKB
parsing is memoized with an LRU keyed on the raw bytes, so a constant
argument (e.g. a literal envelope in a filter) parses once per batch
instead of once per row.
"""

from __future__ import annotations

import functools
import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import algorithms as A
from ..geo import geom as G
from ..geo import wkb as WKB
from ..geo import wkt as WKT


@functools.lru_cache(maxsize=4096)
def _parse_cached(b: bytes):
    return WKB.from_wkb(b)


def _g(b):
    """bytes | bytearray | None -> Geometry | None (memoized parse)."""
    if b is None:
        return None
    return _parse_cached(bytes(b))


def _wkb(g):
    return None if g is None else WKB.to_wkb(g)


# --------------------------------------------------------------------------
# UDF factories
# --------------------------------------------------------------------------

def _unary(fn, rt):
    """GEOMETRY -> scalar."""

    @F.pandas_udf(rt)
    def u(s: pd.Series) -> pd.Series:
        return s.map(lambda b: None if b is None else fn(_g(b)))

    return u


def _unary_geom(fn):
    """GEOMETRY -> GEOMETRY."""

    @F.pandas_udf(T.BinaryType())
    def u(s: pd.Series) -> pd.Series:
        return s.map(lambda b: None if b is None else _wkb(fn(_g(b))))

    return u


def _binary(fn, rt):
    """(GEOMETRY, GEOMETRY) -> scalar."""

    @F.pandas_udf(rt)
    def u(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [None if (x is None or y is None) else fn(_g(x), _g(y)) for x, y in zip(a, b)]
        )

    return u


def _binary_geom(fn):
    """(GEOMETRY, GEOMETRY) -> GEOMETRY."""

    @F.pandas_udf(T.BinaryType())
    def u(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [None if (x is None or y is None) else _wkb(fn(_g(x), _g(y))) for x, y in zip(a, b)]
        )

    return u


BOX_2D = T.StructType(
    [
        T.StructField("min_x", T.DoubleType()),
        T.StructField("min_y", T.DoubleType()),
        T.StructField("max_x", T.DoubleType()),
        T.StructField("max_y", T.DoubleType()),
    ]
)

DUMP_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("geom", T.BinaryType()),
            T.StructField("path", T.ArrayType(T.IntegerType())),
        ]
    )
)


# --------------------------------------------------------------------------
# constructors  (st_point.cpp, st_makeenvelope.cpp, st_makeline.cpp, ...)
# --------------------------------------------------------------------------

@F.pandas_udf(T.BinaryType())
def st_point(x: pd.Series, y: pd.Series) -> pd.Series:
    """ST_Point(x, y) -> GEOMETRY. Vectorized WKB assembly (no per-row pack):
    21-byte little-endian point records built in one numpy pass."""
    xs = x.to_numpy(dtype=np.float64, na_value=np.nan)
    ys = y.to_numpy(dtype=np.float64, na_value=np.nan)
    n = len(xs)
    buf = np.zeros((n, 21), dtype=np.uint8)
    buf[:, 0] = 1  # little endian
    buf[:, 1] = 1  # type = POINT
    buf[:, 5:13] = xs.astype("<f8").view(np.uint8).reshape(n, 8)
    buf[:, 13:21] = ys.astype("<f8").view(np.uint8).reshape(n, 8)
    nulls = x.isna().to_numpy() | y.isna().to_numpy()
    rows = buf.tobytes()
    return pd.Series(
        [None if nulls[i] else rows[i * 21 : (i + 1) * 21] for i in range(n)]
    )


@F.pandas_udf(T.BinaryType())
def st_point3d(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
    """ST_Point3D / ST_PointZ (reference st_point.cpp overloads)."""
    return pd.Series(
        [
            None if (a is None or b is None or c is None) else _wkb(G.point(float(a), float(b), float(c)))
            for a, b, c in zip(x, y, z)
        ]
    )


@F.pandas_udf(T.BinaryType())
def st_point4d(x: pd.Series, y: pd.Series, z: pd.Series, m: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None
            if (a is None or b is None or c is None or d is None)
            else _wkb(G.point(float(a), float(b), float(c), float(d)))
            for a, b, c, d in zip(x, y, z, m)
        ]
    )


@F.pandas_udf(T.BinaryType())
def st_makeenvelope(min_x: pd.Series, min_y: pd.Series, max_x: pd.Series, max_y: pd.Series) -> pd.Series:
    """ST_MakeEnvelope -> 93-byte single-ring box polygon WKB, assembled in
    one numpy pass (same vectorized trick as st_point). Vertex order matches
    the reference's Polygon::CreateFromBox (geometry.hpp:795-805):
    (minx miny, minx maxy, maxx maxy, maxx miny, minx miny) — pinned by
    test/sql/geometry/st_makeenvelope.test."""
    n = len(min_x)
    cols = [s.to_numpy(dtype=np.float64, na_value=np.nan) for s in (min_x, min_y, max_x, max_y)]
    a, b, c, d = cols
    buf = np.zeros((n, 93), dtype=np.uint8)
    buf[:, 0] = 1  # little endian
    buf[:, 1] = 3  # type = POLYGON
    buf[:, 5] = 1  # one ring
    buf[:, 9] = 5  # five points (closed)
    ring = np.empty((n, 10), dtype=np.float64)
    ring[:, 0], ring[:, 1] = a, b
    ring[:, 2], ring[:, 3] = a, d
    ring[:, 4], ring[:, 5] = c, d
    ring[:, 6], ring[:, 7] = c, b
    ring[:, 8], ring[:, 9] = a, b
    buf[:, 13:93] = ring.astype("<f8").view(np.uint8).reshape(n, 80)
    nulls = min_x.isna() | min_y.isna() | max_x.isna() | max_y.isna()
    nulls = nulls.to_numpy()
    rows = buf.tobytes()
    return pd.Series([None if nulls[i] else rows[i * 93 : (i + 1) * 93] for i in range(n)])


def _promote_zm(geoms):
    """Promote a geometry list to the union of Z/M flags with zero fill
    (reference list constructors: st_makeline.test mixed-dimension cases
    produce e.g. LINESTRING ZM (1 1 1 0, 2 2 0 3))."""
    hz = any(g.has_z for g in geoms)
    hm = any(g.has_m for g in geoms)
    if not (hz or hm):
        return geoms
    return [A.force_dims(g, hz, hm) if (g.has_z, g.has_m) != (hz, hm) else g for g in geoms]


def _makeline_pts(geoms):
    """Shared ST_MakeLine semantics (st_makeline.cpp + its .test): NULL and
    EMPTY points are dropped; 0 points -> LINESTRING EMPTY; exactly 1 ->
    error; mixed dims promote with zero fill."""
    pts = []
    for g in geoms:
        if g is None:
            continue
        if g.tag != G.POINT:
            raise ValueError("ST_MakeLine only accepts POINT geometries")
        if g.is_empty():
            continue
        pts.append(g)
    if len(pts) == 1:
        raise ValueError("ST_MakeLine requires zero or two or more POINT geometries")
    if not pts:
        return G.empty(G.LINESTRING)
    pts = _promote_zm(pts)
    arr = np.vstack([p.data for p in pts])
    return G.Geometry(G.LINESTRING, arr, pts[0].has_z, pts[0].has_m)


@F.pandas_udf(T.BinaryType())
def st_makeline(geoms: pd.Series) -> pd.Series:
    """ST_MakeLine(LIST(GEOMETRY)): concatenates point geometries."""

    def mk(lst):
        if lst is None:
            return None
        return _wkb(_makeline_pts([_g(b) for b in lst if b is not None]))

    return geoms.map(mk)


@F.pandas_udf(T.BinaryType())
def st_makeline2(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
            continue
        out.append(_wkb(_makeline_pts([_g(x), _g(y)])))
    return pd.Series(out)


def _check_ring(g, what):
    if g.tag != G.LINESTRING:
        raise ValueError(f"ST_MakePolygon only accepts LINESTRING geometries ({what})")
    if len(g.data) < 4:
        raise ValueError(f"ST_MakePolygon {what} requires at least 4 vertices")
    if not np.array_equal(g.data[0], g.data[-1]):
        raise ValueError(f"ST_MakePolygon {what} must be closed (first and last vertex must be equal)")


@F.pandas_udf(T.BinaryType())
def st_makepolygon(shell: pd.Series) -> pd.Series:
    def mk(b):
        if b is None:
            return None
        g = _g(b)
        _check_ring(g, "shell")
        return _wkb(G.Geometry(G.POLYGON, [g.data.copy()], g.has_z, g.has_m))

    return shell.map(mk)


@F.pandas_udf(T.BinaryType())
def st_makepolygon_holes(shell: pd.Series, holes: pd.Series) -> pd.Series:
    """2-arg ST_MakePolygon(shell, LIST(LINESTRING)): NULL list -> NULL,
    NULL rings skipped, rings validated like the shell
    (st_makepolygon.test)."""

    def mk(b, lst):
        if b is None or lst is None:
            return None
        g = _g(b)
        _check_ring(g, "shell")
        rings = [g.data.copy()]
        k = 0
        for hb in lst:
            if hb is None:
                continue
            k += 1
            h = _g(hb)
            _check_ring(h, f"hole #{k}")
            rings.append(h.data.copy())
        return _wkb(G.Geometry(G.POLYGON, rings, g.has_z, g.has_m))

    return pd.Series([mk(b, lst) for b, lst in zip(shell, holes)])


@F.pandas_udf(T.BinaryType())
def st_collect(geoms: pd.Series) -> pd.Series:
    """ST_Collect(LIST): NULLs and EMPTY members are skipped; mixed Z/M
    promote with zero fill (st_collect.cpp semantics, its .test)."""

    def mk(lst):
        if lst is None:
            return None
        gs = [_g(b) for b in lst if b is not None]
        # Z/M flags promote from ALL non-null members (an EMPTY member still
        # contributes its dimension before being dropped — st_collect.test
        # 'LINESTRING M' + 'POINT Z EMPTY' -> MULTILINESTRING ZM)
        hz = any(g.has_z for g in gs)
        hm = any(g.has_m for g in gs)
        gs = [g for g in gs if not g.is_empty()]
        gs = [A.force_dims(g, hz, hm) if (g.has_z, g.has_m) != (hz, hm) else g for g in gs]
        return _wkb(G.collect(gs))

    return geoms.map(mk)


st_multi = _unary_geom(G.multi)


# --------------------------------------------------------------------------
# I/O: text / wkb / hex / geojson / svg
# --------------------------------------------------------------------------

st_astext = _unary(WKT.to_wkt, T.StringType())


@F.pandas_udf(T.BinaryType())
def st_geomfromtext(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else _wkb(WKT.from_wkt(v)))


@F.pandas_udf(T.BinaryType())
def st_geomfromtext_ignore(s: pd.Series, ignore: pd.Series) -> pd.Series:
    def mk(v, ig):
        if v is None:
            return None
        try:
            return _wkb(WKT.from_wkt(v))
        except Exception:
            if ig:
                return None
            raise

    return pd.Series([mk(v, ig) for v, ig in zip(s, ignore)])


@F.pandas_udf(T.BinaryType())
def st_aswkb(s: pd.Series) -> pd.Series:
    return s  # canonical form already IS WKB (reference st_aswkb.cpp)


@F.pandas_udf(T.BinaryType())
def st_geomfromwkb(s: pd.Series) -> pd.Series:
    # validate + re-canonicalize (EWKB -> ISO, big -> little endian)
    return s.map(lambda b: None if b is None else _wkb(_g(b)))


@F.pandas_udf(T.BinaryType())
def st_geomfromhexwkb(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else _wkb(WKB.from_wkb(bytes.fromhex(v))))


st_ashexwkb = _unary(lambda g: WKB.to_wkb(g).hex().upper(), T.StringType())


@F.pandas_udf(T.StringType())
def st_asgeojson(s: pd.Series) -> pd.Series:
    return s.map(lambda b: None if b is None else _to_geojson(_g(b)))


def _gj_width(g: G.Geometry) -> int:
    # GeoJSON carries no M: emit x, y (+z when present) — the reference
    # drops M the same way (st_asgeojson.test 'POINT M' -> 2-coordinate)
    return 3 if g.has_z else 2


def _coords_list(arr, w=4):
    return [[float(v) for v in row[:w]] for row in arr]


def _to_geojson(g: G.Geometry) -> str:
    t = g.tag
    w = _gj_width(g)
    if t == G.POINT:
        coords = [] if g.data is None else [float(v) for v in g.data[:w]]
        return json.dumps({"type": "Point", "coordinates": coords}, separators=(",", ":"))
    if t == G.LINESTRING:
        return json.dumps({"type": "LineString", "coordinates": _coords_list(g.data, w)}, separators=(",", ":"))
    if t == G.POLYGON:
        return json.dumps({"type": "Polygon", "coordinates": [_coords_list(r, w) for r in g.data]}, separators=(",", ":"))
    if t == G.MULTIPOINT:
        return json.dumps({"type": "MultiPoint", "coordinates": [[float(v) for v in c.data[:w]] for c in g.data]}, separators=(",", ":"))
    if t == G.MULTILINESTRING:
        return json.dumps({"type": "MultiLineString", "coordinates": [_coords_list(c.data, w) for c in g.data]}, separators=(",", ":"))
    if t == G.MULTIPOLYGON:
        return json.dumps(
            {"type": "MultiPolygon", "coordinates": [[_coords_list(r, w) for r in c.data] for c in g.data]},
            separators=(",", ":"),
        )
    return json.dumps(
        {"type": "GeometryCollection", "geometries": [json.loads(_to_geojson(c)) for c in g.data]},
        separators=(",", ":"),
    )


def _from_geojson(obj) -> G.Geometry:
    t = obj["type"]
    c = obj.get("coordinates")
    if t == "Point":
        if not c:
            return G.empty(G.POINT)
        return G.point(*c[:4])
    if t == "LineString":
        return G.linestring(c) if c else G.empty(G.LINESTRING)
    if t == "Polygon":
        return G.polygon(c) if c else G.empty(G.POLYGON)
    if t == "MultiPoint":
        return G.Geometry(G.MULTIPOINT, [G.point(*p[:4]) for p in c])
    if t == "MultiLineString":
        return G.Geometry(G.MULTILINESTRING, [G.linestring(l) for l in c])
    if t == "MultiPolygon":
        return G.Geometry(G.MULTIPOLYGON, [G.polygon(p) for p in c])
    if t == "GeometryCollection":
        return G.Geometry(G.GEOMETRYCOLLECTION, [_from_geojson(x) for x in obj["geometries"]])
    raise ValueError(f"unsupported GeoJSON type {t}")


@F.pandas_udf(T.BinaryType())
def st_geomfromgeojson(s: pd.Series) -> pd.Series:
    return s.map(lambda v: None if v is None else _wkb(_from_geojson(json.loads(v))))


@F.pandas_udf(T.StringType())
def st_assvg(s: pd.Series, rel: pd.Series, precision: pd.Series) -> pd.Series:
    """SVG path data (reference st_assvg.cpp): points -> cx/cy, else path."""

    def fmt(v, p):
        s = f"{v:.{int(p)}f}"
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        if s in ("", "-", "-0"):
            s = "0"
        return s

    def verts(arr, r, p, close):
        """Reference PrintVertices (st_assvg.cpp:21-65): one 'M', one 'L'/'l',
        bare coordinate pairs after; a closed ring replaces the last vertex
        with 'Z'/'z'; relative mode emits deltas from the previous vertex."""
        n = len(arr)
        if n == 0:
            return ""
        out = [f"M {fmt(arr[0][0], p)} {fmt(-arr[0][1], p)}"]
        if n == 1:
            return out[0]
        out.append("l" if r else "L")
        last = arr[0]
        for i in range(1, n):
            if close and i == n - 1:
                out.append("z" if r else "Z")
            elif r:
                out.append(f"{fmt(arr[i][0] - last[0], p)} {fmt(-(arr[i][1] - last[1]), p)}")
                last = arr[i]
            else:
                out.append(f"{fmt(arr[i][0], p)} {fmt(-arr[i][1], p)}")
        return " ".join(out)

    def render(g, r, p):
        if g.tag == G.POINT:
            if g.is_empty():
                return ""
            # SVG y axis points down: negate y (PostGIS/reference convention);
            # absolute points are circles (cx/cy), relative ones x/y
            if r:
                return f'x="{fmt(g.data[0], p)}" y="{fmt(-g.data[1], p)}"'
            return f'cx="{fmt(g.data[0], p)}" cy="{fmt(-g.data[1], p)}"'
        if g.tag == G.LINESTRING:
            return verts(g.data, r, p, False)
        if g.tag == G.POLYGON:
            return "".join(verts(ring, r, p, True) for ring in g.data)
        delim = {G.MULTIPOINT: ",", G.GEOMETRYCOLLECTION: ";"}.get(g.tag, " ")
        return delim.join(render(c, r, p) for c in g.data)

    def mk(b, r, p):
        if b is None:
            return None
        p = 15 if p is None else int(p)
        if p < 0 or p > 15:
            raise ValueError("max_digits must be between 0 and 15")
        return render(_g(b), bool(r), p)

    return pd.Series([mk(b, r, p) for b, r, p in zip(s, rel, precision)])


# --------------------------------------------------------------------------
# measures  (st_area.cpp, st_length.cpp, st_perimeter.cpp, st_centroid.cpp)
# --------------------------------------------------------------------------

st_area = _unary(A.area, T.DoubleType())
st_length = _unary(A.length, T.DoubleType())
st_perimeter = _unary(A.perimeter, T.DoubleType())


def _centroid(g):
    c = A.centroid(g)
    return G.empty(G.POINT) if c is None else G.point(c[0], c[1])


st_centroid = _unary_geom(_centroid)


@F.pandas_udf(T.DoubleType())
def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
    from . import fastpath

    fast = fastpath.try_distance_batch(a, b)
    if fast is None:
        fast = fastpath.try_distance_batch(b, a)  # distance is symmetric
    if fast is not None:
        return fast
    return pd.Series(
        [None if (x is None or y is None) else A.distance(_g(x), _g(y)) for x, y in zip(a, b)]
    )


st_shortestline = _binary_geom(A.shortest_line)


@F.pandas_udf(T.BooleanType())
def st_dwithin(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if (x is None or y is None or dd is None) else A.dwithin(_g(x), _g(y), float(dd))
            for x, y, dd in zip(a, b, d)
        ]
    )


# --------------------------------------------------------------------------
# accessors
# --------------------------------------------------------------------------

def _leaf_x(g):
    if g.tag != G.POINT:
        raise ValueError("ST_X expects a POINT")
    return None if g.data is None else float(g.data[0])


def _leaf_y(g):
    if g.tag != G.POINT:
        raise ValueError("ST_Y expects a POINT")
    return None if g.data is None else float(g.data[1])


def _leaf_z(g):
    if g.tag != G.POINT:
        raise ValueError("ST_Z expects a POINT")
    return float(g.data[2]) if g.data is not None and g.has_z else None


def _leaf_m(g):
    if g.tag != G.POINT:
        raise ValueError("ST_M expects a POINT")
    if g.data is None or not g.has_m:
        return None
    return float(g.data[2 + (1 if g.has_z else 0)])


st_x = _unary(_leaf_x, T.DoubleType())
st_y = _unary(_leaf_y, T.DoubleType())
st_z = _unary(_leaf_z, T.DoubleType())
st_m = _unary(_leaf_m, T.DoubleType())


def _bound(idx):
    def f(g):
        b = A.bounds(g)
        return None if b is None else b[idx]

    return f


st_xmin = _unary(_bound(0), T.DoubleType())
st_ymin = _unary(_bound(1), T.DoubleType())
st_xmax = _unary(_bound(2), T.DoubleType())
st_ymax = _unary(_bound(3), T.DoubleType())


def _zm_minmax(which, is_min):
    def f(g):
        vals = []
        for arr in g.coord_arrays():
            if which == "z" and g.has_z:
                vals.append(arr[:, 2])
            elif which == "m" and g.has_m:
                vals.append(arr[:, 2 + (1 if g.has_z else 0)])
        if not vals:
            return None
        v = np.concatenate(vals)
        return float(v.min() if is_min else v.max())

    return f


st_zmin = _unary(_zm_minmax("z", True), T.DoubleType())
st_zmax = _unary(_zm_minmax("z", False), T.DoubleType())
st_mmin = _unary(_zm_minmax("m", True), T.DoubleType())
st_mmax = _unary(_zm_minmax("m", False), T.DoubleType())


@F.pandas_udf(T.StringType())
def st_extent_text(s: pd.Series) -> pd.Series:
    """DuckDB's ST_AsText(BOX_2D) rendering of ST_Extent: 'BOX(minx miny,
    maxx maxy)', NULL for empty input (st_extent.test). Spark UDFs can't
    overload ST_AsText on a struct, so the composition gets its own name."""
    def mk(b):
        if b is None:
            return None
        bb = A.bounds(_g(b))
        if bb is None:
            return None
        from ..geo.wkt import _fmt

        return f"BOX({_fmt(bb[0])} {_fmt(bb[1])}, {_fmt(bb[2])} {_fmt(bb[3])})"

    return s.map(mk)


@F.pandas_udf(BOX_2D)
def st_extent(s: pd.Series) -> pd.DataFrame:
    from . import fastpath

    pa = fastpath.points_xy(s)  # point batch: bbox IS the point (one numpy pass)
    if pa is not None:
        xs, ys, mask = pa
        df = pd.DataFrame({"min_x": xs, "min_y": ys, "max_x": xs, "max_y": ys})
        if not mask.all():
            df[~mask] = None
        return df
    rows = []
    for b in s:
        bb = A.bounds(_g(b)) if b is not None else None
        rows.append(
            {"min_x": None, "min_y": None, "max_x": None, "max_y": None}
            if bb is None
            else {"min_x": bb[0], "min_y": bb[1], "max_x": bb[2], "max_y": bb[3]}
        )
    return pd.DataFrame(rows)


st_geometrytype = _unary(lambda g: g.type_name, T.StringType())
st_isempty = _unary(lambda g: g.is_empty(), T.BooleanType())
st_isclosed = _unary(A.is_closed, T.BooleanType())
st_isring = _unary(A.is_ring, T.BooleanType())
st_issimple = _unary(A.is_simple, T.BooleanType())
st_isvalid = _unary(A.is_valid, T.BooleanType())
st_dimension = _unary(A.dimension, T.IntegerType())
st_npoints = _unary(lambda g: g.num_points(), T.IntegerType())
st_hasz = _unary(lambda g: g.has_z, T.BooleanType())
st_hasm = _unary(lambda g: g.has_m, T.BooleanType())
# 0 = 2D, 1 = 3DM, 2 = 3DZ, 3 = 4D (PostGIS/reference convention, st_has.cpp)
st_zmflag = _unary(lambda g: (2 if g.has_z else 0) + (1 if g.has_m else 0), T.ShortType())


def _ngeom(g):
    if g.tag in (G.MULTIPOINT, G.MULTILINESTRING, G.MULTIPOLYGON, G.GEOMETRYCOLLECTION):
        return len(g.data)
    return 0 if g.is_empty() else 1


st_ngeometries = _unary(_ngeom, T.IntegerType())


def _ninterior(g):
    if g.tag == G.POLYGON:
        return max(0, len(g.data) - 1)
    return None


st_ninteriorrings = _unary(_ninterior, T.IntegerType())


def _exterior(g):
    if g.tag != G.POLYGON:
        return None
    if not g.data:
        return G.empty(G.LINESTRING, g.has_z, g.has_m)
    return G.Geometry(G.LINESTRING, g.data[0].copy(), g.has_z, g.has_m)


st_exteriorring = _unary_geom(_exterior)


def _start_pt(g):
    if g.tag != G.LINESTRING or len(g.data) == 0:
        return None
    return G.Geometry(G.POINT, g.data[0].copy(), g.has_z, g.has_m)


def _end_pt(g):
    if g.tag != G.LINESTRING or len(g.data) == 0:
        return None
    return G.Geometry(G.POINT, g.data[-1].copy(), g.has_z, g.has_m)


st_startpoint = _unary_geom(_start_pt)
st_endpoint = _unary_geom(_end_pt)


@F.pandas_udf(T.BinaryType())
def st_pointn(s: pd.Series, n: pd.Series) -> pd.Series:
    """1-based; negative indexes from the end (reference st_pointn.cpp)."""

    def mk(b, k):
        if b is None or k is None:
            return None
        g = _g(b)
        if g.tag != G.LINESTRING:
            return None
        k = int(k)
        ln = len(g.data)
        if k == 0 or abs(k) > ln:
            return None
        idx = k - 1 if k > 0 else ln + k
        return _wkb(G.Geometry(G.POINT, g.data[idx].copy(), g.has_z, g.has_m))

    return pd.Series([mk(b, k) for b, k in zip(s, n)])


def _points(g):
    pts = []
    for arr in g.coord_arrays():
        for row in arr:
            pts.append(G.Geometry(G.POINT, row.copy(), g.has_z, g.has_m))
    return G.Geometry(G.MULTIPOINT, pts, g.has_z, g.has_m)


st_points = _unary_geom(_points)


@F.pandas_udf(DUMP_TYPE)
def st_dump(s: pd.Series) -> pd.Series:
    """Explode into (geom, path) rows (reference st_dump.cpp:138-143)."""

    def walk(g, path, out):
        if g.tag in (G.MULTIPOINT, G.MULTILINESTRING, G.MULTIPOLYGON, G.GEOMETRYCOLLECTION):
            for i, c in enumerate(g.data, start=1):
                walk(c, path + [i], out)
        else:
            out.append({"geom": _wkb(g), "path": path})

    def mk(b):
        if b is None:
            return None
        out = []
        walk(_g(b), [], out)
        return out

    return s.map(mk)


@F.pandas_udf(T.BinaryType())
def st_collectionextract(s: pd.Series, ty: pd.Series) -> pd.Series:
    """type: 1=point, 2=line, 3=polygon. Matches the reference's shape rules
    (st_collectionextract.test): a GEOMETRYCOLLECTION yields MULTI<type> of
    the flattened matching leaves; a MULTI* input returns itself when it
    matches, else MULTI<type> EMPTY; a singular input returns itself when it
    matches, else <TYPE> EMPTY (singular)."""

    def mk(b, t):
        if b is None:
            return None
        g = _g(b)
        t = int(t)
        want = {1: G.POINT, 2: G.LINESTRING, 3: G.POLYGON}[t]
        multi_want = {1: G.MULTIPOINT, 2: G.MULTILINESTRING, 3: G.MULTIPOLYGON}[t]
        if g.tag == G.GEOMETRYCOLLECTION:
            parts = [l for l in g.flatten() if l.tag == want]
            if not parts:
                return _wkb(G.empty(multi_want))
            return _wkb(G.collect(parts, force_collection=False))
        if g.tag in (G.MULTIPOINT, G.MULTILINESTRING, G.MULTIPOLYGON):
            return b if g.tag == multi_want else _wkb(G.empty(multi_want))
        return b if g.tag == want else _wkb(G.empty(want, g.has_z, g.has_m))

    return pd.Series([mk(b, t) for b, t in zip(s, ty)])


@F.pandas_udf(T.BinaryType())
def st_collectionextract1(s: pd.Series) -> pd.Series:
    """1-arg ST_CollectionExtract: keep the highest-dimension non-empty
    leaves of a collection (reference st_collectionextract.cpp /
    test/sql/geometry/st_collectionextract.test); non-collection inputs
    return themselves unchanged."""

    def mk(b):
        if b is None:
            return None
        g = _g(b)
        if g.tag != G.GEOMETRYCOLLECTION:
            return b
        leaves = [l for l in g.flatten() if not l.is_empty()]
        if not leaves:
            return _wkb(G.empty(G.GEOMETRYCOLLECTION))
        dim = {G.POINT: 0, G.LINESTRING: 1, G.POLYGON: 2}
        best = max(dim[l.tag] for l in leaves)
        want = {0: G.POINT, 1: G.LINESTRING, 2: G.POLYGON}[best]
        return _wkb(G.collect([l for l in leaves if l.tag == want], force_collection=False))

    return s.map(mk)


# --------------------------------------------------------------------------
# transforms
# --------------------------------------------------------------------------

st_flipcoordinates = _unary_geom(A.flip_coordinates)
st_reverse = _unary_geom(A.reverse)
st_force2d = _unary_geom(lambda g: A.force_dims(g, False, False))


@F.pandas_udf(T.BinaryType())
def st_force3dz(s: pd.Series, z: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb(A.force_dims(_g(b), True, False, float(zz))) for b, zz in zip(s, z)]
    )


@F.pandas_udf(T.BinaryType())
def st_force3dm(s: pd.Series, m: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb(A.force_dims(_g(b), False, True, 0.0, float(mm))) for b, mm in zip(s, m)]
    )


@F.pandas_udf(T.BinaryType())
def st_force4d(s: pd.Series, z: pd.Series, m: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if b is None else _wkb(A.force_dims(_g(b), True, True, float(zz), float(mm)))
            for b, zz, mm in zip(s, z, m)
        ]
    )


@F.pandas_udf(T.BinaryType())
def st_removerepeatedpoints(s: pd.Series) -> pd.Series:
    return s.map(lambda b: None if b is None else _wkb(A.remove_repeated_points(_g(b))))


@F.pandas_udf(T.BinaryType())
def st_removerepeatedpoints_tol(s: pd.Series, tol: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb(A.remove_repeated_points(_g(b), float(t))) for b, t in zip(s, tol)]
    )


@F.pandas_udf(T.BinaryType())
def st_simplify(s: pd.Series, tol: pd.Series) -> pd.Series:
    return pd.Series([None if b is None else _wkb(A.simplify(_g(b), float(t))) for b, t in zip(s, tol)])


@F.pandas_udf(T.BinaryType())
def st_simplifypreservetopology(s: pd.Series, tol: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb(A.simplify(_g(b), float(t), True)) for b, t in zip(s, tol)]
    )


@F.pandas_udf(T.BinaryType())
def st_reduceprecision(s: pd.Series, grid: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb(A.reduce_precision(_g(b), float(t))) for b, t in zip(s, grid)]
    )


st_normalize = _unary_geom(A.normalize)
st_makevalid = _unary_geom(A.make_valid)
@F.pandas_udf(T.BinaryType())
def st_boundary(s: pd.Series) -> pd.Series:
    """NULL-returning variant of _unary_geom: boundary of a collection is
    NULL (A.boundary returns None there)."""

    def mk(b):
        if b is None:
            return None
        r = A.boundary(_g(b))
        return None if r is None else _wkb(r)

    return s.map(mk)
st_envelope = _unary_geom(A.envelope)
st_convexhull = _unary_geom(A.convex_hull)
st_pointonsurface = _unary_geom(A.point_on_surface)


@F.pandas_udf(T.BinaryType())
def st_linemerge(s: pd.Series) -> pd.Series:
    return s.map(lambda b: None if b is None else _wkb(A.line_merge(_g(b))))


@F.pandas_udf(T.BinaryType())
def st_linemerge_directed(s: pd.Series, directed: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb(A.line_merge(_g(b), bool(d))) for b, d in zip(s, directed)]
    )


@F.pandas_udf(T.BinaryType())
def st_buffer(s: pd.Series, radius: pd.Series) -> pd.Series:
    return pd.Series([None if b is None else _wkb(A.buffer(_g(b), float(r))) for b, r in zip(s, radius)])


@F.pandas_udf(T.BinaryType())
def st_buffer_nseg(s: pd.Series, radius: pd.Series, nseg: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else _wkb(A.buffer(_g(b), float(r), int(n))) for b, r, n in zip(s, radius, nseg)]
    )


@F.pandas_udf(T.BinaryType())
def st_buffer_style(
    s: pd.Series, radius: pd.Series, nseg: pd.Series, cap: pd.Series, join: pd.Series
) -> pd.Series:
    """ST_Buffer 5-arg overload: cap round|flat|square, join
    round|mitre|bevel (reference geos buffer entry with CAP_/JOIN_ enums)."""
    return pd.Series(
        [
            None if b is None else _wkb(A.buffer(_g(b), float(r), int(n), cap=str(c), join=str(j)))
            for b, r, n, c, j in zip(s, radius, nseg, cap, join)
        ]
    )


# --------------------------------------------------------------------------
# predicates (geos/functions/scalar/*.cpp)
# --------------------------------------------------------------------------

def _binary_pred(name, fn):
    """Predicate UDF with the vectorized point-batch fast path (see
    fastpath.py: a point side against points elementwise and against
    polygons in one flat pass); falls back to the per-row kernel. The one kernel
    for filters, SQL and the ``st_join`` recheck."""

    def u(a: pd.Series, b: pd.Series) -> pd.Series:
        from . import fastpath

        fast = fastpath.try_predicate_batch(name, a, b)
        if fast is not None:
            return fast
        return pd.Series(
            [None if (x is None or y is None) else fn(_g(x), _g(y)) for x, y in zip(a, b)]
        )

    u.__name__ = "st_" + name.replace("_", "")  # plans show st_within(...), not u(...)
    return F.pandas_udf(T.BooleanType())(u)


st_intersects = _binary_pred("intersects", A.intersects)
st_disjoint = _binary_pred("disjoint", A.disjoint)
st_contains = _binary_pred("contains", A.contains)
st_containsproperly = _binary(A.contains_properly, T.BooleanType())
st_within = _binary_pred("within", A.within)
st_covers = _binary_pred("covers", lambda a, b: A.covers(a, b))
st_coveredby = _binary_pred("covered_by", A.covered_by)
st_crosses = _binary(A.crosses, T.BooleanType())
st_overlaps = _binary(A.overlaps, T.BooleanType())
st_touches = _binary(A.touches, T.BooleanType())
st_equals = _binary(A.equals, T.BooleanType())


def _intersects_extent(a, b):
    ba, bb = A.bounds(a), A.bounds(b)
    if ba is None or bb is None:
        return False
    return not (ba[0] > bb[2] or ba[2] < bb[0] or ba[1] > bb[3] or ba[3] < bb[1])


st_intersects_extent = _binary(_intersects_extent, T.BooleanType())

st_intersection = _binary_geom(A.intersection)
st_union = _binary_geom(A.union)
st_difference = _binary_geom(A.difference)


# --------------------------------------------------------------------------
# sphere / spheroid  (st_distance_sphere.cpp, geographiclib module)
# --------------------------------------------------------------------------

EARTH_RADIUS_M = 6371000.0  # mean radius used for haversine
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1 - WGS84_F)
WGS84_AUTHALIC_R = 6371007.1809184747  # radius of sphere with WGS84's area


@F.pandas_udf(T.DoubleType())
def st_distance_sphere(a: pd.Series, b: pd.Series) -> pd.Series:
    """Haversine meters between two point GEOMETRYs. Axis order matches the
    reference: **x = latitude, y = longitude** (st_distance_sphere.cpp doc:
    "[latitude, longitude] axis order"; HaversineFunction(lat=a_val, ...),
    pinned by test/sql/geometry/st_distance_sphere.test)."""

    def hav(x, y):
        if x is None or y is None:
            return None
        ga, gb = _g(x), _g(y)
        if ga.tag != G.POINT or gb.tag != G.POINT:
            raise ValueError("ST_Distance_Sphere expects POINT geometries")
        return haversine_m(float(ga.data[1]), float(ga.data[0]), float(gb.data[1]), float(gb.data[0]))

    return pd.Series([hav(x, y) for x, y in zip(a, b)])


def haversine_m(lon1, lat1, lon2, lat2, r=EARTH_RADIUS_M):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp = p2 - p1
    dl = math.radians(lon2 - lon1)
    h = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
    return 2 * r * math.asin(math.sqrt(h))


def vincenty_m(lon1, lat1, lon2, lat2, tol=1e-12, max_iter=200):
    """Vincenty inverse on WGS84 (reference uses GeographicLib; Vincenty is
    accurate to ~0.5 mm for non-antipodal pairs)."""
    if lon1 == lon2 and lat1 == lat2:
        return 0.0
    U1 = math.atan((1 - WGS84_F) * math.tan(math.radians(lat1)))
    U2 = math.atan((1 - WGS84_F) * math.tan(math.radians(lat2)))
    L = math.radians(lon2 - lon1)
    lam = L
    sinU1, cosU1 = math.sin(U1), math.cos(U1)
    sinU2, cosU2 = math.sin(U2), math.cos(U2)
    for _ in range(max_iter):
        sinl, cosl = math.sin(lam), math.cos(lam)
        sin_sigma = math.sqrt((cosU2 * sinl) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cosl) ** 2)
        if sin_sigma == 0:
            return 0.0
        cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cosl
        sigma = math.atan2(sin_sigma, cos_sigma)
        sin_alpha = cosU1 * cosU2 * sinl / sin_sigma
        cos2_alpha = 1 - sin_alpha ** 2
        cos2sm = cos_sigma - 2 * sinU1 * sinU2 / cos2_alpha if cos2_alpha != 0 else 0.0
        C = WGS84_F / 16 * cos2_alpha * (4 + WGS84_F * (4 - 3 * cos2_alpha))
        lam_prev = lam
        lam = L + (1 - C) * WGS84_F * sin_alpha * (
            sigma + C * sin_sigma * (cos2sm + C * cos_sigma * (-1 + 2 * cos2sm ** 2))
        )
        if abs(lam - lam_prev) < tol:
            break
    u2 = cos2_alpha * (WGS84_A ** 2 - WGS84_B ** 2) / WGS84_B ** 2
    A_ = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B_ = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    dsig = B_ * sin_sigma * (
        cos2sm
        + B_ / 4 * (cos_sigma * (-1 + 2 * cos2sm ** 2) - B_ / 6 * cos2sm * (-3 + 4 * sin_sigma ** 2) * (-3 + 4 * cos2sm ** 2))
    )
    return WGS84_B * A_ * (sigma - dsig)


def _point_pairs_to_arrays(a: pd.Series, b: pd.Series):
    """Extract (lon1, lat1, lon2, lat2) arrays + validity mask from two
    WKB point series (one parse pass, math fully vectorized after).
    Reference axis order: x = latitude, y = longitude (the geographiclib
    module passes a_val straight into geod.Inverse's lat slot,
    st_distance_spheroid.cpp:30)."""
    n = len(a)
    out = np.full((n, 4), np.nan)
    for i, (x, y) in enumerate(zip(a, b)):
        if x is None or y is None:
            continue
        ga, gb = _g(x), _g(y)
        if ga.data is None or gb.data is None:
            continue
        out[i, 0], out[i, 1] = float(ga.data[1]), float(ga.data[0])
        out[i, 2], out[i, 3] = float(gb.data[1]), float(gb.data[0])
    valid = ~np.isnan(out[:, 0])
    return out, valid


@F.pandas_udf(T.DoubleType())
def st_distance_spheroid(a: pd.Series, b: pd.Series) -> pd.Series:
    """Geodesic distance (m) between two points — vectorized Vincenty over
    the whole Arrow batch (st_distance_spheroid.cpp semantics)."""
    from . import geodesy

    out, valid = _point_pairs_to_arrays(a, b)
    res = np.full(len(a), np.nan)
    if valid.any():
        v = out[valid]
        res[valid] = geodesy.geodesic_distance(v[:, 0], v[:, 1], v[:, 2], v[:, 3])
    return pd.Series([None if not m else float(r) for m, r in zip(valid, res)])


@F.pandas_udf(T.BooleanType())
def st_dwithin_spheroid(a: pd.Series, b: pd.Series, d: pd.Series) -> pd.Series:
    from . import geodesy

    out, valid = _point_pairs_to_arrays(a, b)
    dd = pd.to_numeric(d, errors="coerce").to_numpy(dtype=np.float64)
    valid = valid & ~np.isnan(dd)
    res = np.zeros(len(a), dtype=bool)
    if valid.any():
        v = out[valid]
        res[valid] = (
            geodesy.geodesic_distance(v[:, 0], v[:, 1], v[:, 2], v[:, 3]) <= dd[valid]
        )
    return pd.Series([None if not m else bool(r) for m, r in zip(valid, res)])


def _latlon_to_lonlat(arr: np.ndarray) -> np.ndarray:
    """Geometry coords use the reference's [lat, lon] axis order
    (AddPoint(x=lat, y=lon), st_area_spheroid.cpp:58); geodesy.py kernels
    take lon/lat columns — swap the first two columns."""
    a = np.asarray(arr, dtype=np.float64)[:, :2]
    return a[:, ::-1]


def spheroid_area(g: G.Geometry) -> float:
    """Exact ellipsoidal polygon area (geodesic edges) — Karney's
    Gauss-Bonnet + boundary-integral decomposition, see geodesy.py.
    Matches GeographicLib semantics (st_area_spheroid.cpp:151-156) to
    ~1e-9 relative (previous authalic-sphere approximation was ~1e-5).
    Axis order matches the reference: x = latitude, y = longitude."""
    from . import geodesy

    g2 = g.map_coords(_latlon_to_lonlat)
    return geodesy.geodesic_polygon_area(g2)


def spheroid_length(g: G.Geometry) -> float:
    from . import geodesy

    return float(
        sum(
            geodesy.geodesic_segment_lengths(_latlon_to_lonlat(l.data)).sum()
            for l in g.flatten()
            if l.tag == G.LINESTRING
        )
    )


def spheroid_perimeter(g: G.Geometry) -> float:
    from . import geodesy

    total = 0.0
    for leaf in g.flatten():
        if leaf.tag != G.POLYGON:
            continue
        for ring in leaf.data:
            total += float(geodesy.geodesic_segment_lengths(_latlon_to_lonlat(ring)).sum())
    return total


st_area_spheroid = _unary(spheroid_area, T.DoubleType())
st_length_spheroid = _unary(spheroid_length, T.DoubleType())
st_perimeter_spheroid = _unary(spheroid_perimeter, T.DoubleType())


# --------------------------------------------------------------------------
# space-filling curves & tiling  (st_hilbert.cpp:241-250, st_quadkey.cpp)
# --------------------------------------------------------------------------

HILBERT_ORDER = 16  # 65536 x 65536 grid, index fits in uint32


def hilbert_xy_to_d(xs: np.ndarray, ys: np.ndarray, order: int = HILBERT_ORDER) -> np.ndarray:
    """Vectorized Hilbert curve index for integer grid coords (numpy)."""
    x = xs.astype(np.int64).copy()
    y = ys.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant: flip when (ry==0, rx==1), then swap x/y when ry==0
        swap = ry == 0
        flip = swap & (rx == 1)
        x = np.where(flip, s - 1 - x, x)
        y = np.where(flip, s - 1 - y, y)
        xt = x.copy()
        x = np.where(swap, y, x)
        y = np.where(swap, xt, y)
        s >>= 1
    return d


def hilbert_scaled(xs, ys, min_x, min_y, max_x, max_y, order=HILBERT_ORDER):
    """Map doubles in a box to the Hilbert index (reference overloads take an
    explicit bounds box, st_hilbert.cpp:241-250). A NaN grid value maps to
    0 (NaN has no int64 cast), ±inf to the curve edge; callers mask the
    NULL rows themselves."""
    side = (1 << order) - 1
    wx = max(max_x - min_x, 1e-300)
    wy = max(max_y - min_y, 1e-300)
    # fmax/fmin drop a NaN operand, so they clip like np.clip and send NaN to 0
    gx = np.fmin(np.fmax(((np.asarray(xs, dtype=np.float64) - min_x) / wx) * side, 0), side).astype(np.int64)
    gy = np.fmin(np.fmax(((np.asarray(ys, dtype=np.float64) - min_y) / wy) * side, 0), side).astype(np.int64)
    return hilbert_xy_to_d(gx, gy, order)


@F.pandas_udf(T.LongType())
def st_hilbert(x: pd.Series, y: pd.Series, min_x: pd.Series, min_y: pd.Series, max_x: pd.Series, max_y: pd.Series) -> pd.Series:
    d = hilbert_scaled(
        x.to_numpy(np.float64),
        y.to_numpy(np.float64),
        float(min_x.iloc[0]),
        float(min_y.iloc[0]),
        float(max_x.iloc[0]),
        float(max_y.iloc[0]),
    )
    out = pd.Series(d)
    out[x.isna() | y.isna()] = None
    return out


@F.pandas_udf(T.LongType())
def st_hilbert_geom(s: pd.Series, min_x: pd.Series, min_y: pd.Series, max_x: pd.Series, max_y: pd.Series) -> pd.Series:
    """GEOMETRY overload: Hilbert index of the bbox center."""
    cx, cy = [], []
    for b in s:
        bb = A.bounds(_g(b)) if b is not None else None
        if bb is None:
            cx.append(np.nan)
            cy.append(np.nan)
        else:
            cx.append((bb[0] + bb[2]) / 2)
            cy.append((bb[1] + bb[3]) / 2)
    d = hilbert_scaled(np.asarray(cx), np.asarray(cy), float(min_x.iloc[0]), float(min_y.iloc[0]), float(max_x.iloc[0]), float(max_y.iloc[0]))
    out = pd.Series(d)
    out[np.isnan(cx)] = None
    return out


def quadkey_str(lon: float, lat: float, level: int) -> str:
    """Bing maps quadkey (reference st_quadkey.cpp)."""
    lat = min(max(lat, -85.05112878), 85.05112878)
    x = (lon + 180.0) / 360.0
    sinlat = math.sin(math.radians(lat))
    y = 0.5 - math.log((1 + sinlat) / (1 - sinlat)) / (4 * math.pi)
    n = 1 << level
    tx = min(n - 1, max(0, int(x * n)))
    ty = min(n - 1, max(0, int(y * n)))
    out = []
    for i in range(level, 0, -1):
        digit = 0
        mask = 1 << (i - 1)
        if tx & mask:
            digit += 1
        if ty & mask:
            digit += 2
        out.append(str(digit))
    return "".join(out)


@F.pandas_udf(T.StringType())
def st_quadkey(lon: pd.Series, lat: pd.Series, level: pd.Series) -> pd.Series:
    return pd.Series(
        [
            None if (a is None or b is None or l is None) else quadkey_str(float(a), float(b), int(l))
            for a, b, l in zip(lon, lat, level)
        ]
    )


@F.pandas_udf(T.StringType())
def st_quadkey_geom(s: pd.Series, level: pd.Series) -> pd.Series:
    def f(b, l):
        if b is None or l is None:
            return None
        g = _g(b)
        if g.tag != G.POINT or g.is_empty():
            raise ValueError("ST_QuadKey expects a POINT")
        return quadkey_str(float(g.data[0]), float(g.data[1]), int(l))

    return pd.Series([f(b, l) for b, l in zip(s, level)])
