"""The vectorized point-batch lane (functions/fastpath.py) equals the
per-row kernel row for row — the one exact-predicate kernel that filters,
SQL and the st_join recheck all run. Spark-free: the lane is called on
pandas Series exactly as the ST_* pandas UDFs call it."""

import math
import struct
from unittest import mock

import pandas as pd
from hypothesis import example, given, settings, strategies as st

from duckdb_spatial_spark.functions import fastpath
from duckdb_spatial_spark.geo import algorithms as A, from_wkb, geom as G, to_wkb

PREDICATES = {
    "intersects": A.intersects,
    "within": A.within,
    "covered_by": A.covered_by,
    "contains": A.contains,
    "covers": A.covers,
    "disjoint": A.disjoint,
}

# a half-unit grid against integer-vertex regions: points land on
# vertices and on edges (axis-parallel and diagonal) often and exactly
half = st.integers(-2, 14).map(lambda v: v / 2)
grid = st.integers(0, 6).map(float)


@st.composite
def point_values(draw):
    """A point-side value: a point WKB, NULL, or POINT EMPTY."""
    kind = draw(st.sampled_from(["pt"] * 6 + ["null", "empty"]))
    if kind == "null":
        return None
    if kind == "empty":
        return to_wkb(G.empty(G.POINT))
    return to_wkb(G.point(draw(half), draw(half)))


def _holed(x0, y0, w, h):
    outer = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
    hole = [[x0 + 1, y0 + 1], [x0 + 1, y0 + h - 1], [x0 + w - 1, y0 + h - 1],
            [x0 + w - 1, y0 + 1], [x0 + 1, y0 + 1]]
    return G.polygon([outer, hole])


def _pinhole(x0, y0):
    """A box with a one-vertex hole at its centre: a point on the hole's
    vertex is on the boundary."""
    return G.polygon([G.box_polygon(x0, y0, x0 + 2, y0 + 2).data[0], [[x0 + 1, y0 + 1]]])


@st.composite
def regions(draw):
    kind = draw(st.sampled_from(
        ["box", "triangle", "holed", "multi", "multi_holed", "degenerate", "pinhole", "point", "empty",
         "polygon_empty"]
    ))
    if kind == "box":
        x0, y0 = draw(st.integers(0, 4)), draw(st.integers(0, 4))
        return G.box_polygon(x0, y0, x0 + draw(st.integers(1, 2)), y0 + draw(st.integers(1, 2)))
    if kind == "triangle":
        while True:
            (ax, ay), (bx, by), (cx, cy) = (draw(st.tuples(grid, grid)) for _ in range(3))
            if (bx - ax) * (cy - ay) != (by - ay) * (cx - ax):
                return G.polygon([[[ax, ay], [bx, by], [cx, cy], [ax, ay]]])
    if kind == "holed":
        x0, y0 = draw(st.integers(0, 2)), draw(st.integers(0, 2))
        return _holed(x0, y0, draw(st.integers(3, 4)), draw(st.integers(3, 4)))
    if kind == "multi":
        y0 = draw(st.integers(0, 4))
        return G.collect([G.box_polygon(0, y0, 2, y0 + 2), G.box_polygon(3, 0, 3 + draw(st.integers(1, 3)), 6)])
    if kind == "multi_holed":  # a holed part beside a plain one
        x0 = draw(st.integers(0, 3))
        return G.collect([_holed(x0, 0, 3, draw(st.integers(3, 4))), G.box_polygon(x0, 5, x0 + 2, 6)])
    if kind == "degenerate":  # a repeated vertex and a collinear one on the shell
        x0, y0 = draw(st.integers(0, 3)), draw(st.integers(0, 3))
        return G.polygon([[[x0, y0], [x0, y0], [x0 + 1, y0], [x0 + 2, y0], [x0 + 2, y0 + 2],
                           [x0 + 1, y0 + 1], [x0, y0 + 2], [x0, y0 + 1], [x0, y0]]])
    if kind == "pinhole":
        return _pinhole(draw(st.integers(0, 3)), draw(st.integers(0, 3)))
    if kind == "point":
        return G.point(draw(grid), draw(grid))
    if kind == "polygon_empty":
        return G.empty(G.POLYGON)
    return G.empty(G.POINT)


@st.composite
def batches(draw):
    """(point side, region side) Series. A constant batch repeats one
    region on every row; otherwise rows draw from a pool of up to 40
    regions (so groups repeat, and point and polygon groups mix) and the
    region side may be NULL."""
    n = draw(st.integers(1, 60))
    pts = [draw(point_values()) for _ in range(n)]
    pool = [to_wkb(g) for g in draw(st.lists(regions(), min_size=1, max_size=draw(st.sampled_from([4, 40]))))]
    if draw(st.booleans()):
        other = [pool[0]] * n
    else:
        other = [draw(st.sampled_from(pool + [None])) for _ in range(n)]
    return pd.Series(pts, dtype=object), pd.Series(other, dtype=object)


def _per_row(fn, a, b):
    return [None if (x is None or y is None) else fn(from_wkb(x), from_wkb(y)) for x, y in zip(a, b)]


def _values(s):
    return [None if v is None else bool(v) for v in s]


@given(batches())
@example((pd.Series([to_wkb(G.point(1, 1)), to_wkb(G.point(0.5, 1))], dtype=object),
          pd.Series([to_wkb(_pinhole(0, 0))] * 2, dtype=object)))
@settings(max_examples=300, deadline=None)
def test_predicate_batch_matches_per_row_kernel(batch):
    pts, other = batch
    for name, fn in PREDICATES.items():
        for a, b, table in ((pts, other, fastpath._PT_IN_POLY), (other, pts, fastpath._POLY_HAS_PT)):
            fast = fastpath.try_predicate_batch(name, a, b)
            if name in table:  # the regions are points, polygons and multipolygons only
                assert fast is not None, name
            if fast is not None:
                assert _values(fast) == _per_row(fn, a, b), name


@given(batches(), st.integers(1, 24))
@settings(max_examples=150, deadline=None)
def test_predicate_batch_in_small_passes_matches_per_row_kernel(batch, cap):
    """A pair-edge cap below the batch's pair x edge count splits the flat
    point-in-polygon pass; the result is the same."""
    pts, other = batch
    with mock.patch.object(fastpath, "_PAIR_EDGE_CAP", cap):
        for name, fn in PREDICATES.items():
            for a, b in ((pts, other), (other, pts)):
                fast = fastpath.try_predicate_batch(name, a, b)
                if fast is not None:
                    assert _values(fast) == _per_row(fn, a, b), name


@given(batches(), st.sampled_from([G.linestring([[0, 0], [6, 6]]), G.linestring([[1, 0], [1, 3], [4, 3]])]))
@settings(max_examples=100, deadline=None)
def test_batch_with_a_linestring_falls_back(batch, line):
    pts, other = batch
    mixed = pd.concat([other, pd.Series([to_wkb(line)], dtype=object)], ignore_index=True)
    pts = pd.concat([pts, pd.Series([to_wkb(G.point(1, 1))], dtype=object)], ignore_index=True)
    for name in fastpath._PT_IN_POLY:
        assert fastpath.try_predicate_batch(name, pts, mixed) is None, name
    for name in fastpath._POLY_HAS_PT:
        assert fastpath.try_predicate_batch(name, mixed, pts) is None, name
    assert fastpath.try_distance_batch(pts, mixed) is None


def _big_endian(wkb):
    """The same point as big-endian WKB: not the 21-byte little-endian form
    the elementwise lane reads, so the batch goes through grouping."""
    g = from_wkb(wkb)
    x, y = (math.nan, math.nan) if g.is_empty() else (float(g.data[0]), float(g.data[1]))
    return b"\x00\x00\x00\x00\x01" + struct.pack(">dd", x, y)


@given(st.lists(point_values(), min_size=1, max_size=30), st.data())
@settings(max_examples=200, deadline=None)
def test_distance_batch_matches_per_row_kernel(pts, data):
    n = len(pts)
    others = data.draw(st.lists(point_values(), min_size=n, max_size=n))
    if data.draw(st.booleans()):  # constant batch
        others = [others[0]] * n
    a = pd.Series(pts, dtype=object)
    for b in (pd.Series(others, dtype=object),  # both point batches: elementwise
              pd.Series([None if v is None else _big_endian(v) for v in others], dtype=object)):
        fast = fastpath.try_distance_batch(a, b)
        assert fast is not None
        for got, want in zip(fast, _per_row(A.distance, a, b)):
            assert (got is None) == (want is None)
            assert want is None or math.isclose(got, want, rel_tol=1e-12, abs_tol=1e-12)
