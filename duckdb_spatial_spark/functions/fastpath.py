"""Vectorized batch fast paths for the hot UDF shapes.

The dominant spatial predicates at scale pair a point column with regions:
``pred(point_column, CONSTANT region)`` in a filter, and
``pred(point, polygon)`` per candidate pair in the ``st_join`` recheck (the
reference serves both from one executor with a prepared-geometry fast
path, ``geos_executor.hpp:28-67``). When an Arrow batch arrives where

  * one side is entirely 21-byte 2D point WKBs -> coordinates decode in ONE
    numpy view (no per-row parse), and
  * the other side is points too -> decided elementwise, or else its rows
    are grouped by distinct geometry (``pd.factorize``; a constant batch is
    one group) -> each geometry parses once,

the predicate evaluates as one numpy broadcast of each group's points over
its ring edges instead of a Python loop per row. A group that is not a
point, polygon or multipolygon sends the whole batch back to the generic
per-row path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..geo import algorithms as A
from ..geo import geom as G

_POINT_PREFIX = b"\x01\x01\x00\x00\x00"


def points_xy(s: pd.Series):
    """(xs, ys, valid_mask) if every non-null value is a 21-byte 2D point
    WKB; else None."""
    vals = s.to_numpy(dtype=object)
    n = len(vals)
    if n == 0:
        return None
    # fast path: no nulls -> one C-level join + vectorized validation
    try:
        joined = b"".join(vals)
    except TypeError:
        return _points_xy_with_nulls(vals, n)
    if len(joined) != 21 * n:
        return None
    arr = np.frombuffer(joined, dtype=np.uint8).reshape(n, 21)
    prefix = np.frombuffer(_POINT_PREFIX, dtype=np.uint8)
    if not (arr[:, :5] == prefix).all():
        return None
    xs = arr[:, 5:13].copy().view("<f8").ravel()
    ys = arr[:, 13:21].copy().view("<f8").ravel()
    return xs, ys, np.ones(n, dtype=bool)


def _points_xy_with_nulls(vals, n):
    mask = np.ones(n, dtype=bool)
    buf = bytearray()
    for i, v in enumerate(vals):
        if v is None:
            mask[i] = False
            buf.extend(b"\0" * 21)
            continue
        b = bytes(v)
        if len(b) != 21 or not b.startswith(_POINT_PREFIX):
            return None
        buf.extend(b)
    arr = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(n, 21)
    xs = arr[:, 5:13].copy().view("<f8").ravel()
    ys = arr[:, 13:21].copy().view("<f8").ravel()
    return xs, ys, mask


def bbox_arrays(s: pd.Series):
    """Per-row bounds of a WKB series as 4 float64 arrays (NaN = null/EMPTY).

    Point batches decode in one numpy view; anything else falls back to a
    per-row parse. One call per batch — callers use this inside a
    mapInPandas barrier so the decode runs exactly once per row regardless
    of how many plan operators reference the bbox (Catalyst re-expands
    projection-level UDF references otherwise)."""
    n = len(s)
    pa = points_xy(s)
    if pa is not None:
        xs, ys, mask = pa
        if not mask.all():
            xs = np.where(mask, xs, np.nan)
            ys = np.where(mask, ys, np.nan)
        return xs, ys, xs.copy(), ys.copy()
    from .udfs import _g

    mnx = np.full(n, np.nan)
    mny = np.full(n, np.nan)
    mxx = np.full(n, np.nan)
    mxy = np.full(n, np.nan)
    for i, b in enumerate(s):
        if b is None:
            continue
        bb = A.bounds(_g(b))
        if bb is None:
            continue
        mnx[i], mny[i], mxx[i], mxy[i] = bb
    return mnx, mny, mxx, mxy


def box_flags(s: pd.Series, mnx, mny, mxx, mxy) -> np.ndarray:
    """Per-row "solid axis-aligned rectangle" flag for a WKB series.

    True when the geometry IS the (non-degenerate) rectangle of its own
    bbox — a closed 5-vertex single-ring polygon, every edge
    axis-parallel, vertex extremes equal to the given bounds. Any vertex
    order / winding / starting corner qualifies. Such a geometry needs no
    exact spatial test at all: containment/overlap of the OTHER side's
    bbox in it decides within/intersects (the reference caches exactly
    this through its bbox'd GEOMETRY header, ``geometry_type.hpp:100-146``).
    One vectorized pass over the 93-byte candidates; everything else False.
    """
    vals = s.to_numpy(dtype=object)
    n = len(vals)
    flags = np.zeros(n, dtype=bool)
    cand = [i for i, w in enumerate(vals) if w is not None and len(w) == 93]
    if not cand:
        return flags
    n93 = len(cand)
    joined = b"".join(bytes(vals[i]) for i in cand)
    got = np.frombuffer(joined, dtype=np.uint8).reshape(n93, 93)
    hdr = np.zeros(13, dtype=np.uint8)
    hdr[0] = 1  # little-endian
    hdr[1] = 3  # wkbPolygon
    hdr[5] = 1  # one ring
    hdr[9] = 5  # five points (closed)
    hdr_ok = (got[:, :13] == hdr).all(axis=1)
    ring = got[:, 13:93].copy().view("<f8").reshape(n93, 10)
    xs_, ys_ = ring[:, 0::2], ring[:, 1::2]
    closed = (xs_[:, 0] == xs_[:, 4]) & (ys_[:, 0] == ys_[:, 4])
    edge_ax = ((xs_[:, :4] == xs_[:, 1:]) | (ys_[:, :4] == ys_[:, 1:])).all(axis=1)
    ci = np.asarray(cand)
    ext_ok = (
        (xs_[:, :4].min(axis=1) == mnx[ci])
        & (ys_[:, :4].min(axis=1) == mny[ci])
        & (xs_[:, :4].max(axis=1) == mxx[ci])
        & (ys_[:, :4].max(axis=1) == mxy[ci])
        & (mnx[ci] < mxx[ci])
        & (mny[ci] < mxy[ci])
    )
    flags[ci[hdr_ok & closed & edge_ax & ext_ok]] = True
    return flags


def ring_state(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized ray cast: 0 outside, 1 boundary, 2 inside (per point)."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    X = xs[:, None]
    Y = ys[:, None]
    cross = (x2 - x1) * (Y - y1) - (y2 - y1) * (X - x1)
    on = (
        (cross == 0)
        & (X >= np.minimum(x1, x2))
        & (X <= np.maximum(x1, x2))
        & (Y >= np.minimum(y1, y2))
        & (Y <= np.maximum(y1, y2))
    ).any(axis=1)
    cond = ((y1 <= Y) & (y2 > Y)) | ((y2 <= Y) & (y1 > Y))
    dy = y2 - y1
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (Y - y1) * (x2 - x1) / np.where(dy == 0, np.inf, dy)
    inside = ((cond & (xint > X)).sum(axis=1) % 2) == 1
    return np.where(on, 1, np.where(inside, 2, 0)).astype(np.int8)


def polygon_state(xs: np.ndarray, ys: np.ndarray, poly: G.Geometry) -> np.ndarray:
    """Point-in-polygon state for a batch vs one polygon (holes honored)."""
    st = ring_state(xs, ys, poly.data[0])
    for hole in poly.data[1:]:
        h = ring_state(xs, ys, hole)
        st = np.where(h == 2, 0, np.where((h == 1) & (st == 2), 1, st))
    return st


def multipolygon_state(xs, ys, g: G.Geometry):
    st = np.zeros(len(xs), dtype=np.int8)
    any_poly = False
    for leaf in g.flatten():
        if leaf.tag != G.POLYGON:
            return None  # mixed geometry: no fast path
        any_poly = True
        st = np.maximum(st, polygon_state(xs, ys, leaf))
    return st if any_poly else None


# predicate name -> fn(state) for (point batch, polygon); point-vs-point
# pairs take state 2 where equal, else 0
_PT_IN_POLY = {
    "intersects": lambda st: st >= 1,
    "within": lambda st: st == 2,
    "covered_by": lambda st: st >= 1,
    "disjoint": lambda st: st == 0,
}
# (polygon, point batch) orientation
_POLY_HAS_PT = {
    "intersects": lambda st: st >= 1,
    "contains": lambda st: st == 2,
    "covers": lambda st: st >= 1,
    "disjoint": lambda st: st == 0,
}


def try_predicate_batch(name: str, a: pd.Series, b: pd.Series):
    """Vectorized result Series or None (fall back to per-row)."""
    for pts, other, table in ((a, b, _PT_IN_POLY), (b, a, _POLY_HAS_PT)):
        p = points_xy(pts) if name in table else None
        r = None if p is None else _vs_other(p, other, _eq_state, _poly_state_or_none)
        if r is not None:
            return _mask_series(table[name](r[0]), r[1])
    return None


def try_distance_batch(a: pd.Series, b: pd.Series):
    """Vectorized distance from a point batch to point geometries, else None."""
    pa = points_xy(a)
    r = None if pa is None else _vs_other(pa, b, _hypot, lambda xs, ys, g: None)
    if r is None:
        return None
    d, valid = r
    return _mask_series(d, valid & ~np.isnan(d))  # NaN: an EMPTY point


def _vs_other(p, other: pd.Series, point_fn, poly_fn):
    """Per-row values of the point batch ``p`` against ``other`` and their
    validity (False where either side is NULL), or None to fall back.

    ``point_fn(xs, ys, ox, oy)`` decides point pairs elementwise (an EMPTY
    point is NaN, NaN); ``poly_fn(xs, ys, g)`` decides points against one
    other geometry, or returns None. When ``other`` is a point batch too it
    is one elementwise pass; else its rows are grouped by distinct WKB value
    and each group is decided in one call."""
    from .udfs import _g

    xs, ys, valid = p
    q = points_xy(other)
    if q is not None:
        return point_fn(xs, ys, q[0], q[1]), valid & q[2]
    codes, uniq = pd.factorize(other)  # NULL -> -1, in no group
    order = np.argsort(codes, kind="stable")
    starts = np.searchsorted(codes[order], np.arange(len(uniq) + 1))
    out = np.zeros(len(xs))
    for k, w in enumerate(uniq):
        ii = order[starts[k]:starts[k + 1]]
        g = _g(w)
        if g.tag == G.POINT:
            ox, oy = (np.nan, np.nan) if g.is_empty() else (g.data[0], g.data[1])
            v = point_fn(xs[ii], ys[ii], ox, oy)
        else:
            v = poly_fn(xs[ii], ys[ii], g)
        if v is None:
            return None
        out[ii] = v
    return out, valid & (codes >= 0)


def _eq_state(xs, ys, ox, oy):
    return np.where((xs == ox) & (ys == oy), 2, 0)


def _hypot(xs, ys, ox, oy):
    return np.hypot(xs - ox, ys - oy)


def _poly_state_or_none(xs, ys, g: G.Geometry):
    if g.tag == G.POLYGON and g.data:
        return polygon_state(xs, ys, g)
    if g.tag in (G.MULTIPOLYGON, G.GEOMETRYCOLLECTION):
        return multipolygon_state(xs, ys, g)
    return None


def _mask_series(values: np.ndarray, mask: np.ndarray) -> pd.Series:
    out = pd.Series(values)
    if not mask.all():
        out = out.astype(object)
        out[~mask] = None
    return out
