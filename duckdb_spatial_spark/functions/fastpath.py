"""Vectorized batch fast paths for the hot UDF shapes.

The dominant spatial predicates at scale pair a point column with regions:
``pred(point_column, CONSTANT region)`` in a filter, and
``pred(point, polygon)`` per candidate pair in the ``st_join`` recheck (the
reference serves both from one executor with a prepared-geometry fast
path, ``geos_executor.hpp:28-67``). When an Arrow batch arrives where

  * one side is entirely 21-byte 2D point WKBs -> coordinates decode in ONE
    numpy view (no per-row parse), and
  * the other side is points too -> decided elementwise, or else each of
    its distinct geometries (``pd.factorize``; a constant batch is one)
    parses once,

the predicate evaluates in a fixed number of numpy calls per batch, not a
Python loop per row or per distinct geometry: rows against a point gather
its coordinates into one elementwise pass, and rows against a Polygon,
MultiPolygon or polygon-only collection go through ONE flat
point-in-polygon pass — every ring of every distinct region laid out as
flat edge arrays, each pair expanded to its region's edges, one ray cast
and on-edge test over all of them, reduced per ring, part and pair with
``np.bincount``. Any other geometry sends the whole batch back to the
generic per-row path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..geo import algorithms as A
from ..geo import geom as G

_POINT_PREFIX = b"\x01\x01\x00\x00\x00"


def points_xy(s: pd.Series):
    """(xs, ys, valid_mask) if every non-null value is a 21-byte 2D point
    WKB; else None. One C-level join of the non-null values and one numpy
    view decode them; NULL rows read (0, 0) and False in the mask."""
    vals = s.to_numpy(dtype=object)
    n = len(vals)
    if n == 0:
        return None
    mask = ~pd.isna(vals)
    present = vals if mask.all() else vals[mask]
    m = len(present)
    try:
        # lengths first: joining a batch of large polygons only to reject it
        # would copy the whole batch
        if not (np.fromiter(map(len, present), np.int64, m) == 21).all():
            return None
        joined = b"".join(present)
    except TypeError:
        return None
    if len(joined) != 21 * m:
        return None
    arr = np.frombuffer(joined, dtype=np.uint8).reshape(m, 21)
    if not (arr[:, :5] == np.frombuffer(_POINT_PREFIX, dtype=np.uint8)).all():
        return None
    xs, ys = np.zeros(n), np.zeros(n)
    xs[mask] = arr[:, 5:13].copy().view("<f8").ravel()
    ys[mask] = arr[:, 13:21].copy().view("<f8").ravel()
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

# most (pair, edge) entries one pass of the flat kernel expands at once:
# its temporaries stay near 256 KB each (cache-sized: on a pip_join-shaped
# batch of 10,000 pairs, 2^15 ran faster than 2^18 or 2^20), whatever the
# batch size; a pass holds more only when one polygon alone has more edges
_PAIR_EDGE_CAP = 1 << 15


def try_predicate_batch(name: str, a: pd.Series, b: pd.Series):
    """Vectorized result Series or None (fall back to per-row)."""
    for pts, other, table in ((a, b, _PT_IN_POLY), (b, a, _POLY_HAS_PT)):
        p = points_xy(pts) if name in table else None
        r = None if p is None else _vs_other(p, other, _eq_state, polygons=True)
        if r is not None:
            return _mask_series(table[name](r[0]), r[1])
    return None


def try_distance_batch(a: pd.Series, b: pd.Series):
    """Vectorized distance from a point batch to point geometries, else None."""
    pa = points_xy(a)
    r = None if pa is None else _vs_other(pa, b, _hypot, polygons=False)
    if r is None:
        return None
    d, valid = r
    return _mask_series(d, valid & ~np.isnan(d))  # NaN: an EMPTY point


def _vs_other(p, other: pd.Series, point_fn, polygons: bool):
    """Per-row values of the point batch ``p`` against ``other`` and their
    validity (False where either side is NULL), or None to fall back.

    ``point_fn(xs, ys, ox, oy)`` decides point pairs elementwise (an EMPTY
    point is NaN, NaN). When ``other`` is a point batch too it is one
    elementwise pass. Else each distinct WKB value parses once; rows
    against a point gather its coordinates into the same elementwise pass,
    and with ``polygons=True`` rows against a polygonal geometry take its
    point-in-polygon state from one flat pass (:func:`_pip_states`). Any
    other geometry falls back."""
    from .udfs import _g

    xs, ys, valid = p
    q = points_xy(other)
    if q is not None:
        return point_fn(xs, ys, q[0], q[1]), valid & q[2]
    codes, uniq = pd.factorize(other)  # NULL -> -1, in no group
    regions = [_region(_g(w)) for w in uniq]  # the one parse per distinct geometry
    if None in regions:
        return None
    ox, oy, parts = zip(*regions) if regions else ((), (), ())
    is_pt = np.array([ps is None for ps in parts], dtype=bool)
    if not polygons and not is_pt.all():
        return None
    out = np.zeros(len(xs))
    # code -1 (NULL) reads the appended False: in neither lane
    pt = np.flatnonzero(np.append(is_pt, False)[codes])
    k = codes[pt]
    out[pt] = point_fn(xs[pt], ys[pt], np.asarray(ox, dtype=float)[k], np.asarray(oy, dtype=float)[k])
    pp = np.flatnonzero(np.append(~is_pt, False)[codes] & valid)
    if len(pp):
        out[pp] = _pip_states(xs[pp], ys[pp], codes[pp], _layout(parts))
    return out, valid & (codes >= 0)


def _region(g: G.Geometry):
    """(x, y, None) for a point (NaN, NaN when EMPTY), (NaN, NaN, parts)
    for a polygonal geometry — a Polygon, MultiPolygon or polygon-only
    collection, its non-empty polygons as ``parts`` — else None."""
    if g.tag == G.POINT:
        return (np.nan, np.nan, None) if g.is_empty() else (g.data[0], g.data[1], None)
    if g.tag == G.POLYGON:
        return np.nan, np.nan, [g] if g.data else []
    if g.tag not in (G.MULTIPOLYGON, G.GEOMETRYCOLLECTION):
        return None
    parts = list(g.flatten())
    if any(leaf.tag != G.POLYGON for leaf in parts):
        return None
    return np.nan, np.nan, parts


def _layout(parts):
    """Every ring of every polygonal geometry as flat arrays.

    ``parts[k]`` lists the polygons of distinct geometry k (None for a
    point, [] for an EMPTY one). A geometry's parts, rings and edges are
    contiguous, so a pair reaches its polygon's through a start and a
    count. Returns a dict: per edge its ``x1 y1 y2 dx dy`` and bbox and its
    ring's index within the geometry (``e_ring``); per ring its part's
    index within the geometry (``r_part``) and ``hole``; per geometry the
    ``*_start`` / ``*_n`` of its edges, rings and parts."""
    n_parts = np.array([0 if ps is None else len(ps) for ps in parts], dtype=np.int64)
    polys = [poly for ps in parts if ps for poly in ps]
    n_rings = np.array([len(poly.data) for poly in polys], dtype=np.int64)
    # a 1-vertex ring keeps one zero-length edge: a point on it is on it
    rings = [r[:, :2] if len(r) != 1 else np.repeat(r[:, :2], 2, axis=0) for poly in polys for r in poly.data]
    n_verts = np.array([len(r) for r in rings], dtype=np.int64)
    verts = np.concatenate(rings) if rings else np.empty((0, 2))
    n_edges = np.maximum(n_verts - 1, 0)
    # an edge joins each vertex to the next one of its ring
    last = np.zeros(len(verts), dtype=bool)
    last[(np.cumsum(n_verts) - 1)[n_verts > 0]] = True
    v1 = np.flatnonzero(~last)
    x1, y1 = verts[v1, 0], verts[v1, 1]
    x2, y2 = verts[v1 + 1, 0], verts[v1 + 1, 1]

    part_geom = np.repeat(np.arange(len(parts)), n_parts)
    ring_part = np.repeat(np.arange(len(polys)), n_rings)
    ring_geom = part_geom[ring_part]
    edge_ring = np.repeat(np.arange(len(rings)), n_edges)
    K = len(parts)
    geom_rings = np.bincount(ring_geom, minlength=K)
    geom_edges = np.bincount(ring_geom, weights=n_edges, minlength=K).astype(np.int64)
    part_start = np.cumsum(n_parts) - n_parts
    ring_start = np.cumsum(geom_rings) - geom_rings
    edge_start = np.cumsum(geom_edges) - geom_edges
    first_ring = np.cumsum(n_rings) - n_rings
    return {
        "x1": x1, "y1": y1, "y2": y2, "dx": x2 - x1, "dy": y2 - y1,
        "mnx": np.minimum(x1, x2), "mxx": np.maximum(x1, x2),
        "mny": np.minimum(y1, y2), "mxy": np.maximum(y1, y2),
        "e_ring": edge_ring - ring_start[ring_geom[edge_ring]],
        "r_part": ring_part - part_start[ring_geom],
        "hole": np.arange(len(rings)) > first_ring[ring_part],
        "edge_start": edge_start, "edge_n": geom_edges,
        "ring_start": ring_start, "ring_n": geom_rings,
        "part_n": n_parts,
    }


def _pip_states(xs, ys, k, lay) -> np.ndarray:
    """Point-in-polygon state of each pair (point ``xs[j], ys[j]``,
    geometry ``k[j]`` of ``lay``): 0 outside, 1 boundary, 2 inside.

    Each pair expands to its geometry's edges (``np.repeat``); the on-edge
    test and the ray cast run once over all of them, in passes of at most
    ``_PAIR_EDGE_CAP`` entries. Each ring's state is reduced per (pair,
    ring) with ``np.bincount``; a part is 0 inside any of its holes, else 1
    on a hole's boundary when its shell says inside, else its shell's
    state; a pair takes the max over its geometry's parts."""
    out = np.zeros(len(xs), dtype=np.int8)
    m = lay["edge_n"][k]
    cuts = np.searchsorted(np.cumsum(m), np.arange(_PAIR_EDGE_CAP, m.sum(), _PAIR_EDGE_CAP), side="right")
    bounds = np.unique(np.concatenate(([0], cuts, [len(k)])))
    for a, b in zip(bounds[:-1], bounds[1:]):
        out[a:b] = _pip_pass(xs[a:b], ys[a:b], k[a:b], m[a:b], lay)
    return out


def _pip_pass(xs, ys, k, m, lay) -> np.ndarray:
    n = len(k)
    # entry -> (pair, edge): pair j holds entries [off[j], off[j] + m[j])
    off = np.cumsum(m) - m
    total = int(m.sum())
    ei = np.repeat(lay["edge_start"][k] - off, m) + np.arange(total)
    X, Y = np.repeat(xs, m), np.repeat(ys, m)
    # (pair, ring) slots: pair j's rings are [roff[j], roff[j] + ring_n)
    rn = lay["ring_n"][k]
    roff = np.cumsum(rn) - rn
    n_slots = int(rn.sum())
    slot = np.repeat(roff, m) + lay["e_ring"][ei]

    x1, y1, y2 = lay["x1"][ei], lay["y1"][ei], lay["y2"][ei]
    dx, dy = lay["dx"][ei], lay["dy"][ei]
    on = (
        (dx * (Y - y1) - dy * (X - x1) == 0)
        & (X >= lay["mnx"][ei]) & (X <= lay["mxx"][ei])
        & (Y >= lay["mny"][ei]) & (Y <= lay["mxy"][ei])
    )
    c = np.flatnonzero(((y1 <= Y) & (y2 > Y)) | ((y2 <= Y) & (y1 > Y)))
    xint = x1[c] + (Y[c] - y1[c]) * dx[c] / dy[c]
    crossings = np.bincount(slot[c[xint > X[c]]], minlength=n_slots)
    ring_st = np.where(np.bincount(slot[on], minlength=n_slots) > 0, 1, 2 * (crossings % 2))

    # each slot's ring -> its part slot; pair j's parts are [poff[j], ...)
    pn = lay["part_n"][k]
    poff = np.cumsum(pn) - pn
    ring = np.repeat(lay["ring_start"][k] - roff, rn) + np.arange(n_slots)
    part = np.repeat(poff, rn) + lay["r_part"][ring]
    hole = lay["hole"][ring]
    n_part_slots = int(pn.sum())
    shell = np.zeros(n_part_slots, dtype=np.int64)
    shell[part[~hole]] = ring_st[~hole]
    in_hole = np.bincount(part[hole & (ring_st == 2)], minlength=n_part_slots) > 0
    on_hole = np.bincount(part[hole & (ring_st == 1)], minlength=n_part_slots) > 0
    part_st = np.where(in_hole, 0, np.where(on_hole & (shell == 2), 1, shell))
    pair = np.repeat(np.arange(n), pn)
    inside = np.bincount(pair[part_st == 2], minlength=n) > 0
    boundary = np.bincount(pair[part_st == 1], minlength=n) > 0
    return np.where(inside, 2, np.where(boundary, 1, 0)).astype(np.int8)


def _eq_state(xs, ys, ox, oy):
    return np.where((xs == ox) & (ys == oy), 2, 0)


def _hypot(xs, ys, ox, oy):
    return np.hypot(xs - ox, ys - oy)


def _mask_series(values: np.ndarray, mask: np.ndarray) -> pd.Series:
    out = pd.Series(values)
    if not mask.all():
        out = out.astype(object)
        out[~mask] = None
    return out
