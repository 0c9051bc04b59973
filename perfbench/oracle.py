"""Exact numpy oracles for the benchmark's convex inputs.

Nothing here imports the package under test: every expected answer is
computed from the generator's own vertex arrays. Polygons are given as
``(offsets, x, y)`` — polygon i owns vertices ``offsets[i]:offsets[i+1]``
of an open, counter-clockwise ring.
"""

from __future__ import annotations

import numpy as np

def _owner(offsets):
    k = np.diff(offsets)
    return np.repeat(np.arange(len(k)), k), k


def _next_index(offsets):
    """Index of each vertex's successor around its own ring."""
    owner, k = _owner(offsets)
    idx = np.arange(offsets[-1])
    nxt = idx + 1
    last = offsets[1:] - 1
    nxt[last[k > 0]] = offsets[:-1][k > 0]
    return owner, nxt


def bboxes(offsets, x, y):
    owner, _ = _owner(offsets)
    n = len(offsets) - 1
    mnx = np.full(n, np.inf)
    mny = np.full(n, np.inf)
    mxx = np.full(n, -np.inf)
    mxy = np.full(n, -np.inf)
    np.minimum.at(mnx, owner, x)
    np.minimum.at(mny, owner, y)
    np.maximum.at(mxx, owner, x)
    np.maximum.at(mxy, owner, y)
    return mnx, mny, mxx, mxy


def points_in_window(px, py, rect, strict):
    x0, y0, x1, y1 = rect
    if strict:
        return (px > x0) & (px < x1) & (py > y0) & (py < y1)
    return (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)


def convex_intersects_convex(offsets, x, y, bb, qx, qy):
    """Closed convex polygons vs one closed convex query polygon
    ``(qx, qy)`` (open CCW ring), by the separating axis theorem: a pair
    is disjoint iff some edge of either polygon has the other entirely
    beyond its outward normal."""
    mnx, mny, mxx, mxy = bb
    cand = (mnx <= qx.max()) & (mxx >= qx.min()) & (mny <= qy.max()) & (mxy >= qy.min())
    out = np.zeros(len(mnx), dtype=bool)
    ids = np.nonzero(cand)[0]
    if not len(ids):
        return out
    k = offsets[ids + 1] - offsets[ids]
    sub_off = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(k, out=sub_off[1:])
    owner = np.repeat(np.arange(len(ids)), k)
    src = offsets[ids][owner] + (np.arange(sub_off[-1]) - sub_off[owner])
    sx, sy = x[src], y[src]
    _, nxt = _next_index(sub_off)
    # polygon edges: outward normal (dy, -dx) for CCW rings
    nx, ny = sy[nxt] - sy, -(sx[nxt] - sx)
    proj = nx[:, None] * (qx[None, :] - sx[:, None]) + ny[:, None] * (qy[None, :] - sy[:, None])
    sep = np.bincount(owner, proj.min(axis=1) > 0, len(ids)) > 0
    # query edges
    qn = np.roll(np.arange(len(qx)), -1)
    qnx, qny = qy[qn] - qy, -(qx[qn] - qx)
    for j in range(len(qx)):
        d = qnx[j] * (sx - qx[j]) + qny[j] * (sy - qy[j])
        dmin = np.full(len(ids), np.inf)
        np.minimum.at(dmin, owner, d)
        sep |= dmin > 0
    out[ids] = ~sep
    return out


def rect_ring(rect):
    x0, y0, x1, y1 = rect
    return np.array([x0, x1, x1, x0], dtype=float), np.array([y0, y0, y1, y1], dtype=float)


def points_strictly_in_convex(px, py, poly_of_point, offsets, x, y):
    """For each point, whether it lies strictly inside its candidate
    polygon (``-1`` = no candidate)."""
    has = poly_of_point >= 0
    pi = np.nonzero(has)[0]
    cand = poly_of_point[pi]
    k = offsets[cand + 1] - offsets[cand]
    owner = np.repeat(np.arange(len(pi)), k)
    starts = np.cumsum(k) - k
    v = offsets[cand][owner] + (np.arange(k.sum()) - starts[owner])
    _, nxt_all = _next_index(offsets)
    w = nxt_all[v]
    ppx, ppy = px[pi][owner], py[pi][owner]
    cr = (x[w] - x[v]) * (ppy - y[v]) - (y[w] - y[v]) * (ppx - x[v])
    outside = np.bincount(owner, cr <= 0, len(pi)) > 0
    res = np.zeros(len(px), dtype=bool)
    res[pi] = ~outside
    return res
