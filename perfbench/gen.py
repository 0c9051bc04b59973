"""Seeded, vectorized input generators for the spatial benchmark.

Everything here is plain numpy/pyarrow: the program under test only ever
sees the files these functions write. Coordinates live in a lon/lat-like
domain (``DOMAIN``) and are quantized to 1e-9.

Run ``python3 perfbench/gen.py --selftest`` to check that one seed gives
byte-identical files.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOMAIN = (10.0, 40.0, 20.0, 50.0)  # min_x, min_y, max_x, max_y
QUANT_PER_UNIT = 1e9  # coordinates are multiples of 1e-9
# one writer configuration, so a seed always gives the same bytes
_PQ_OPTS = {"compression": "zstd", "use_dictionary": False, "write_statistics": True}


def quantize(a: np.ndarray) -> np.ndarray:
    """Nearest double to the 9-decimal rounding of ``a`` (an exact integer
    divided by an exact power of ten is correctly rounded)."""
    return np.rint(np.asarray(a, dtype=np.float64) * QUANT_PER_UNIT) / QUANT_PER_UNIT


# --------------------------------------------------------------- geometry
def convex_ngons(rng, cx, cy, r_lo, r_hi, k_lo, k_hi):
    """One convex polygon per centre: ``k`` vertices (uniform in
    [k_lo, k_hi]) on a rotated ellipse, angles jittered inside equal
    slots so consecutive vertices are never closer than half a slot.

    Returns ``(offsets, x, y)``: polygon i owns vertices
    ``offsets[i]:offsets[i+1]`` (open ring, counter-clockwise)."""
    n = len(cx)
    k = rng.integers(k_lo, k_hi + 1, n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(k, out=offsets[1:])
    r = np.exp(rng.uniform(np.log(r_lo), np.log(r_hi), n))
    aspect = rng.uniform(0.5, 1.0, n)
    rot = rng.uniform(0.0, np.pi, n)
    owner = np.repeat(np.arange(n), k)
    slot = np.arange(offsets[-1]) - offsets[owner]
    theta = 2.0 * np.pi * (slot + 0.5 * rng.uniform(0.0, 1.0, offsets[-1])) / k[owner]
    ex = r[owner] * np.cos(theta)
    ey = r[owner] * aspect[owner] * np.sin(theta)
    c, s = np.cos(rot[owner]), np.sin(rot[owner])
    x = quantize(cx[owner] + c * ex - s * ey)
    y = quantize(cy[owner] + s * ex + c * ey)
    return offsets, x, y


def grid_centres(n_side, jitter, rng):
    """Centres of an ``n_side``² grid over the domain, jittered by up to
    ``jitter`` of a cell; returns ``(cx, cy, cell)``."""
    x0, y0, x1, y1 = DOMAIN
    cell = (x1 - x0) / n_side
    ii, jj = np.meshgrid(np.arange(n_side), np.arange(n_side), indexing="ij")
    cx = x0 + (ii.ravel() + 0.5) * cell + rng.uniform(-jitter, jitter, n_side * n_side) * cell
    cy = y0 + (jj.ravel() + 0.5) * cell + rng.uniform(-jitter, jitter, n_side * n_side) * cell
    return cx, cy, cell


def point_mixture(rng, n, hot_share, n_hot, sigma):
    """Uniform background plus Gaussian hotspots (skewed density)."""
    x0, y0, x1, y1 = DOMAIN
    n_h = int(n * hot_share)
    n_u = n - n_h
    hx = rng.uniform(x0 + 1, x1 - 1, n_hot)
    hy = rng.uniform(y0 + 1, y1 - 1, n_hot)
    which = rng.integers(0, n_hot, n_h)
    x = np.concatenate([rng.uniform(x0, x1, n_u), hx[which] + rng.normal(0, sigma, n_h)])
    y = np.concatenate([rng.uniform(y0, y1, n_u), hy[which] + rng.normal(0, sigma, n_h)])
    perm = rng.permutation(n)
    x = np.clip(x[perm], x0, x1)
    y = np.clip(y[perm], y0, y1)
    return quantize(x), quantize(y)


# --------------------------------------------------------------- encoders
def wkb_polygons(offsets, x, y) -> pa.Array:
    """Little-endian WKB POLYGON (one closed ring) per polygon, built as
    one flat byte buffer + offsets — no per-feature Python."""
    k = np.diff(offsets)
    n = len(k)
    npts = k + 1  # closed ring
    header = 13  # byte order + type + ring count + point count
    sizes = header + 16 * npts
    boff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes, out=boff[1:])
    buf = np.zeros(boff[-1], dtype=np.uint8)
    hdr = np.zeros((n, header), dtype=np.uint8)
    hdr[:, 0] = 1
    hdr[:, 1:5] = np.frombuffer(np.uint32(3).tobytes(), np.uint8)
    hdr[:, 5:9] = np.frombuffer(np.uint32(1).tobytes(), np.uint8)
    hdr[:, 9:13] = np.asarray(npts, dtype="<u4").view(np.uint8).reshape(n, 4)
    hidx = boff[:-1, None] + np.arange(header)
    buf[hidx.ravel()] = hdr.ravel()
    # closed ring coordinates: every polygon's vertices then its first again
    owner = np.repeat(np.arange(n), npts)
    local = np.arange(npts.sum()) - np.repeat(np.cumsum(npts) - npts, npts)
    src = offsets[owner] + np.where(local == k[owner], 0, local)
    xy = np.empty((len(src), 2), dtype="<f8")
    xy[:, 0] = x[src]
    xy[:, 1] = y[src]
    cpos = boff[owner] + header + 16 * local
    buf[(cpos[:, None] + np.arange(16)).ravel()] = xy.view(np.uint8).ravel()
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(boff.astype(np.int32)), pa.py_buffer(buf)]
    )


def wkb_points(x, y) -> pa.Array:
    """Little-endian WKB POINT per coordinate pair (21 bytes each)."""
    n = len(x)
    rec = np.zeros(n, dtype=[("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
    rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, x, y
    offs = (np.arange(n + 1) * 21).astype(np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(rec.tobytes())]
    )


def _num_str(a: np.ndarray) -> list[str]:
    """Shortest round-trip text of each value (Python's float repr, as
    ``json.dumps`` writes it)."""
    return list(map(repr, np.asarray(a, dtype=np.float64).tolist()))


def wkt_polygons(offsets, x, y) -> list[str]:
    pts = [f"{a} {b}" for a, b in zip(_num_str(x), _num_str(y))]
    out = []
    for i in range(len(offsets) - 1):
        ring = pts[offsets[i]:offsets[i + 1]]
        out.append("POLYGON ((" + ", ".join(ring) + ", " + ring[0] + "))")
    return out


def geojson_polygon_lines(ids, offsets, x, y, vals) -> list[str]:
    pts = [f"[{a},{b}]" for a, b in zip(_num_str(x), _num_str(y))]
    vs = _num_str(vals)
    out = []
    for i in range(len(offsets) - 1):
        ring = pts[offsets[i]:offsets[i + 1]]
        out.append(
            '{"type":"Feature","properties":{"fid":%d,"v":%s},'
            '"geometry":{"type":"Polygon","coordinates":[[%s,%s]]}}'
            % (ids[i], vs[i], ",".join(ring), ring[0])
        )
    return out


# --------------------------------------------------------------- files
def write_parquet(path: str, table: pa.Table) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp, **_PQ_OPTS)
    os.replace(tmp, path)


def write_lines(path: str, lines: list[str]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)


def polygon_table(ids, offsets, x, y) -> pa.Table:
    return pa.table({"id": pa.array(ids, pa.int64()), "geom": wkb_polygons(offsets, x, y)})


def tree_digest(root: str) -> str:
    """sha256 over every file (name + bytes) under ``root``, sorted."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for fn in sorted(files):
            p = os.path.join(d, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _selftest() -> int:
    """Generate every workload's inputs twice from one seed into two
    fresh directories and require byte-identical trees."""
    import shutil
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]  # the benchmark, then the package
    import workloads as W

    base = os.path.join(here, ".work")
    os.makedirs(base, exist_ok=True)
    bad = 0
    for name, cls in W.WORKLOADS.items():
        digests = []
        for _ in range(2):
            d = tempfile.mkdtemp(prefix=f"selftest-{name}-", dir=base)
            try:
                cls.generate(d, seed=12345)
                digests.append(tree_digest(d))
            finally:
                shutil.rmtree(d, ignore_errors=True)
        ok = digests[0] == digests[1]
        bad += not ok
        print(json.dumps({"workload": name, "identical": ok, "sha256": digests[0][:16]}))
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1:] == ["--selftest"]:
        sys.exit(_selftest())
    print("usage: python3 perfbench/gen.py --selftest", file=sys.stderr)
    sys.exit(2)
