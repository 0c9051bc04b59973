"""Property tests for the round-9 surfaces: NTv2/GTX grid math (pure
numpy — hypothesis with dyadic affine fields), and the filter_bbox
sure-true union path (seeded randomized sweeps against the pure-UDF
ground truth, including degenerate geometries ON window boundaries)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_spatial_spark.functions.ntv2 import NTv2Grid, SubGrid
from duckdb_spatial_spark.functions.gtx import GTXGrid

# dyadic coefficient strategy: k / 2^7 with |k| <= 512 (exact in float32
# node values up to the grid size used here)
dyadic = st.integers(min_value=-512, max_value=512).map(lambda k: k / 128.0)


def _affine_subgrid(a_lat, b_lat, c_lat, a_lon, b_lon, c_lon):
    s_lat, e_long, inc = 90000.0, 270000.0, 3600.0
    nrows, ncols = 12, 14
    rows = np.arange(nrows, dtype=np.float64)[:, None]
    cols = np.arange(ncols, dtype=np.float64)[None, :]
    la = (a_lat + b_lat * cols + c_lat * rows).astype(np.float32)
    lo = (a_lon + b_lon * cols + c_lon * rows).astype(np.float32)
    return SubGrid(
        "H", "NONE", s_lat, s_lat + (nrows - 1) * inc,
        e_long, e_long + (ncols - 1) * inc, inc, inc, la, lo,
    ), (s_lat, e_long, inc)


@given(a1=dyadic, b1=dyadic, c1=dyadic, a2=dyadic, b2=dyadic, c2=dyadic,
       data=st.data())
@settings(max_examples=60, deadline=None)
def test_ntv2_affine_field_exact_and_invertible(a1, b1, c1, a2, b2, c2, data):
    sg, (s_lat, e_long, inc) = _affine_subgrid(a1, b1, c1, a2, b2, c2)
    g = NTv2Grid([sg])
    # strictly interior with margin > max shift (4 arcsec): a point ON
    # the grid edge whose forward shift lands outside cannot be inverted
    # (shift=0 passthrough out there) — correct, documented edge
    # semantics shared with proj, not a bug this test should trip
    lon = np.array([data.draw(st.floats(-87.5, -75.5))])
    lat = np.array([data.draw(st.floats(25.5, 35.5))])
    col = (-lon * 3600.0 - e_long) / inc
    row = (lat * 3600.0 - s_lat) / inc
    exp_dlat = a1 + b1 * col + c1 * row
    exp_dlon = a2 + b2 * col + c2 * row
    flon, flat = g.forward(lon, lat)
    np.testing.assert_allclose(flat, lat + exp_dlat / 3600.0, rtol=0, atol=1e-11)
    np.testing.assert_allclose(flon, lon - exp_dlon / 3600.0, rtol=0, atol=1e-11)
    blon, blat = g.inverse(flon, flat)
    np.testing.assert_allclose(blon, lon, rtol=0, atol=1e-9)
    np.testing.assert_allclose(blat, lat, rtol=0, atol=1e-9)


@given(a=dyadic, b=dyadic, c=dyadic, data=st.data())
@settings(max_examples=60, deadline=None)
def test_gtx_affine_field_exact_and_invertible(a, b, c, data):
    nrows, ncols = 10, 12
    rows = np.arange(nrows, dtype=np.float64)[:, None]
    cols = np.arange(ncols, dtype=np.float64)[None, :]
    vals = (a + b * cols + c * rows).astype(np.float32)
    g = GTXGrid(20.0, -110.0, 1.0, 1.0, vals)
    lon = np.array([data.draw(st.floats(-109.5, -99.5))])
    lat = np.array([data.draw(st.floats(20.5, 28.5))])
    exp = a + b * (lon + 110.0) + c * (lat - 20.0)
    np.testing.assert_allclose(g.undulation(lon, lat), exp, rtol=0, atol=1e-10)
    z = np.array([data.draw(st.floats(-100.0, 1000.0))])
    up = g.to_ellipsoidal(lon, lat, z)
    np.testing.assert_allclose(g.to_orthometric(lon, lat, up), z, rtol=0, atol=1e-9)


@pytest.mark.parametrize("seed", [1, 7, 23])
def test_filter_bbox_union_matches_udf_randomized(spark, tmp_path, seed):
    """Random rects/lines/points (integer coords so boundary contact is
    common) through a clustered layout: the cached-bbox decision must
    agree with the pure-UDF exact path for within, intersects AND
    contains on random integer windows, their inverted twins (bounds
    given max-first) and zero-area windows (a segment and a point)."""
    import functools

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from duckdb_spatial_spark.plans import filter_bbox, write_geo_parquet

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(300):
        kind = i % 3
        x0, y0 = int(rng.integers(0, 40)), int(rng.integers(0, 40))
        w, h = int(rng.integers(0, 8)), int(rng.integers(0, 8))
        if kind == 0:
            wkt = f"POINT ({x0} {y0})"
        elif kind == 1:
            wkt = f"LINESTRING ({x0} {y0}, {x0 + w + 1} {y0 + h})"
        else:
            wkt = (f"POLYGON (({x0} {y0}, {x0 + w + 1} {y0}, {x0 + w + 1} "
                   f"{y0 + h + 1}, {x0} {y0 + h + 1}, {x0} {y0}))")
        rows.append((i, wkt))
    df = spark.createDataFrame(rows, "id long, wkt string").selectExpr(
        "id", "ST_GeomFromText(wkt) AS geom"
    )
    path = str(tmp_path / f"mix{seed}")
    write_geo_parquet(df, path, num_partitions=2)
    clustered = spark.read.parquet(path)
    cases = []
    for trial in range(3):
        wx0 = int(rng.integers(0, 30)); wy0 = int(rng.integers(0, 30))
        wx1 = wx0 + int(rng.integers(2, 15)); wy1 = wy0 + int(rng.integers(2, 15))
        # each trial's window, then one twin in turn: inverted (bounds
        # given max-first), a zero-width segment, a zero-area point
        twin = [(wx1, wy1, wx0, wy0), (wx0, wy0, wx0, wy1), (wx1, wy0, wx1, wy0)][trial]
        for win in ((wx0, wy0, wx1, wy1), twin):
            for exact in ("within", "intersects", "contains"):
                cases.append((win, exact))

    def answers(frame):
        # every case in one job over one partition: a union of tagged
        # windowed filters
        frame = frame.coalesce(1)
        parts = [
            filter_bbox(frame, *win, exact=exact).select(F.lit(k).alias("k"), "id")
            for k, (win, exact) in enumerate(cases)
        ]
        out = {k: set() for k in range(len(cases))}
        for r in functools.reduce(DataFrame.unionAll, parts).collect():
            out[r.k].add(r.id)
        return out

    fast, slow = answers(clustered), answers(df)
    for k, case in enumerate(cases):
        assert fast[k] == slow[k], (seed, case, fast[k] ^ slow[k])
    # the sweep is not vacuous: within and intersects select rows
    assert all(any(slow[k] for k, (_, e) in enumerate(cases) if e == exact)
               for exact in ("within", "intersects"))
