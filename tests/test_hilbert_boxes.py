"""NULL, NaN and infinite coordinates through both layout-write lanes:
the generic lane (envelope WKB -> bbox columns -> repartitionByRange) and
the ``point_xy=`` lane. Such rows are kept, and never reach the layout
bounds.
"""

import warnings

import numpy as np
from pyspark.sql import functions as F

from duckdb_spatial_spark.functions import udfs
from duckdb_spatial_spark.plans import (
    filter_bbox,
    scan_geo_parquet,
    write_geo_parquet,
)
from duckdb_spatial_spark.plans.pruning import read_layout_meta


def _src(spark, n=2000, with_nulls=False):
    df = spark.range(n).selectExpr(
        "id",
        "CAST(id * 7919 % 990 AS DOUBLE) AS mx",
        "CAST(id * 104729 % 990 AS DOUBLE) AS my",
        "CAST(id % 23 + 1 AS DOUBLE) AS w",
        "CAST(id % 19 + 1 AS DOUBLE) AS h",
    )
    if with_nulls:
        df = df.selectExpr(
            "id",
            "CASE WHEN id % 97 = 0 THEN NULL ELSE mx END AS mx",
            "my", "w", "h",
        )
    return df.selectExpr("id", "mx", "my", "mx + w AS mxx", "my + h AS mxy")


def _envelopes(src):
    return src.select("id", udfs.st_makeenvelope("mx", "my", "mxx", "mxy").alias("geom"))


def test_hilbert_scaled_nonfinite_inputs():
    """Spark-free: NaN maps to grid 0 and ±inf to the curve edge, with no
    undefined float->int64 cast; a finite row in the same batch keeps its
    value."""
    nan, inf = np.nan, np.inf
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = udfs.hilbert_scaled(
            [nan, 1.0, inf, -inf, 0.5, 0.5], [0.5, nan, 1.0, 1.0, inf, -inf], 0, 0, 2, 2
        )
        want = udfs.hilbert_scaled(
            [0.0, 1.0, 2.0, 0.0, 0.5, 0.5], [0.5, 0.0, 1.0, 1.0, 2.0, 0.0], 0, 0, 2, 2
        )
        assert got.dtype == np.int64 and got.tolist() == want.tolist()
        assert udfs.hilbert_scaled([nan, 1.5], [nan, 0.25], 0, 0, 2, 2)[1] == (
            udfs.hilbert_scaled([1.5], [0.25], 0, 0, 2, 2)[0]
        )


def test_box_lane_null_bounds_row(spark, tmp_path):
    """Envelopes through the generic lane: a row with a NULL bound keeps
    its place in the layout, with NULL geom, bbox and hilbert."""
    path = str(tmp_path / "boxes")
    write_geo_parquet(_envelopes(_src(spark, n=300, with_nulls=True)), path, num_partitions=2)
    rows = {r.id: r for r in spark.read.parquet(path).collect()}
    assert len(rows) == 300  # null-bound rows are kept, not dropped
    nulls = [r for r in rows.values() if r.bbox_min_x is None]
    assert len(nulls) == 4  # ids 0, 97, 194, 291
    assert all(
        r.geom is None and r.hilbert is None
        and r.bbox_min_y is None and r.bbox_max_x is None and r.bbox_max_y is None
        for r in nulls
    )


def test_point_lane_null_semantics(spark):
    """The point lane, ``hilbert_cluster(point_xy=...)``: bbox, hilbert
    and geom must be NULL iff EITHER coordinate is NULL (a bare rename of
    x into bbox_min_x would wrongly keep x's value when only y is null).
    A NaN coordinate nulls hilbert and geom too, and NULL/NaN rows stay
    out of the bounds: a NaN there reaches an undefined float-to-int64
    cast."""
    import warnings

    from duckdb_spatial_spark.plans import hilbert_cluster

    df = spark.sql(
        """
        SELECT id,
               CASE WHEN id % 5 = 1 THEN NULL
                    WHEN id = 3 THEN CAST('NaN' AS DOUBLE)
                    ELSE CAST(id * 3 % 97 AS DOUBLE) END AS x,
               CASE WHEN id % 5 = 2 THEN NULL ELSE CAST(id * 7 % 89 AS DOUBLE) END AS y
        FROM range(200)
        """
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = {
            r.id: r
            for r in hilbert_cluster(df, num_partitions=2, point_xy=("x", "y")).collect()
        }
    assert len(out) == 200
    assert out[3].geom is None and out[3].hilbert is None
    for i, r in out.items():
        if i == 3:
            continue
        if i % 5 in (1, 2):
            assert r.geom is None and r.hilbert is None
            assert r.bbox_min_x is None and r.bbox_min_y is None
            assert r.bbox_max_x is None and r.bbox_max_y is None
        else:
            assert r.geom is not None and len(bytes(r.geom)) == 21
            assert r.bbox_min_x == r.bbox_max_x and r.bbox_min_y == r.bbox_max_y


def test_write_geo_parquet_box_lane_pruned_scan(spark, tmp_path):
    """Envelopes through the generic lane give an exact pruned windowed
    scan. Both lanes keep a NaN-coordinate row and a +inf one out of the
    layout bounds: a NaN bound has no int64 cast, and an infinite one maps
    every finite coordinate to the curve edge. So every finite row gets
    the hilbert value it gets without the two rows."""
    import math
    import warnings

    finite = _src(spark, n=5000)
    bad = spark.sql(
        "SELECT CAST(5000 AS BIGINT) AS id, CAST('NaN' AS DOUBLE) AS mx,"
        " 10.0D AS my, CAST('NaN' AS DOUBLE) AS mxx, 12.0D AS mxy"
        " UNION ALL SELECT CAST(5001 AS BIGINT), CAST('Infinity' AS DOUBLE),"
        " 20.0D, CAST('Infinity' AS DOUBLE), 22.0D"
    )
    src = finite.unionByName(bad)
    ext = finite.agg(
        F.min("mx"), F.min("my"), F.max("mx"), F.max("my"), F.max("mxx"), F.max("mxy")
    ).collect()[0]
    lanes = {
        "boxes": (_envelopes, {}, [ext[0], ext[1], ext[4], ext[5]]),
        "points": (lambda d: d, {"point_xy": ("mx", "my")}, list(ext[:4])),
    }
    for name, (prep, kw, want) in lanes.items():
        path, clean = str(tmp_path / name), str(tmp_path / f"{name}_finite")
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            write_geo_parquet(prep(src), path, num_partitions=4, **kw)
            write_geo_parquet(prep(finite), clean, num_partitions=4, **kw)
        got = read_layout_meta(path)["bounds"]
        assert all(math.isfinite(v) for v in got) and got == want, (name, got, want)
        h = {r.id: r.hilbert for r in spark.read.parquet(path).collect()}
        h0 = {r.id: r.hilbert for r in spark.read.parquet(clean).collect()}
        assert len(h) == 5002 and h[5000] is None
        assert len({h[i] for i in h0}) == len(set(h0.values())) >= 990, name
        assert {i: h[i] for i in h0} == h0, name
    path = str(tmp_path / "boxes")
    # pruned windowed count == exact filter over the raw bounds
    expected = src.filter(
        (F.col("mx") >= 100) & (F.col("my") >= 100)
        & (F.col("mxx") <= 700) & (F.col("mxy") <= 700)
    ).count()
    pruned = filter_bbox(
        scan_geo_parquet(spark, path, bbox=(100, 100, 700, 700)),
        100, 100, 700, 700, exact="within",
    ).count()
    assert pruned == expected
