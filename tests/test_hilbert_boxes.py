"""Row-level equivalence of the r16 box-ingest cluster lane.

hilbert_cluster_boxes is a pure plan optimization of
``st_makeenvelope -> hilbert_cluster`` (bounds/sample JVM-side, one narrow
hilbert/route crossing, WKB built post-sort): per-row geom bytes, bbox
sidecars and hilbert index must be IDENTICAL to the generic lane — only
partition placement may differ.
"""

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.functions import udfs
from duckdb_spatial_spark.plans import (
    filter_bbox,
    hilbert_cluster,
    hilbert_cluster_boxes,
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


def test_box_lane_rows_match_generic_lane(spark):
    src = _src(spark)
    generic = hilbert_cluster(
        src.select("id", udfs.st_makeenvelope("mx", "my", "mxx", "mxy").alias("geom")),
        num_partitions=4,
    )
    fast = hilbert_cluster_boxes(src, "mx", "my", "mxx", "mxy", num_partitions=4)
    assert [f.name for f in fast.schema.fields] == [
        "id", "geom", "bbox_min_x", "bbox_min_y", "bbox_max_x", "bbox_max_y", "hilbert",
    ]
    a = {r.id: r for r in generic.collect()}
    b = {r.id: r for r in fast.collect()}
    assert set(a) == set(b)
    for i in a:
        ra, rb = a[i], b[i]
        assert bytes(ra.geom) == bytes(rb.geom)
        assert (ra.bbox_min_x, ra.bbox_min_y, ra.bbox_max_x, ra.bbox_max_y) == (
            rb.bbox_min_x, rb.bbox_min_y, rb.bbox_max_x, rb.bbox_max_y,
        )
        assert ra.hilbert == rb.hilbert


def test_box_lane_null_bounds_row(spark):
    fast = hilbert_cluster_boxes(
        _src(spark, n=300, with_nulls=True), "mx", "my", "mxx", "mxy", num_partitions=2
    )
    rows = {r.id: r for r in fast.collect()}
    assert len(rows) == 300  # null-bound rows are kept, not dropped
    nulls = [r for r in rows.values() if r.bbox_min_x is None]
    assert nulls and all(r.geom is None and r.hilbert is None for r in nulls)


def test_point_lane_null_semantics(spark):
    """r16 post-sort-WKB refactor of hilbert_cluster_points: bbox, hilbert
    and geom must be NULL iff EITHER coordinate is NULL (the pre-r16 fused
    lane's semantics — a bare rename of x into bbox_min_x would wrongly
    keep x's value when only y is null). A NaN coordinate nulls hilbert and
    geom too, and NULL/NaN rows stay out of the bounds and split sample:
    a NaN there reaches an undefined float-to-int64 cast."""
    import warnings

    from duckdb_spatial_spark.plans.pruning import hilbert_cluster_points

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
            for r in hilbert_cluster_points(df, "x", "y", num_partitions=2).collect()
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
    """Box lane windowed scan; both ingest lanes keep a NaN-coordinate row
    out of the layout bounds (a NaN bound has no int64 cast)."""
    import math
    import warnings

    finite = _src(spark, n=5000)
    src = finite.unionByName(spark.sql(
        "SELECT CAST(5000 AS BIGINT) AS id, CAST('NaN' AS DOUBLE) AS mx,"
        " 10.0D AS my, CAST('NaN' AS DOUBLE) AS mxx, 12.0D AS mxy"
    ))
    path = str(tmp_path / "boxes")
    pts_path = str(tmp_path / "points")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        write_geo_parquet(src, path, num_partitions=4, box_xyxy=("mx", "my", "mxx", "mxy"))
        write_geo_parquet(src, pts_path, num_partitions=4, point_xy=("mx", "my"))
    ext = finite.agg(
        F.min("mx"), F.min("my"), F.max("mx"), F.max("my"), F.max("mxx"), F.max("mxy")
    ).collect()[0]
    for p, want in ((path, [ext[0], ext[1], ext[4], ext[5]]), (pts_path, list(ext[:4]))):
        got = read_layout_meta(p)["bounds"]
        assert all(math.isfinite(v) for v in got) and got == want, (p, got, want)
    full = spark.read.parquet(path)
    assert full.count() == 5001
    # pruned windowed count == exact filter over the raw bounds
    expected = src.filter(
        (F.col("mx") >= 100) & (F.col("my") >= 100)
        & (F.col("mxx") <= 700) & (F.col("mxy") <= 700)
    ).count()
    pruned = filter_bbox(
        scan_geo_parquet(spark, path, bbox=(100, 100, 700, 700)),
        100, 100, 700, 700, exact="within", solid=True,
    ).count()
    assert pruned == expected
