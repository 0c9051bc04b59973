"""Clustered-layout maintenance: snapshot append, the fragmentation metric
and compaction (the parquet analog of the reference's online R-tree
maintenance, core/index/rtree/rtree.cpp), and the write-time manifest
that prunes files for a windowed scan."""

import math

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.plans import pruning as P
from duckdb_spatial_spark.plans.snapshot import (
    append_geo_snapshot,
    compact_geo_snapshot,
    read_geo_snapshot,
    write_geo_snapshot,
)


def _points(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 1000).cast("double").alias("x"),
        ((F.col("id") * 7) % 1000).cast("double").alias("y"),
    )


def _fragmentation(spark, path):
    return P.layout_fragmentation(
        spark, path, files=read_geo_snapshot(spark, path).inputFiles()
    )


def test_append_fragmentation_compact(spark, tmp_path):
    path = str(tmp_path / "layout")
    base = _points(spark, 0, 20_000)
    write_geo_snapshot(base, path, point_xy=("x", "y"), num_partitions=4)
    f0 = _fragmentation(spark, path)

    append_geo_snapshot(
        _points(spark, 20_000, 30_000), path, point_xy=("x", "y"), num_partitions=4
    )
    df = read_geo_snapshot(spark, path)
    assert df.count() == 30_000
    # appended files overlap the original hilbert ranges
    f1 = _fragmentation(spark, path)
    assert f1 > f0

    # pruned read stays correct across versions (same bounds => same curve)
    n_pruned = P.filter_bbox(df, 100, 100, 300, 300, exact="within").count()
    n_exact = _points(spark, 0, 30_000).filter(
        (F.col("x") > 100) & (F.col("x") < 300) & (F.col("y") > 100) & (F.col("y") < 300)
    ).count()
    assert n_pruned == n_exact

    # compaction folds the layout back to near-disjoint ranges
    assert compact_geo_snapshot(spark, path, min_fragmentation=0.0)
    f2 = _fragmentation(spark, path)
    assert f2 <= f1
    df2 = read_geo_snapshot(spark, path)
    assert df2.count() == 30_000
    assert P.filter_bbox(df2, 100, 100, 300, 300, exact="within").count() == n_exact
    # idempotent: already-compact layout skips
    assert compact_geo_snapshot(spark, path, min_fragmentation=max(f2, 0.05)) is None


def test_scan_geo_parquet_manifest_pruning(spark, tmp_path):
    path = str(tmp_path / "layout2")
    P.write_geo_parquet(
        _points(spark, 0, 50_000), path, point_xy=("x", "y"), num_partitions=8
    )
    meta = P.read_layout_meta(path)
    assert meta and len(meta["files"]) == 8  # per-file bounds recorded

    # the manifest prunes files on the driver: a window covering a sliver
    # of the hilbert-clustered space binds fewer input files
    full = P.scan_geo_parquet(spark, path)
    win = (100.0, 100.0, 220.0, 220.0)
    pruned = P.scan_geo_parquet(spark, path, bbox=win)
    assert len(pruned.inputFiles()) < len(full.inputFiles())

    # ...and the pruned scan + filter equals the unpruned scan + filter
    n_pruned = P.filter_bbox(pruned, *win, exact="within", points=True).count()
    n_full = P.filter_bbox(full, *win, exact="within", points=True).count()
    assert n_pruned == n_full > 0

    # empty-window scan returns zero rows with the layout schema
    none = P.scan_geo_parquet(spark, path, bbox=(5000.0, 5000.0, 6000.0, 6000.0))
    assert none.count() == 0 and none.columns == full.columns

    # conservative fallbacks: no manifest (or a foreign file) => full read
    import json
    import os

    mp = os.path.join(path, "_geo_layout.json")
    meta2 = dict(meta)
    meta2.pop("files")
    with open(mp, "w", encoding="utf-8") as f:
        json.dump(meta2, f)
    legacy = P.scan_geo_parquet(spark, path, bbox=win)
    assert len(legacy.inputFiles()) == len(full.inputFiles())
    assert P.filter_bbox(legacy, *win, exact="within", points=True).count() == n_full


_LANES = {
    "generic": (lambda df: df.selectExpr("id", "ST_Point(x, y) AS geom"), {}),
    "points": (lambda df: df, {"point_xy": ("x", "y")}),
}


@pytest.mark.parametrize("lane", sorted(_LANES))
def test_nan_y_rows_pruned_scan_matches_full(spark, tmp_path, lane):
    """A layout file that holds only geometries with a NaN y gets no
    manifest entry (its sidecars are NULL, so its footer has no bounds),
    and the pruned scan equals the unpruned one."""
    kw = _LANES[lane][1]
    src = spark.sql(
        "SELECT id, CAST(id % 50 AS DOUBLE) AS x,"
        " CASE WHEN id < 50 THEN double('NaN') ELSE CAST(id % 50 AS DOUBLE) END AS y"
        " FROM range(100)"
    )
    if lane == "generic":  # ST_Point(x, NaN) is NULL: the WKB keeps the NaN
        src = src.selectExpr("id", "ST_GeomFromText(concat('POINT (', x, ' ', y, ')')) AS geom")
    path = str(tmp_path / lane)
    P.write_geo_parquet(src, path, num_partitions=2, bounds=(0, 0, 100, 100), **kw)
    files = P.read_layout_meta(path)["files"]
    assert files and all(math.isfinite(v) for b in files.values() for v in b)
    nan_rows = spark.read.parquet(path).filter("id < 50")
    assert nan_rows.filter("coalesce(bbox_min_x, bbox_min_y, bbox_max_x, bbox_max_y) IS NOT NULL").count() == 0
    win = (10, 10, 20, 20)
    pruned = P.filter_bbox(P.scan_geo_parquet(spark, path, bbox=win), *win)
    full = P.filter_bbox(spark.read.parquet(path), *win)
    got = sorted(r.id for r in pruned.select("id").collect())
    assert got == sorted(r.id for r in full.select("id").collect()) == list(range(60, 71))


def test_incomplete_manifest_entry_reads_file(spark, tmp_path):
    """A manifest entry with a missing bound (as an older writer recorded
    for a file of NaN-y geometries) is unknown: the file is read."""
    import json
    import os

    path = str(tmp_path / "layout")
    P.write_geo_parquet(_points(spark, 0, 20_000), path, point_xy=("x", "y"), num_partitions=4)
    win = (100.0, 100.0, 220.0, 220.0)
    full = P.filter_bbox(spark.read.parquet(path), *win, exact="within", points=True).count()
    mp = os.path.join(path, "_geo_layout.json")
    with open(mp, encoding="utf-8") as f:
        meta = json.load(f)
    assert len(P.scan_geo_parquet(spark, path, bbox=win).inputFiles()) < 4
    meta["files"] = {k: [b[0], None, b[2], None] for k, b in meta["files"].items()}
    with open(mp, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    scan = P.scan_geo_parquet(spark, path, bbox=win)
    assert len(scan.inputFiles()) == 4
    assert P.filter_bbox(scan, *win, exact="within", points=True).count() == full > 0


@pytest.mark.parametrize("lane", sorted(_LANES))
def test_manifest_matches_sidecar_extents(spark, tmp_path, lane):
    """The manifest's per-file bboxes equal the per-file min/max of the
    four sidecars, as Spark computes them over the written data."""
    import os

    prep, kw = _LANES[lane]
    path = str(tmp_path / lane)
    P.write_geo_parquet(prep(_points(spark, 0, 20_000)), path, num_partitions=4, **kw)
    got = P.read_layout_meta(path)["files"]
    want = {
        os.path.basename(r.f): [r.a, r.b, r.c, r.d]
        for r in spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("bbox_min_x").alias("a"), F.min("bbox_min_y").alias("b"),
             F.max("bbox_max_x").alias("c"), F.max("bbox_max_y").alias("d"))
        .collect()
    }
    assert len(got) == 4 and got == want


def test_footer_stats_null_row_groups(tmp_path):
    """Spark-free: footer_stats on a pyarrow file whose first row group
    has all-NULL bbox columns and whose second is partly NULL. The
    all-NULL group has no bounds and the file bounds come from the other;
    a chunk written without statistics makes the file bound unknown."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = P.BBOX_COLS + ("hilbert",)
    t = pa.table({
        **{c: pa.array([None, None, 1.0, None, 3.0], pa.float64()) for c in P.BBOX_COLS},
        "hilbert": pa.array([None, None, 7, None, 9], pa.int64()),
    })
    fp = str(tmp_path / "a.parquet")
    pq.write_table(t, fp, row_group_size=2)  # groups: [N, N], [1, N], [3]
    rg = P.footer_stats([fp])
    assert [r[:3] for r in rg] == [("a.parquet", 0, 2), ("a.parquet", 1, 2), ("a.parquet", 2, 1)]
    assert rg[0][3:] == (None,) * 6
    assert rg[1][3:] == (1.0, 1.0, 1.0, 1.0, 7, 7)
    assert P.footer_stats([fp], level="file") == [("a.parquet", -1, 5, 1.0, 1.0, 3.0, 3.0, 7, 9)]

    nostats = str(tmp_path / "b.parquet")
    pq.write_table(t, nostats, row_group_size=2, write_statistics=[c for c in cols if c != "bbox_max_y"])
    (f,) = P.footer_stats(["file://" + nostats], level="file")
    assert f[:6] == ("b.parquet", -1, 5, 1.0, 1.0, 3.0) and f[6] is None


def test_write_geo_parquet_jobs(spark, tmp_path):
    """With bounds= given, a write runs at most three jobs (range sample,
    shuffle, write) and none after the data write, each described as the
    write's; the caller's job description is restored."""
    sc = spark.sparkContext
    base = _points(spark, 0, 5_000).cache()
    base.count()
    sc.setJobDescription("caller")
    try:
        for lane, (prep, kw) in sorted(_LANES.items()):
            src = prep(base)
            group = f"write-jobs-{lane}"
            sc.setJobGroup(group, group)
            P.write_geo_parquet(src, str(tmp_path / lane), bounds=(0, 0, 1000, 7000), num_partitions=4, **kw)
            sc.setLocalProperty("spark.jobGroup.id", None)
            assert sc.getLocalProperty("spark.job.description") == group
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            store = sc._jsc.sc().statusStore()
            descs = {store.job(j).description().get() for j in jobs}
            assert 0 < len(jobs) <= 3, (lane, len(jobs))
            assert descs == {"write_geo_parquet: cluster and write"}, descs
        sc.setJobGroup("g", "g")
        sc.setJobDescription("caller")
        P.write_geo_parquet(_points(spark, 0, 100), str(tmp_path / "nob"), point_xy=("x", "y"))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        base.unpersist()
