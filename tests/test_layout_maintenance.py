"""Clustered-layout maintenance: snapshot append, the fragmentation metric
and compaction (the parquet analog of the reference's online R-tree
maintenance, core/index/rtree/rtree.cpp), and the write-time manifest
that prunes files for a windowed scan."""

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
