"""Snapshot (manifest) commit protocol over the clustered geo-parquet
layout: atomic visibility, reader isolation across compact, vacuum."""

import math
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.plans import filter_bbox
from duckdb_spatial_spark.plans.snapshot import (
    append_geo_snapshot,
    compact_geo_snapshot,
    read_geo_snapshot,
    snapshot_version,
    vacuum_geo_snapshot,
    write_geo_snapshot,
)


@pytest.fixture()
def layout(spark, tmp_path):
    path = str(tmp_path / "snap")

    def pts(lo, n):
        return spark.range(lo, lo + n).selectExpr(
            "id",
            "CAST(id * 7919 % 1000 AS DOUBLE) AS x",
            "CAST(id * 104729 % 1000 AS DOUBLE) AS y",
        )

    v = write_geo_snapshot(
        pts(0, 5000), path, bounds=(0, 0, 1000, 1000),
        num_partitions=4, point_xy=("x", "y"),
    )
    assert v == 1
    return path, pts


def test_write_read_and_prune(spark, layout):
    path, _ = layout
    df = read_geo_snapshot(spark, path)
    assert df.count() == 5000
    assert snapshot_version(path) == 1
    pruned = filter_bbox(df, 100, 100, 300, 300, exact="within")
    full = df.filter(
        "bbox_min_x > 100 AND bbox_min_x < 300 AND bbox_min_y > 100 AND bbox_min_y < 300"
    )
    assert pruned.count() == full.count()


def test_append_commits_new_version(spark, layout):
    path, pts = layout
    old = read_geo_snapshot(spark, path)  # bind BEFORE the append
    v = append_geo_snapshot(pts(5000, 2000), path, num_partitions=2, point_xy=("x", "y"))
    assert v == 2
    assert read_geo_snapshot(spark, path).count() == 7000
    # bound reader still sees the v1 snapshot
    assert old.count() == 5000
    assert read_geo_snapshot(spark, path, version=1).count() == 5000


def test_compact_does_not_disturb_bound_reader(spark, layout):
    path, pts = layout
    append_geo_snapshot(pts(5000, 2000), path, num_partitions=2, point_xy=("x", "y"))
    bound = read_geo_snapshot(spark, path)  # v2, fragmented
    v = compact_geo_snapshot(spark, path, num_partitions=4)
    assert v == 3
    # old files are immutable: the bound plan still collects fine
    assert bound.count() == 7000
    assert read_geo_snapshot(spark, path).count() == 7000
    # compacted layout is defragmented enough that a re-compact is a no-op
    assert compact_geo_snapshot(spark, path, min_fragmentation=0.5) is None


def test_vacuum_drops_only_unreferenced(spark, layout):
    path, pts = layout
    append_geo_snapshot(pts(5000, 2000), path, num_partitions=2, point_xy=("x", "y"))
    compact_geo_snapshot(spark, path, num_partitions=4)
    removed = vacuum_geo_snapshot(spark, path, keep_last=1)
    assert removed > 0
    assert read_geo_snapshot(spark, path).count() == 7000
    with pytest.raises(FileNotFoundError):
        _ = read_geo_snapshot(spark, path, version=1).count()
    # manifests for dropped versions are gone
    assert snapshot_version(path) == 3
    names = os.listdir(path)
    assert not any(n.startswith("_manifest-v000000001") for n in names)


def test_write_refuses_existing_layout(spark, layout):
    path, pts = layout
    with pytest.raises(ValueError, match="already exists"):
        write_geo_snapshot(pts(0, 10), path, point_xy=("x", "y"))


def test_filter_bbox_points_fast_path_matches_udf(spark, tmp_path):
    """points=True must agree with the UDF exact path, including boundary
    points (within excludes the envelope boundary)."""
    from duckdb_spatial_spark.plans import filter_bbox, write_geo_parquet

    # integer grid 0..10 x 0..10 -> plenty of points ON the query boundary
    df = spark.range(121).selectExpr(
        "id", "CAST(id % 11 AS DOUBLE) AS x", "CAST(id DIV 11 AS DOUBLE) AS y"
    )
    path = str(tmp_path / "grid")
    write_geo_parquet(df, path, point_xy=("x", "y"), num_partitions=2)
    clustered = spark.read.parquet(path)
    for exact in ("within", "intersects"):
        fast = filter_bbox(clustered, 2, 2, 8, 8, exact=exact, points=True)
        slow = filter_bbox(clustered, 2, 2, 8, 8, exact=exact, points=False)
        assert fast.count() == slow.count(), exact
        assert sorted(r.id for r in fast.collect()) == sorted(r.id for r in slow.collect())
    # sanity: within excludes boundary (5x5 interior), intersects includes it
    assert filter_bbox(clustered, 2, 2, 8, 8, exact="within", points=True).count() == 25
    assert filter_bbox(clustered, 2, 2, 8, 8, exact="intersects", points=True).count() == 49


class _Untouched:
    """A frame stand-in that fails on any use: proves a ValueError is
    raised before a plan is built."""

    def __getattr__(self, name):
        raise AssertionError(f"filter_bbox read df.{name} before validating its arguments")


def test_filter_bbox_rejects_unknown_exact():
    """An unsupported ``exact=`` name is a ValueError that names the
    supported values, raised before the frame is touched (no plan built)."""
    with pytest.raises(ValueError, match="intersects, within, contains"):
        filter_bbox(_Untouched(), 0, 0, 1, 1, exact="touches")


@pytest.mark.parametrize(
    "bounds, exact, name",
    [
        ((-math.inf, -math.inf, math.inf, math.inf), "within", "min_x"),
        ((0, 0, math.nan, 20), "intersects", "max_x"),
        ((0, -math.inf, 1, 1), None, "min_y"),
        ((0, 0, 1, math.nan), "contains", "max_y"),
    ],
)
def test_filter_bbox_rejects_non_finite_window(bounds, exact, name):
    """A NaN or ±inf window bound is a ValueError naming the bound, raised
    before the frame is touched: with sidecars such a window kept every
    row (Spark orders NaN above every double), without them none."""
    with pytest.raises(ValueError, match=f"window bound {name}="):
        filter_bbox(_Untouched(), *bounds, exact=exact)


def test_filter_bbox_sure_true_short_circuit_matches_udf(spark, tmp_path):
    """Non-point geometries: the sidecar-bbox sure-true/sure-false split
    must agree with the pure-UDF path, including the boundary band — a
    polygon touching the envelope edge from inside (within TRUE), a line
    lying ON the edge (within FALSE, intersects TRUE), a point ON the edge
    (within FALSE, intersects TRUE). Envelope = (10,10)-(20,20)."""
    from duckdb_spatial_spark.plans import filter_bbox, write_geo_parquet

    wkts = [
        (0, "POLYGON((12 12,14 12,14 14,12 14,12 12))"),   # strictly inside
        (1, "POLYGON((10 12,12 12,12 14,10 14,10 12))"),   # touches edge inside
        (2, "POLYGON((8 12,12 12,12 14,8 14,8 12))"),      # straddles edge
        (3, "POLYGON((30 30,32 30,32 32,30 32,30 30))"),   # fully outside
        (4, "LINESTRING(10 12,10 18)"),                    # ON the boundary
        (5, "POINT(20 15)"),                               # point on edge
        (6, "POINT(15 15)"),                               # point inside
        (7, "POLYGON((5 5,25 5,25 25,5 25,5 5))"),         # contains envelope
        (8, "LINESTRING(12 12,18 18)"),                    # line inside
    ]
    df = spark.createDataFrame(wkts, "id long, wkt string").selectExpr(
        "id", "ST_AsWKB(ST_GeomFromText(wkt)) AS geom"
    )
    path = str(tmp_path / "mixed")
    write_geo_parquet(df, path, num_partitions=1)
    clustered = spark.read.parquet(path)
    plain = df  # no bbox sidecars -> pure-UDF exact path (ground truth)
    expected = {"within": {0, 1, 6, 8}, "intersects": {0, 1, 2, 4, 5, 6, 7, 8}}
    for exact in ("within", "intersects"):
        fast = {r.id for r in filter_bbox(clustered, 10, 10, 20, 20, exact=exact).collect()}
        slow = {r.id for r in filter_bbox(plain, 10, 10, 20, 20, exact=exact).collect()}
        assert fast == slow == expected[exact], exact
    # an inverted window (max bounds first) is the same window: the
    # layout lane and the UDF lane both normalize it per axis
    for frame in (clustered, plain):
        assert {r.id for r in filter_bbox(frame, 14, 14, 12, 12, exact="within").collect()} == {0}
    # the plan short-circuits in ONE scan (the former union-of-branches
    # read the pruned files twice): the boundary band is decided by the
    # SQL-text WKB kernel behind the sure term, so no Python eval node,
    # no Union, a single parquet scan
    for exact in ("within", "intersects"):
        plan = filter_bbox(clustered, 10, 10, 20, 20, exact=exact)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 0 and "BatchEvalPython" not in plan, exact
        assert "Union" not in plan
        assert plan.count("Scan parquet") == 1


def test_vacuum_reclaims_crash_orphans(spark, layout):
    """Files written by a commit that crashed before publishing its
    manifest are reclaimed; dirs numbered above the current version
    (possible in-flight commit) are never touched."""
    import shutil

    path, pts = layout  # v1 committed
    # simulate a crashed append: data dir exists, no manifest
    src = os.path.join(path, "data-00000001")
    orphan = os.path.join(path, "data-00000000")
    shutil.copytree(src, orphan)
    inflight = os.path.join(path, "data-00000009")
    shutil.copytree(src, inflight)
    removed = vacuum_geo_snapshot(spark, path, keep_last=1)
    assert removed > 0
    assert not os.path.isdir(orphan) or not any(
        f.endswith(".parquet") for f in os.listdir(orphan)
    )
    assert any(f.endswith(".parquet") for f in os.listdir(inflight))
    assert read_geo_snapshot(spark, path).count() == 5000


def test_delete_rewrites_only_affected_files(spark, layout):
    from duckdb_spatial_spark.plans.snapshot import delete_geo_snapshot

    path, _ = layout
    man1 = read_geo_snapshot(spark, path)
    n0 = man1.count()
    # windowed delete: only files overlapping the bbox window get rewritten
    v = delete_geo_snapshot(
        spark, path,
        "bbox_min_x > 100 AND bbox_min_x < 300 AND bbox_min_y > 100 AND bbox_min_y < 300",
    )
    assert v == 2
    after = read_geo_snapshot(spark, path)
    n_del = man1.filter(
        "bbox_min_x > 100 AND bbox_min_x < 300 AND bbox_min_y > 100 AND bbox_min_y < 300"
    ).count()
    assert n_del > 0
    assert after.count() == n0 - n_del
    assert after.filter(
        "bbox_min_x > 100 AND bbox_min_x < 300 AND bbox_min_y > 100 AND bbox_min_y < 300"
    ).count() == 0
    # time travel: v1 still reads the pre-delete rows
    assert read_geo_snapshot(spark, path, version=1).count() == n0
    # untouched files carried over BY REFERENCE (not rewritten): the new
    # manifest shares file entries with v1
    import json, os

    m1 = json.load(open(os.path.join(path, "_manifest-v00000001.json")))
    m2 = json.load(open(os.path.join(path, "_manifest-v00000002.json")))
    shared = set(m1["files"]) & set(m2["files"])
    assert shared, "expected at least one untouched file to carry over"
    assert set(m2["files"]) - set(m1["files"]), "expected rewritten files in a new data dir"
    # rewritten files keep the layout's writer encoding (zstd column chunks)
    import pyarrow.parquet as pq

    def codecs(files):
        out = set()
        for f in files:
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            out |= {
                md.row_group(g).column(c).compression
                for g in range(md.num_row_groups)
                for c in range(md.num_columns)
            }
        return out

    assert codecs(m1["files"]) == codecs(m2["files"]) == {"ZSTD"}


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    """Rows where the delete predicate evaluates to NULL never MATCHED the
    delete and must survive the COW rewrite (Delta/Iceberg semantics)."""
    from duckdb_spatial_spark.plans.snapshot import (
        delete_geo_snapshot,
        write_geo_snapshot,
    )

    path = str(tmp_path / "snapnull")
    df = spark.range(300).selectExpr(
        "id",
        "CAST(id % 100 AS DOUBLE) AS x",
        "CAST(id DIV 100 AS DOUBLE) AS y",
        "CASE WHEN id % 3 = 0 THEN NULL"
        " WHEN id % 3 = 1 THEN 'del' ELSE 'keep' END AS tag",
    )
    write_geo_snapshot(df, path, bounds=(0, 0, 100, 3),
                       num_partitions=2, point_xy=("x", "y"))
    v = delete_geo_snapshot(spark, path, "tag = 'del'")
    assert v == 2
    after = read_geo_snapshot(spark, path)
    assert after.filter("tag = 'del'").count() == 0
    # NULL-tag rows did not match the predicate -> retained
    assert after.filter("tag IS NULL").count() == 100
    assert after.count() == 200


def test_upsert_updates_and_inserts(spark, layout):
    """MERGE: matched keys take the source row, unmatched source rows are
    inserted, untouched files carry over by reference, and prior versions
    still time-travel to the pre-merge data."""
    import json

    from duckdb_spatial_spark.plans.snapshot import upsert_geo_snapshot

    path, _ = layout  # ids 0..4999
    # a single updated key lives in ONE hilbert file -> the other v1
    # files must carry over by reference
    upd = spark.range(15, 16).selectExpr(
        "id", "CAST(1.5 AS DOUBLE) AS x", "CAST(2.5 AS DOUBLE) AS y"
    )
    ins = spark.range(10000, 10010).selectExpr(
        "id", "CAST(3.5 AS DOUBLE) AS x", "CAST(4.5 AS DOUBLE) AS y"
    )
    v = upsert_geo_snapshot(
        spark, path, upd.unionByName(ins), "id",
        num_partitions=2, point_xy=("x", "y"),
    )
    assert v == 2
    after = read_geo_snapshot(spark, path)
    assert after.count() == 5010
    assert after.filter("id = 15").count() == 1  # replaced, not duplicated
    # the point lane stores coordinates as the bbox sidecars; recomputed
    # sidecars must agree with the NEW source coordinates
    assert after.filter(
        "id = 15 AND bbox_min_x = 1.5 AND bbox_min_y = 2.5"
    ).count() == 1
    assert after.filter("id >= 10000").count() == 10
    # time travel: v1 still has the original row and no inserts
    old = read_geo_snapshot(spark, path, version=1)
    assert old.filter("id = 15 AND bbox_min_x = 1.5").count() == 0
    assert old.filter("id >= 10000").count() == 0
    # untouched files carried by reference
    m1 = json.load(open(os.path.join(path, "_manifest-v00000001.json")))
    m2 = json.load(open(os.path.join(path, "_manifest-v00000002.json")))
    assert set(m1["files"]) & set(m2["files"])
    # duplicate source keys are ambiguous -> rejected
    with pytest.raises(ValueError, match="duplicate"):
        upsert_geo_snapshot(spark, path, upd.unionByName(upd), "id",
                            point_xy=("x", "y"))


def test_upsert_insert_only_touches_no_files(spark, layout):
    """A source with no matched keys rewrites nothing: every v1 file
    carries over and the new generation holds only the inserts."""
    import json

    from duckdb_spatial_spark.plans.snapshot import upsert_geo_snapshot

    path, _ = layout
    ins = spark.range(20000, 20005).selectExpr(
        "id", "CAST(7.0 AS DOUBLE) AS x", "CAST(8.0 AS DOUBLE) AS y"
    )
    v = upsert_geo_snapshot(spark, path, ins, "id", point_xy=("x", "y"))
    assert v == 2
    m1 = json.load(open(os.path.join(path, "_manifest-v00000001.json")))
    m2 = json.load(open(os.path.join(path, "_manifest-v00000002.json")))
    assert set(m1["files"]) <= set(m2["files"])
    assert read_geo_snapshot(spark, path).count() == 5005


def test_delete_no_match_returns_none(spark, layout):
    from duckdb_spatial_spark.plans.snapshot import delete_geo_snapshot

    path, _ = layout
    assert delete_geo_snapshot(spark, path, "bbox_min_x > 1e9") is None
    assert snapshot_version(path) == 1


def test_randomized_maintenance_fuzz(spark, tmp_path):
    """Randomized interleaved append/delete/upsert/compact/vacuum on a
    snapshot layout, windowed counts checked against a brute-force model
    after every step — the reference fuzzes its R-tree the same way
    (test/python/rtree_fuzz.py:1-50: random inserts/deletes, index
    results vs ground truth). Seeded RNG -> deterministic CI."""
    import random

    from duckdb_spatial_spark.plans.snapshot import (
        delete_geo_snapshot,
        upsert_geo_snapshot,
    )

    rng = random.Random(1337)
    path = str(tmp_path / "fuzz")
    model = {}
    next_id = 0

    def mkdf(rows):
        return spark.createDataFrame(rows, "id long, x double, y double")

    def fresh(n):
        nonlocal next_id
        rows = []
        for _ in range(n):
            rows.append((next_id, rng.uniform(0, 1000), rng.uniform(0, 1000)))
            next_id += 1
        return rows

    seed_rows = fresh(400)
    model.update({r[0]: (r[1], r[2]) for r in seed_rows})
    write_geo_snapshot(
        mkdf(seed_rows), path, bounds=(0, 0, 1000, 1000),
        num_partitions=4, point_xy=("x", "y"),
    )

    def rect():
        x1 = rng.uniform(0, 999)
        x2 = rng.uniform(x1, 1000)
        y1 = rng.uniform(0, 999)
        y2 = rng.uniform(y1, 1000)
        return x1, y1, x2, y2

    def check():
        df = read_geo_snapshot(spark, path)
        assert df.count() == len(model)
        x1, y1, x2, y2 = rect()
        got = filter_bbox(df, x1, y1, x2, y2, exact="intersects", points=True).count()
        want = sum(
            1 for (x, y) in model.values() if x1 <= x <= x2 and y1 <= y <= y2
        )
        assert got == want, (x1, y1, x2, y2)

    check()
    ops = ["append", "delete", "upsert", "append", "delete", "compact",
           "upsert", "delete", "append", "compact"]
    for op in ops:
        if op == "append":
            rows = fresh(rng.randrange(20, 120))
            append_geo_snapshot(mkdf(rows), path, num_partitions=2,
                                point_xy=("x", "y"))
            model.update({r[0]: (r[1], r[2]) for r in rows})
        elif op == "delete":
            x1, y1, x2, y2 = rect()
            delete_geo_snapshot(
                spark, path,
                f"bbox_min_x >= {x1!r} AND bbox_min_x <= {x2!r} AND "
                f"bbox_min_y >= {y1!r} AND bbox_min_y <= {y2!r}",
            )
            model = {
                i: (x, y) for i, (x, y) in model.items()
                if not (x1 <= x <= x2 and y1 <= y <= y2)
            }
        elif op == "upsert":
            existing = rng.sample(sorted(model), min(20, len(model)))
            rows = [(i, rng.uniform(0, 1000), rng.uniform(0, 1000))
                    for i in existing] + fresh(10)
            upsert_geo_snapshot(spark, path, mkdf(rows), "id",
                                num_partitions=2, point_xy=("x", "y"))
            model.update({r[0]: (r[1], r[2]) for r in rows})
        else:
            compact_geo_snapshot(spark, path, num_partitions=4)
            vacuum_geo_snapshot(spark, path, keep_last=1)
        check()
