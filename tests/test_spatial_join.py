"""Spatial join + aggregate correctness.

The grid-tessellation join must reproduce the naive cross-join +
exact-predicate result (the equivalence the reference's optimizer rewrite
guarantees, ``optimizer_rules.cpp:261-264``).
Workload shapes mirror FIXTURES.md T2/T3 (uniform points and rects).
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.functions import udfs
from duckdb_spatial_spark.operators import st_extent_agg, st_intersection_agg, st_join, st_union_agg


def _mk_points(spark, n=300, seed=7, bound=100.0):
    rng = random.Random(seed)
    rows = [(i, rng.uniform(0, bound), rng.uniform(0, bound)) for i in range(n)]
    df = spark.createDataFrame(rows, "pid long, x double, y double")
    return df.withColumn("geom", udfs.st_point("x", "y")).drop("x", "y")


def _mk_rects(spark, m=60, seed=42, bound=100.0):
    rng = random.Random(seed)
    rows = []
    for i in range(m):
        x1 = rng.uniform(0, bound)
        y1 = rng.uniform(0, bound)
        x2 = x1 + rng.uniform(0.5, 15)
        y2 = y1 + rng.uniform(0.5, 15)
        rows.append((i, f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, {x1} {y2}, {x1} {y1}))"))
    df = spark.createDataFrame(rows, "rid long, wkt string")
    return df.withColumn("geom", udfs.st_geomfromtext("wkt")).drop("wkt")


def _naive_pairs(spark, pts, rects, predicate, distance=None):
    """Cross join + exact predicate — the correctness oracle."""
    r2 = rects.withColumnRenamed("geom", "rgeom")
    crossed = pts.crossJoin(r2)
    if predicate == "dwithin":
        cond = udfs.st_dwithin(F.col("geom"), F.col("rgeom"), F.lit(float(distance)))
    else:
        cond = getattr(udfs, f"st_{predicate.replace('_', '')}")(F.col("geom"), F.col("rgeom"))
    return {(r.pid, r.rid) for r in crossed.filter(cond).select("pid", "rid").collect()}


@pytest.mark.parametrize("strategy", ["grid"])
def test_point_in_rect_join(spark, strategy):
    pts = _mk_points(spark)
    rects = _mk_rects(spark)
    expected = _naive_pairs(spark, pts, rects, "within")
    got = st_join(pts, rects, predicate="within", strategy=strategy)
    pairs = {(r.pid, r.rid) for r in got.select("pid", "rid").collect()}
    assert pairs == expected
    assert len(expected) > 50  # workload is non-trivial


@pytest.mark.parametrize("strategy", ["grid"])
def test_rect_rect_intersects_join(spark, strategy):
    a = _mk_rects(spark, m=40, seed=1).withColumnRenamed("rid", "pid")
    b = _mk_rects(spark, m=40, seed=2)
    expected = _naive_pairs(spark, a, b, "intersects")
    got = st_join(a, b, predicate="intersects", strategy=strategy)
    pairs = {(r.pid, r.rid) for r in got.select("pid", "rid").collect()}
    assert pairs == expected
    assert len(expected) > 20


def test_dwithin_join(spark):
    pts = _mk_points(spark, n=150, seed=3)
    other = _mk_points(spark, n=100, seed=4).withColumnRenamed("pid", "rid")
    expected = _naive_pairs(spark, pts, other, "dwithin", distance=5.0)
    got = st_join(pts, other, predicate="dwithin", distance=5.0)
    pairs = {(r.pid, r.rid) for r in got.select("pid", "rid").collect()}
    assert pairs == expected
    assert len(expected) > 30


def test_join_how_variants(spark):
    pts = _mk_points(spark, n=100, seed=5)
    rects = _mk_rects(spark, m=20, seed=6)
    inner = st_join(pts, rects, predicate="within")
    matched_pids = {r.pid for r in inner.select("pid").distinct().collect()}
    semi = st_join(pts, rects, predicate="within", how="left_semi")
    assert {r.pid for r in semi.collect()} == matched_pids
    anti = st_join(pts, rects, predicate="within", how="left_anti")
    assert {r.pid for r in anti.collect()} == {r.pid for r in pts.collect()} - matched_pids
    left = st_join(pts, rects, predicate="within", how="left")
    assert left.count() >= pts.count()
    assert left.filter(F.col("rid").isNull()).count() == pts.count() - len(
        [r for r in inner.select("pid").distinct().collect()]
    )


def test_join_how_null_payload_and_duplicates(spark):
    # left rows with NULL payload columns and exact-duplicate rows must
    # survive left/semi/anti reconciliation (surrogate-id join, not
    # full-row equality)
    pts = _mk_points(spark, n=60, seed=11)
    pts = pts.withColumn(
        "tag", F.when(F.col("pid") % 3 == 0, F.lit(None).cast("string")).otherwise(F.lit("t"))
    )
    dup = pts.filter(F.col("pid") < 5)
    pts2 = pts.unionByName(dup)  # 5 duplicated rows
    rects = _mk_rects(spark, m=15, seed=12)

    inner = st_join(pts2, rects, predicate="within")
    matched_pids = {r.pid for r in inner.select("pid").distinct().collect()}
    n_left = pts2.count()
    n_matched_rows = pts2.filter(F.col("pid").isin(list(matched_pids))).count()

    semi = st_join(pts2, rects, predicate="within", how="left_semi")
    assert semi.count() == n_matched_rows  # duplicates preserved, NULL tag kept
    assert {r.pid for r in semi.collect()} == matched_pids

    anti = st_join(pts2, rects, predicate="within", how="left_anti")
    assert anti.count() == n_left - n_matched_rows
    assert {r.pid for r in anti.collect()} == {r.pid for r in pts2.collect()} - matched_pids

    left = st_join(pts2, rects, predicate="within", how="left")
    # every left row appears: matched rows once per match, unmatched once
    assert left.filter(F.col("rid").isNull()).count() == n_left - n_matched_rows
    assert left.select("pid").distinct().count() == pts2.select("pid").distinct().count()
    assert "__sj_left_id" not in left.columns


def test_extent_union_intersection_agg(spark):
    # overlapping unit squares with 50% offsets per group (FIXTURES T7)
    rows = []
    for grp in range(3):
        for k in range(4):
            x = k * 0.5
            rows.append((grp, f"POLYGON (({x} 0, {x + 1} 0, {x + 1} 1, {x} 1, {x} 0))"))
    df = (
        spark.createDataFrame(rows, "grp int, wkt string")
        .withColumn("geom", udfs.st_geomfromtext("wkt"))
        .drop("wkt")
    )
    ext = st_extent_agg(df, "geom", ["grp"]).orderBy("grp").collect()
    assert all((r.min_x, r.max_x) == (0.0, 2.5) for r in ext)

    uni = st_union_agg(df, "geom", ["grp"])
    uni = uni.withColumn("area", udfs.st_area("union_agg")).collect()
    for r in uni:
        assert abs(r.area - 2.5) < 1e-9  # union of staggered squares: 2.5 x 1

    inter = st_intersection_agg(df, "geom", ["grp"])
    inter = inter.withColumn("area", udfs.st_area("intersection_agg")).collect()
    for r in inter:
        assert abs(r.area) < 1e-9  # no common cell across 4 offsets (span 1.5..2.5 vs 0..1)


def test_join_null_and_empty_geoms(spark):
    # NULL / EMPTY rows are skipped like the reference's index build filter
    # (rtree_index_create_logical.cpp:45-76)
    pts = _mk_points(spark, n=50, seed=9)
    pts_with_null = pts.withColumn(
        "geom", F.when(F.col("pid") % 10 == 0, F.lit(None).cast("binary")).otherwise(F.col("geom"))
    )
    rects = _mk_rects(spark, m=10, seed=10)
    got = st_join(pts_with_null, rects, predicate="within")
    assert got.filter(F.col("geom").isNull()).count() == 0


def test_native_point_box_join(spark):
    """Native fast lane (left_point + right_is_box) must equal the
    geometry-path result, with zero Python in the plan."""
    import random

    rng = random.Random(11)
    pts_rows = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(400)]
    pts = spark.createDataFrame(pts_rows, "pid long, x double, y double")
    rect_rows = []
    for i in range(50):
        x1, y1 = rng.uniform(0, 90), rng.uniform(0, 90)
        rect_rows.append((i, x1, y1, x1 + rng.uniform(1, 10), y1 + rng.uniform(1, 10)))
    rects = spark.createDataFrame(rect_rows, "rid long, mnx double, mny double, mxx double, mxy double")

    native = st_join(
        pts, rects, predicate="within",
        left_point=("x", "y"), right_bbox=("mnx", "mny", "mxx", "mxy"), right_is_box=True,
    )
    native_pairs = {(r.pid, r.rid) for r in native.select("pid", "rid").collect()}

    # geometry-path oracle
    gp = pts.withColumn("geom", udfs.st_point("x", "y")).select("pid", "geom")
    gr = rects.withColumn(
        "geom", udfs.st_makeenvelope("mnx", "mny", "mxx", "mxy")
    ).select("rid", "geom")
    geom_pairs = {(r.pid, r.rid) for r in st_join(gp, gr, predicate="within").select("pid", "rid").collect()}
    assert native_pairs == geom_pairs and len(native_pairs) > 50

    plan = native._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    # dwithin native lane
    nd = st_join(
        pts, rects, predicate="dwithin", distance=3.0,
        left_point=("x", "y"), right_bbox=("mnx", "mny", "mxx", "mxy"), right_is_box=True,
    )
    gd = st_join(gp, gr, predicate="dwithin", distance=3.0)
    assert {(r.pid, r.rid) for r in nd.select("pid", "rid").collect()} == {
        (r.pid, r.rid) for r in gd.select("pid", "rid").collect()
    }


def test_collect_agg_two_level_fold(spark):
    from duckdb_spatial_spark.operators import st_collect_agg
    from duckdb_spatial_spark.geo import from_wkb

    # semantics: equals single-pass ST_Collect per group (set equality of
    # dumped children; order is partition-dependent either way)
    pts = _mk_points(spark, n=200, seed=21).withColumn("grp", F.col("pid") % 4)
    out = {r.grp: r.collected for r in st_collect_agg(pts, "geom", ["grp"]).collect()}
    assert set(out) == {0, 1, 2, 3}
    for grp, blob in out.items():
        g = from_wkb(bytes(blob))
        assert g.type_name == "MULTIPOINT"
        got = {(round(float(p.data[0]), 9), round(float(p.data[1]), 9)) for p in g.data}
        exp_rows = pts.filter(F.col("grp") == grp).select(
            udfs.st_x("geom").alias("x"), udfs.st_y("geom").alias("y")
        ).collect()
        assert got == {(round(r.x, 9), round(r.y, 9)) for r in exp_rows}

    # one dominant group at 1M rows: must complete without a single-task
    # collect_list materialization
    big = (
        spark.range(1_000_000)
        .select(
            F.lit(0).alias("grp"),
            udfs.st_point((F.col("id") % 1000).cast("double"),
                          (F.col("id") % 997).cast("double")).alias("geom"),
        )
        .repartition(16)
    )
    row = st_collect_agg(big, "geom", ["grp"]).collect()[0]
    g = from_wkb(bytes(row.collected))
    assert g.type_name == "MULTIPOINT" and len(g.data) == 1_000_000


def _skewed_fixture(spark):
    """90% of 2,000 points in one tiny spot (a 'dense city', one grid
    cell) against 30 random rects plus 5 rects covering the spot."""
    rng = random.Random(31)
    rows = []
    for i in range(2000):
        if i % 10 != 0:  # 90% clustered in [49.9, 50.1]^2
            rows.append((i, 49.9 + rng.random() * 0.2, 49.9 + rng.random() * 0.2))
        else:
            rows.append((i, rng.uniform(0, 100), rng.uniform(0, 100)))
    pts = spark.createDataFrame(rows, "pid long, x double, y double").withColumn(
        "geom", udfs.st_point("x", "y")
    ).drop("x", "y")
    rects = _mk_rects(spark, m=30, seed=32)
    hot_rects = spark.createDataFrame(
        [(100 + i, f"POLYGON ((49 49, 51 49, 51 51, 49 51, 49 49))") for i in range(5)],
        "rid long, wkt string",
    ).withColumn("geom", udfs.st_geomfromtext("wkt")).drop("wkt")
    return pts, rects.unionByName(hot_rects)


def test_grid_join_skewed_hot_cell(spark):
    """A dense city must keep the grid join correct (pairs meet exactly
    once)."""
    pts, rects = _skewed_fixture(spark)
    expected = _naive_pairs(spark, pts, rects, "within")
    got = st_join(pts, rects, predicate="within", strategy="grid")
    pairs = [(r.pid, r.rid) for r in got.select("pid", "rid").collect()]
    assert len(pairs) == len(set(pairs))  # no duplicate emissions
    assert set(pairs) == expected
    assert len(expected) > 5000  # the hot spot really concentrates pairs


def test_grid_join_hot_cell_split_by_aqe(spark):
    """With broadcast off, the hot cell's shuffle partition is split by
    AQE's skew-join handling — the operator itself does no salting — and
    the pairs stay exact."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pts, rects = _skewed_fixture(spark)
        got = st_join(pts, rects, predicate="within").select("pid", "rid")
        pairs = [(r.pid, r.rid) for r in got.collect()]
        # the adaptive plan is final only after the collect above
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert len(pairs) == len(set(pairs))
        assert set(pairs) == _naive_pairs(spark, pts, rects, "within")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rejects_disjoint_and_removed_strategies(spark):
    pts = _mk_points(spark, n=10)
    rects = _mk_rects(spark, m=5)
    with pytest.raises(ValueError, match="not accelerable"):
        st_join(pts, rects, predicate="disjoint")
    for strategy in ("broadcast", "auto"):
        with pytest.raises(ValueError, match="removed"):
            st_join(pts, rects, predicate="within", strategy=strategy)


def test_left_bbox_persisted_sidecars(spark):
    """left_bbox: a layout with persisted bbox sidecar columns joins
    without the left-side WKB decode pass (the ingest-time-bbox lever).
    Geometry stays available for the exact recheck; only the bbox build
    is native. Pairs must equal the full geometry path."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(300):
        x, y = rng.uniform(0, 100), rng.uniform(0, 100)
        rows.append((i, x, y))
    pts = spark.createDataFrame(rows, "pid long, x double, y double")
    # simulate a write_geo_parquet layout: WKB geom + bbox sidecars
    lay = (
        pts.withColumn("geom", udfs.st_point("x", "y"))
        .selectExpr(
            "pid", "geom",
            "x AS bbox_min_x", "y AS bbox_min_y", "x AS bbox_max_x", "y AS bbox_max_y",
        )
    )
    rects = _mk_rects(spark, m=40, seed=8)
    via_bbox = st_join(
        lay, rects, predicate="within",
        left_bbox=("bbox_min_x", "bbox_min_y", "bbox_max_x", "bbox_max_y"),
    )
    got = {(r.pid, r.rid) for r in via_bbox.select("pid", "rid").collect()}
    gp = lay.select("pid", "geom")
    want = {(r.pid, r.rid) for r in st_join(gp, rects, predicate="within").select("pid", "rid").collect()}
    assert got == want and len(got) > 20
    # no mapInPandas bbox pass on the left: the only Python eval left is
    # the recheck UDF itself
    plan = via_bbox._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") <= 1  # right side only


def test_grid_box_shortcircuit_boundary_and_mixed_rights(spark):
    """The grid lane's solid-rectangle short-circuit (r_is_box + bbox
    containment decides within/intersects JVM-side; only boundary-band and
    non-box pairs reach the recheck UDF) must not change ANY answer:
    points exactly ON box edges/corners, rights mixed between axis-aligned
    boxes, a concave polygon whose bbox over-approximates it, a rotated
    (non-axis-aligned) quad, and a degenerate zero-height 'box'."""
    pts_rows = [
        (0, 5.0, 5.0),    # strictly inside box A
        (1, 0.0, 5.0),    # on A's left edge: within=False, intersects=True
        (2, 0.0, 0.0),    # A's corner
        (3, 10.0, 10.0),  # A's opposite corner
        (4, 28.0, 28.0),  # in concave C's notch: in bbox, NOT in C
        (5, 25.0, 21.0),  # inside concave C
        (6, 45.0, 45.0),  # centre of rotated quad R
        (7, 41.0, 49.0),  # in R's bbox but outside the rotated quad
        (8, 65.0, 60.0),  # on the degenerate box D (zero-height segment)
        (9, 99.0, 99.0),  # far away
    ]
    pts = spark.createDataFrame(pts_rows, "pid long, x double, y double").withColumn(
        "geom", udfs.st_point("x", "y")
    ).select("pid", "geom")
    rights = [
        (0, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),          # box A
        (1, "POLYGON ((20 20, 30 20, 30 25, 26 25, 26 30, 20 30, 20 20))"),  # concave C
        (2, "POLYGON ((45 40, 50 45, 45 50, 40 45, 45 40))"),    # rotated quad R
        (3, "POLYGON ((60 60, 70 60, 70 60, 60 60, 60 60))"),    # degenerate D
    ]
    rects = spark.createDataFrame(rights, "rid long, wkt string").withColumn(
        "geom", udfs.st_geomfromtext("wkt")
    ).select("rid", "geom")

    for predicate in ("within", "intersects", "covered_by"):
        expected = _naive_pairs(spark, pts, rects, predicate)
        got = st_join(pts, rects, predicate=predicate, strategy="grid", cell_size=8.0)
        pairs = {(r.pid, r.rid) for r in got.select("pid", "rid").collect()}
        assert pairs == expected, f"{predicate}: {pairs ^ expected}"
    # sanity: the fixture exercises both sure-true and recheck lanes
    w = _naive_pairs(spark, pts, rects, "within")
    i = _naive_pairs(spark, pts, rects, "intersects")
    assert (0, 0) in w and (1, 0) not in w and (1, 0) in i
    assert (4, 1) not in i and (5, 1) in i and (7, 2) not in i


def test_box_flags_detector():
    import numpy as np
    import pandas as pd

    from duckdb_spatial_spark.functions import fastpath
    from duckdb_spatial_spark.geo.wkt import from_wkt
    from duckdb_spatial_spark.geo.wkb import to_wkb

    wkts = [
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",       # ccw box
        "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))",       # cw box
        "POLYGON ((10 10, 0 10, 0 0, 10 0, 10 10))",     # other start corner
        "POLYGON ((45 40, 50 45, 45 50, 40 45, 45 40))", # rotated quad
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 5, 0 0))",  # 6-point box outline
        "POLYGON ((0 0, 10 0, 10 0, 0 0, 0 0))",         # degenerate
        "POINT (3 4)",
        None,
    ]
    vals = [to_wkb(from_wkt(w)) if w else None for w in wkts]
    s = pd.Series(vals, dtype=object)
    mnx, mny, mxx, mxy = fastpath.bbox_arrays(s)
    flags = fastpath.box_flags(s, mnx, mny, mxx, mxy)
    assert flags.tolist() == [True, True, True, False, False, False, False, False]


def test_grid_box_shortcircuit_contains_covers(spark):
    """Symmetric lane: a solid-rectangle LEFT decides contains/covers
    JVM-side; boundary-touching and non-box lefts still hit the UDF."""
    lefts = [
        (0, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),        # box
        (1, "POLYGON ((20 20, 30 20, 30 25, 26 25, 26 30, 20 30, 20 20))"),  # concave
        (2, "POLYGON ((40 40, 50 45, 45 50, 35 45, 40 40))"),  # non-box
    ]
    rights = [
        (0, "POINT (5 5)"),      # strictly inside box 0
        (1, "POINT (0 5)"),      # on box 0 boundary: contains F, covers T
        (2, "LINESTRING (2 2, 8 8)"),
        (3, "POINT (28 28)"),    # concave notch: in bbox, outside geom
        (4, "POINT (22 22)"),    # inside concave
        (5, "POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))"),  # polygon inside box
        (6, "POINT (45 45)"),    # inside quad 2
    ]
    a = spark.createDataFrame(lefts, "pid long, wkt string").withColumn(
        "geom", udfs.st_geomfromtext("wkt")).select("pid", "geom")
    b = spark.createDataFrame(rights, "rid long, wkt string").withColumn(
        "geom", udfs.st_geomfromtext("wkt")).select("rid", "geom")
    for predicate in ("contains", "covers"):
        expected = _naive_pairs(spark, a, b, predicate)
        got = st_join(a, b, predicate=predicate, strategy="grid", cell_size=8.0)
        pairs = {(r.pid, r.rid) for r in got.select("pid", "rid").collect()}
        assert pairs == expected, f"{predicate}: {pairs ^ expected}"
    cw = _naive_pairs(spark, a, b, "covers")
    cn = _naive_pairs(spark, a, b, "contains")
    assert (0, 1) in cw and (0, 1) not in cn  # boundary point
    assert (0, 5) in cn and (1, 3) not in cw and (1, 4) in cn


def test_zonal_stats(spark):
    """Zonal statistics composition: join + per-zone aggregates match a
    brute-force groupBy over the naive join."""
    from duckdb_spatial_spark.operators import st_join
    from duckdb_spatial_spark.operators.join import zonal_stats

    pts = _mk_points(spark, n=400, seed=21)
    pts = pts.withColumn("v", (F.col("pid") % 13).cast("double"))
    zones = _mk_rects(spark, m=25, seed=22).withColumnRenamed("rid", "zone_id")
    got = {
        r.zone_id: r
        for r in zonal_stats(
            pts, zones, "v", zone_cols=("zone_id",),
            predicate="within", strategy="grid", cell_size=10.0,
        ).collect()
    }
    naive = st_join(pts, zones.withColumnRenamed("zone_id", "zid"), predicate="within")
    want = {
        r.zid: r
        for r in naive.groupBy("zid").agg(
            F.count("*").alias("n"), F.sum("v").alias("s"),
            F.avg("v").alias("a"), F.min("v").alias("mn"), F.max("v").alias("mx"),
        ).collect()
    }
    assert set(got) == set(want) and len(got) > 10
    for z, w in want.items():
        g = got[z]
        assert g.n_cells == w.n and g.sum_v == w.s
        assert g.min_v == w.mn and g.max_v == w.mx


def test_grid_box_shortcircuit_plan_shape(spark):
    """Regression pin: the grid lane's recheck UDF inputs are MASKED for
    sure pairs (Catalyst evaluates extracted Python UDFs unconditionally,
    so the lever is NULL inputs — no WKB transfers for decided rows), and
    the sure-true bbox decision appears as a pure-Column disjunct."""
    pts = spark.range(100).select(
        "id",
        udfs.st_point(
            (F.col("id") % 10).cast("double"), (F.col("id") % 7).cast("double")
        ).alias("geom"),
    )
    rects = spark.range(20).select(
        F.col("id").alias("rid"),
        udfs.st_makeenvelope(
            F.col("id").cast("double"), F.lit(0.0),
            F.col("id").cast("double") + 5.0, F.lit(5.0),
        ).alias("geom"),
    )
    j = st_join(pts, rects, predicate="within", strategy="grid", cell_size=4.0)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "st_within(CASE WHEN NOT coalesce((r_is_box" in plan
    assert "OR coalesce(pythonUDF" in plan  # sure-true disjunct bypasses the UDF verdict
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


_BBOX = ("mnx", "mny", "mxx", "mxy")


def _rect_rows(rng, m):
    rows = []
    for i in range(m):
        x1, y1 = rng.uniform(0, 90), rng.uniform(0, 90)
        rows.append((i, x1, y1, x1 + rng.uniform(1, 10), y1 + rng.uniform(1, 10)))
    return rows


def _point_box_frames(spark, pts_rows, rect_rows):
    """Points as x/y columns plus WKB, boxes as bbox sidecars plus WKB."""
    pts = spark.createDataFrame(pts_rows, "pid long, x double, y double").withColumn(
        "geom", udfs.st_point("x", "y")
    )
    rects = spark.createDataFrame(rect_rows, "rid long, mnx double, mny double, mxx double, mxy double")
    return pts, rects.withColumn("geom", udfs.st_makeenvelope(*_BBOX))


def test_grid_sizing_ignores_non_finite_rows(spark):
    """One NaN or infinite coordinate must not poison the grid sizing: the
    parameters stay finite and equal those of the clean input (a NaN left
    point used to give a NaN cell size, a NaN right mnx a cell ~700x too
    small), and the pairs stay exact."""
    from duckdb_spatial_spark.operators.join import _grid_params, _sidecar

    rng = random.Random(17)
    pts_rows = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(300)]
    rect_rows = _rect_rows(rng, 50)
    nan, inf = float("nan"), float("inf")
    bad_pts = pts_rows + [(300, nan, 5.0), (301, 5.0, -inf)]
    bad_rects = rect_rows + [(50, nan, 1.0, 2.0, 3.0), (51, 1.0, 1.0, inf, 3.0)]
    clean_p, clean_r = _point_box_frames(spark, pts_rows, rect_rows)
    bad_p, bad_r = _point_box_frames(spark, bad_pts, bad_rects)

    def params(p, r):
        sides = [(_sidecar(p, ("x", "y", "x", "y"), "l"), "l"), (_sidecar(r, _BBOX, "r"), "r")]
        return _grid_params(sides, None), _grid_params(sides[1:], None)

    got, want = params(bad_p, bad_r), params(clean_p, clean_r)
    assert got == want
    assert all(math.isfinite(v) for v in got[0] + got[1])

    expected = _naive_pairs(spark, clean_p.select("pid", "geom"), clean_r.select("rid", "geom"), "within")
    assert len(expected) > 30
    for form in ({"left_point": ("x", "y")}, {"left_bbox": ("x", "y", "x", "y")}):
        j = st_join(bad_p, bad_r, predicate="within", right_bbox=_BBOX, **form)
        assert {(r.pid, r.rid) for r in j.select("pid", "rid").collect()} == expected, form


def test_point_left_is_not_sampled_and_cells_do_not_alias(spark):
    """A point left is never sampled: the grid comes from the first 10k
    right rows alone. Points about 1e6 away from that extent (negative
    and positive), and right boxes placed there after the first 10k rows,
    must still give exact pairs, each once."""
    rng = random.Random(23)
    rect_rows = _rect_rows(rng, 10_000)
    far = [(-1.0e6, -1.0e6), (1.0e6, -1.0e6), (1.0e6, 1.0e6)]
    pts_rows = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(10)]
    for j, (fx, fy) in enumerate(far):  # outliers after the sampled rows
        rect_rows.append((10_100 + j, fx - 50.0, fy - 50.0, fx + 50.0, fy + 50.0))
        for k in range(4):
            x1, y1 = fx + rng.uniform(0, 20), fy + rng.uniform(0, 20)
            rect_rows.append((10_000 + 4 * j + k, x1, y1, x1 + rng.uniform(1, 10), y1 + rng.uniform(1, 10)))
        for _ in range(5):
            pts_rows.append((len(pts_rows), fx + rng.uniform(0, 30), fy + rng.uniform(0, 30)))
    pts, rects = _point_box_frames(spark, pts_rows, rect_rows)

    expected = _naive_pairs(spark, pts.select("pid", "geom"), rects.select("rid", "geom"), "within")
    got = st_join(pts, rects, predicate="within", left_point=("x", "y"), right_bbox=_BBOX)
    pairs = [(r.pid, r.rid) for r in got.select("pid", "rid").collect()]
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == expected
    assert {rid for _, rid in expected} & {10_100, 10_101, 10_102} == {10_100, 10_101, 10_102}


def test_cells_far_apart_in_y_do_not_share_a_join_key(spark):
    """Cells ``(0, 2^22 + 3)`` and ``(1, 3)`` are different cells: a point
    in the second, against a tall box that spans both columns, is one pair
    (a cell id packed as ``cx * 2^22 + cy`` gave both the same key and
    returned the pair twice). The box explodes onto 2 x (2^22 + 11) cells,
    so the one-row point side is the one broadcast."""
    pts = F.broadcast(spark.createDataFrame([(0, 1.2, 3.5)], "pid long, x double, y double"))
    rects = spark.createDataFrame([(0, 0.5, 0.0, 1.5, float(2**22 + 10))],
                                  "rid long, mnx double, mny double, mxx double, mxy double")
    got = st_join(pts, rects, predicate="within", left_point=("x", "y"), right_bbox=_BBOX,
                  right_is_box=True, cell_size=1.0)
    assert [(r.pid, r.rid) for r in got.select("pid", "rid").collect()] == [(0, 0)]


def _jobs_in(spark, group, fn):
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_st_join_plan_launches_at_most_one_job(spark):
    """Building a point x bbox join (no action) runs only the one grid
    sizing sample of the right side; with ``cell_size=`` it runs none."""
    rng = random.Random(29)
    pts, rects = _point_box_frames(
        spark, [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(200)], _rect_rows(rng, 40)
    )

    def build(**kw):
        return lambda: st_join(
            pts, rects, predicate="within", left_point=("x", "y"), right_bbox=_BBOX, **kw
        )

    assert _jobs_in(spark, "st_join-plan-sized", build()) <= 1
    assert _jobs_in(spark, "st_join-plan-cell-size", build(cell_size=5.0)) == 0


def test_st_join_restores_caller_job_description(spark):
    """The sizing job runs under its own description; the caller's
    description (or its absence) is back in place after st_join."""
    rng = random.Random(31)
    pts, rects = _point_box_frames(
        spark, [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(50)], _rect_rows(rng, 20)
    )
    sc = spark.sparkContext
    sc.setJobDescription("caller: nightly report")
    try:
        st_join(pts, rects, predicate="within", left_point=("x", "y"), right_bbox=_BBOX)
        assert sc.getLocalProperty("spark.job.description") == "caller: nightly report"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    st_join(pts, rects, predicate="within", left_point=("x", "y"), right_bbox=_BBOX)
    assert sc.getLocalProperty("spark.job.description") is None
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    descs = {jobs.apply(i).description() for i in range(jobs.size())}
    descs = {d.get() for d in descs if d.isDefined()}
    assert "st_join: grid sizing sample" in descs


def test_recheck_udf_built_once_per_key():
    """The exact recheck of every accepted predicate is the SQL registry's
    module-level ST_* UDF: no st_join builds a new UDF, and the join, SQL
    and filters share one kernel."""
    from duckdb_spatial_spark import functions
    from duckdb_spatial_spark.operators.join import _PREDICATES, _recheck

    assert len(_PREDICATES) == 11
    for name in _PREDICATES:
        assert _recheck(name) is functions._REGISTRY["st_" + name.replace("_", "")], name


class _Untouched:
    """A frame stand-in that fails on any use: proves a ValueError is
    raised before a plan is built."""

    def __getattr__(self, name):
        raise AssertionError(f"st_join read df.{name} before validating its arguments")


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"cell_size": 0}, "cell_size"),
        ({"cell_size": -2}, "cell_size"),
        ({"cell_size": math.inf}, "cell_size"),
        ({"cell_size": math.nan}, "cell_size"),
        ({"predicate": "dwithin", "distance": math.inf}, "distance"),
        ({"predicate": "dwithin", "distance": math.nan}, "distance"),
        ({"predicate": "dwithin", "distance": -math.inf}, "distance"),
    ],
)
def test_st_join_rejects_bad_numeric_arguments(kwargs, match):
    """A zero, negative or non-finite ``cell_size`` and a non-finite
    ``distance`` are ValueErrors raised before any plan is built (they
    failed at execution with DIVIDE_BY_ZERO, or at analysis on a column
    named ``infD`` / ``nanD``)."""
    with pytest.raises(ValueError, match=match):
        st_join(_Untouched(), _Untouched(), **kwargs)
