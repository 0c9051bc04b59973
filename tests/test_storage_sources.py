"""Hilbert clustering + bbox pruning (R-tree analog) and GeoJSON IO.

A/B workload mirrors the reference benchmark pair
``benchmark/rtree_points_index.benchmark`` vs ``_noindex``:
ST_GeneratePoints box + ST_Within(envelope) count."""

import json
import os

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.functions import udfs
from duckdb_spatial_spark.plans import filter_bbox, hilbert_cluster, write_geo_parquet
from duckdb_spatial_spark.sources import (
    read_geojson,
    st_drivers,
    st_generatepoints,
    st_read_meta,
    write_geojson,
)


def test_generate_points_deterministic(spark):
    a = st_generatepoints(spark, 0, 0, 100, 100, 1000, seed=1337)
    b = st_generatepoints(spark, 0, 0, 100, 100, 1000, seed=1337)
    ra = a.agg(F.sum("x"), F.sum("y")).collect()[0]
    rb = b.agg(F.sum("x"), F.sum("y")).collect()[0]
    assert ra == rb
    stats = a.agg(F.min("x"), F.max("x"), F.avg("x")).collect()[0]
    assert 0 <= stats[0] and stats[1] <= 100 and 40 < stats[2] < 60


def test_hilbert_cluster_and_prune(spark, tmp_path):
    pts = st_generatepoints(spark, 0, 0, 10000, 10000, 20000, seed=1337)
    out = str(tmp_path / "pts_clustered")
    write_geo_parquet(pts.repartition(8), out, num_partitions=8)
    back = spark.read.parquet(out)
    assert "hilbert" in back.columns and "bbox_min_x" in back.columns

    full_count = back.count()
    assert full_count == 20000

    # windowed count with pruning == without pruning == naive filter
    win = filter_bbox(back, 450, 450, 650, 650, exact="within").count()
    naive = (
        pts.filter((F.col("x") > 450) & (F.col("x") < 650) & (F.col("y") > 450) & (F.col("y") < 650))
        .count()
    )
    # within excludes the envelope boundary; uniform doubles never land on it
    assert win == naive

    # pruning actually skips files: the window overlaps few hilbert partitions
    files_all = {r.f for r in back.select(F.input_file_name().alias("f")).distinct().collect()}
    files_hit = {
        r.f
        for r in filter_bbox(back, 450, 450, 650, 650, exact=None)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert len(files_hit) < len(files_all)


@pytest.mark.parametrize("point_xy", [None, ("x", "y")], ids=["generic", "points"])
def test_hilbert_cluster_sampled_splits(spark, tmp_path, point_xy):
    """Both lanes range-partition by the hilbert index: they must preserve
    rows, produce partition-disjoint hilbert ranges, and prune files."""
    pts = st_generatepoints(spark, 0, 0, 10000, 10000, 20000, seed=7)
    src = pts.select("id", "x", "y") if point_xy else pts.select("id", "geom")
    clustered = hilbert_cluster(src.repartition(8), num_partitions=8, point_xy=point_xy)
    assert clustered.count() == 20000

    # partitions hold disjoint hilbert ranges (the locality contract)
    rng = (
        clustered.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.min("hilbert").alias("lo"), F.max("hilbert").alias("hi"), F.count("*").alias("n"))
        .orderBy("lo")
        .collect()
    )
    assert len(rng) > 1  # sampling found real split points
    for a, b in zip(rng, rng[1:]):
        assert a.hi <= b.lo
    # no pathological skew: largest partition < half the data
    assert max(r.n for r in rng) < 10000

    out = str(tmp_path / "pts_sampled")
    write_geo_parquet(src.repartition(8), out, num_partitions=8, point_xy=point_xy)
    back = spark.read.parquet(out)
    assert back.count() == 20000
    files_all = {r.f for r in back.select(F.input_file_name().alias("f")).distinct().collect()}
    files_hit = {
        r.f
        for r in filter_bbox(back, 450, 450, 650, 650, exact=None)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert len(files_hit) < len(files_all)


def test_geojson_roundtrip(spark, tmp_path):
    src = tmp_path / "in.geojson"
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "a", "val": 1},
                "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
            },
            {
                "type": "Feature",
                "properties": {"name": "b", "val": 2},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
                },
            },
        ],
    }
    src.write_text(json.dumps(fc))
    df = read_geojson(spark, str(src))
    rows = df.withColumn("wkt", udfs.st_astext("geom")).orderBy("name").collect()
    assert [r.name for r in rows] == ["a", "b"]
    assert rows[0].wkt == "POINT (1 2)"
    assert rows[0].val == 1

    outdir = str(tmp_path / "out_gj")
    write_geojson(df, outdir)
    texts = []
    for fn in os.listdir(outdir):
        if fn.startswith("part-"):
            texts.extend(open(os.path.join(outdir, fn)).read().splitlines())
    feats = [json.loads(t) for t in texts if t]
    assert len(feats) == 2
    assert all(f["type"] == "Feature" and f["geometry"] for f in feats)

    back = read_geojson(spark, outdir + "/*.txt") if False else None
    meta = st_read_meta(spark, str(src)).collect()[0]
    assert meta.feature_count == 2 and "Point" in meta.geometry_types
    assert st_drivers(spark).count() >= 3


def test_geo_parquet_stats_view(spark, tmp_path):
    from duckdb_spatial_spark.plans import geo_parquet_stats, write_geo_parquet
    from duckdb_spatial_spark.functions import udfs

    pts = (
        spark.range(20000)
        .selectExpr("id", "CAST(id % 100 AS DOUBLE) AS x", "CAST(id % 97 AS DOUBLE) AS y")
        .withColumn("geom", udfs.st_point("x", "y"))
        .select("id", "geom")
    )
    out = str(tmp_path / "statsds")
    write_geo_parquet(pts, out, num_partitions=4)

    st = geo_parquet_stats(spark, out).collect()
    assert len(st) >= 4  # at least one row group per partition file
    total = sum(r.n_rows for r in st)
    assert total == 20000
    for r in st:
        assert r.min_x is not None and r.min_x <= r.max_x
        assert r.hilbert_min is not None and r.hilbert_min <= r.hilbert_max
    # file-level rollup
    fl = geo_parquet_stats(spark, out, level="file").collect()
    assert sum(r.n_rows for r in fl) == 20000
    assert all(r.row_group == -1 for r in fl)
    # hilbert ranges should be (mostly) disjoint across files: clustering worked
    spans = sorted((r.hilbert_min, r.hilbert_max) for r in fl)
    overlaps = sum(1 for a, b in zip(spans, spans[1:]) if b[0] < a[1])
    assert overlaps <= 1


def test_st_read_dispatch_and_sql_view(spark, tmp_path):
    from duckdb_spatial_spark.sources import register_geo_read, st_read, write_gpkg
    from duckdb_spatial_spark.functions import udfs
    from pyspark.sql import functions as F

    path = str(tmp_path / "disp.gpkg")
    df = spark.range(10).withColumn(
        "geom", udfs.st_point(F.col("id") * 1.0, F.col("id") * 2.0)
    )
    write_gpkg(df, path, layer="pts")

    got = st_read(spark, path)  # sniffed from extension
    assert got.count() == 10

    view = register_geo_read(spark, path)
    assert view == "geo_disp"
    n = spark.sql(f"SELECT count(*) AS n FROM {view} WHERE ST_X(geom) > 4").collect()[0].n
    assert n == 5

    import pytest

    with pytest.raises(ValueError):
        st_read(spark, "file.unknownext")


def test_geojson_pushdown(spark, tmp_path):
    """Attribute filters reach the Python DataSource reader (pushFilters)
    and bbox= / columns= prune work."""
    import json as _json

    from duckdb_spatial_spark.sources import read_geojson
    from duckdb_spatial_spark.functions import udfs
    from pyspark.sql import functions as F

    path = str(tmp_path / "push.ndjson")
    with open(path, "w") as f:
        for i in range(100):
            f.write(_json.dumps({
                "type": "Feature",
                "properties": {"fid": i, "kind": "a" if i % 2 == 0 else "b"},
                "geometry": {"type": "Point", "coordinates": [float(i), float(i % 10)]},
            }) + "\n")

    df = read_geojson(spark, path)
    # filter pushdown is an early-out; results must equal the plain filter
    got = df.filter((F.col("kind") == "a") & (F.col("fid") > 50)).collect()
    assert sorted(r.fid for r in got) == [52, 54, 56, 58, 60, 62, 64, 66, 68, 70,
                                          72, 74, 76, 78, 80, 82, 84, 86, 88, 90,
                                          92, 94, 96, 98]
    assert all(r.kind == "a" for r in got)

    # the pushFilters hook actually compiled a predicate
    from duckdb_spatial_spark.sources.geojson import _filter_predicate
    from pyspark.sql.datasource import EqualTo, GreaterThan

    pred = _filter_predicate([EqualTo(("kind",), "a"), GreaterThan(("fid",), 50)])
    assert pred({"kind": "a", "fid": 60}) and not pred({"kind": "b", "fid": 60})
    assert not pred({"kind": "a", "fid": 10})

    # spatial filter: only features in the window come back
    win = read_geojson(spark, path, bbox=(10.0, 0.0, 20.0, 10.0))
    fids = sorted(r.fid for r in win.collect())
    assert fids == list(range(10, 21))

    # projection: geom excluded -> no WKB in schema
    slim = read_geojson(spark, path, columns=["fid"])
    assert slim.columns == ["fid"]
    assert slim.count() == 100


def test_point_ingest_cluster_matches_generic(spark, tmp_path):
    """point_xy= ingest lane: JVM-side stats and a post-sort point WKB
    produce the same queryable layout as the generic geometry lane."""
    pts = st_generatepoints(spark, 0, 0, 10000, 10000, 20000, seed=99)
    a, b = str(tmp_path / "generic"), str(tmp_path / "points")
    write_geo_parquet(
        pts.withColumn("geom", udfs.st_point("x", "y")).select("id", "geom"),
        a, num_partitions=8,
    )
    write_geo_parquet(pts.select("id", "x", "y"), b, num_partitions=8, point_xy=("x", "y"))
    da, db = spark.read.parquet(a), spark.read.parquet(b)
    assert sorted(db.columns) == sorted(da.columns)
    for win in ((450, 450, 650, 650), (0, 0, 10000, 10000)):
        na = filter_bbox(da, *win, exact="within").count()
        nb = filter_bbox(db, *win, exact="within").count()
        assert na == nb
    # same geometry content
    assert (
        da.selectExpr("bit_xor(xxhash64(geom)) s").collect()[0]["s"]
        == db.selectExpr("bit_xor(xxhash64(geom)) s").collect()[0]["s"]
    )


# ---------------------------------------------------------------------------
# PGDump (GDAL write-only driver analog + reader for pg_dump-style text)
# ---------------------------------------------------------------------------

def test_pgdump_roundtrip(spark, tmp_path):
    from duckdb_spatial_spark.sources.pgdump import read_pgdump, write_pgdump

    df = spark.sql(
        """
        SELECT id, concat('s', CAST(id AS STRING)) AS name,
               CAST(id AS DOUBLE) / 8 AS score, id % 2 = 0 AS flag,
               CASE WHEN id = 3 THEN NULL
                    ELSE concat('tab\\there\\nnl', CAST(id AS STRING)) END AS tricky,
               CASE WHEN id = 5 THEN NULL
                    ELSE ST_Point(CAST(id AS DOUBLE), CAST(id * 2 AS DOUBLE)) END AS geom
        FROM range(10)
        """
    )
    p = str(tmp_path / "dump.sql")
    write_pgdump(df, p, table="t_exp", srid=4326)
    text = open(p).read()
    assert 'CREATE TABLE "public"."t_exp"' in text
    assert 'COPY "public"."t_exp"' in text and text.rstrip().endswith('USING GIST ("geom");')
    assert "USING GIST" in text
    back = read_pgdump(spark, p)
    back.createOrReplaceTempView("_pg")
    rows = {
        r.id: r
        for r in spark.sql(
            "SELECT id, name, score, flag, tricky, ST_AsText(geom) AS wkt FROM _pg"
        ).collect()
    }
    assert len(rows) == 10
    assert rows[2].wkt == "POINT (2 4)" and rows[2].score == 0.25 and rows[2].flag
    assert rows[3].tricky is None
    assert rows[5].wkt is None
    assert rows[4].tricky == "tab\there\nnl4"  # COPY escaping round trip


def test_pgdump_ewkb_srid_word(tmp_path):
    import struct

    from duckdb_spatial_spark.geo import geom as G, wkb as WKB
    from duckdb_spatial_spark.sources.pgdump import _ewkb_hex

    wkb = WKB.to_wkb(G.point(1.0, 2.0))
    h = _ewkb_hex(wkb, 4326)
    raw = bytes.fromhex(h)
    (code,) = struct.unpack_from("<I", raw, 1)
    (srid,) = struct.unpack_from("<I", raw, 5)
    assert code & 0x20000000 and (code & 0xFF) == 1 and srid == 4326
    assert _ewkb_hex(wkb, 0) == wkb.hex().upper()


def test_pgdump_identifier_guard(spark, tmp_path):
    import pytest as _pytest

    from duckdb_spatial_spark.sources.pgdump import write_pgdump

    df = spark.sql("SELECT 1 AS id, ST_Point(0.0D, 0.0D) AS geom")
    with _pytest.raises(ValueError, match="identifier"):
        write_pgdump(df, str(tmp_path / "x.sql"), table='t"; DROP TABLE users;--')


def test_csv_lonlat_columns(spark, tmp_path):
    """GDAL CSV-driver X_POSSIBLE_NAMES analog: lon/lat headers auto-detect,
    explicit x_col/y_col override, WKT column keeps precedence."""
    from duckdb_spatial_spark.functions import udfs
    from duckdb_spatial_spark.sources import st_read
    from pyspark.sql import functions as F

    p = str(tmp_path / "pts.csv")
    with open(p, "w") as f:
        f.write("id,Longitude,LATITUDE,name\n")
        f.write("1,10.5,20.25,a\n2,-3.0,4.0,b\n3,,5.0,c\n")
    df = st_read(spark, p)
    rows = {r.id: r for r in df.withColumn("x", udfs.st_x("geom")).collect()}
    assert rows[1].x == 10.5 and rows[2].x == -3.0
    assert rows[3].geom is None  # NULL lon -> NULL point

    # explicit numeric columns with non-standard names
    p2 = str(tmp_path / "pts2.csv")
    with open(p2, "w") as f:
        f.write("id,a_e,b_n\n1,100.0,200.0\n")
    df2 = st_read(spark, p2, x_col="a_e", y_col="b_n")
    assert df2.select(udfs.st_astext("geom")).collect()[0][0] == "POINT (100 200)"

    # a wkt column still wins when present
    p3 = str(tmp_path / "pts3.csv")
    with open(p3, "w") as f:
        f.write("id,wkt,lon,lat\n1,\"LINESTRING (0 0, 1 1)\",9,9\n")
    df3 = st_read(spark, p3)
    assert df3.select(udfs.st_geometrytype("geom")).collect()[0][0] == "LINESTRING"
