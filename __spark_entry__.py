"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is a Spark-first implementation of an operator
from SURVEY.md §2; the matching ``oracle_sql()`` entry is plain DuckDB
SQL over the same parquet views.
Geometry is derived deterministically from the numeric testdata columns
(integer arithmetic -> identical in both engines); double outputs are
rounded identically on both sides.

Conventions:
  points   from orders:   x = o_orderkey*7919 % 10000, y = o_orderkey*104729 % 10000
  rects    from part:     mx = p_partkey*7919 % 9900, my = p_partkey*104729 % 9900,
                          w = p_partkey % 97 + 3, h = p_partkey % 89 + 2
  lon/lat  from customer: lon = (c_custkey*7919 % 36000)/100 - 180,
                          lat = (c_custkey*104729 % 17000)/100 - 85
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# the testdata parquet tables every row and oracle reads, one view each
TABLES = ("customer", "part", "orders", "lineitem")


def _prep(spark: SparkSession, sf_dir: str):
    import duckdb_spatial_spark

    duckdb_spatial_spark.register_all(spark)
    # Some testdata generations may carry timestamp columns (orders and
    # lineitem dates) as TIMESTAMP(NANOS), which Spark's reader rejects by
    # default; read nanos as bigint in that case.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin naive-timestamp interpretation to UTC so unix_micros(cast(ntz as
    # timestamp)) equals DuckDB's epoch(ts) regardless of machine timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    return spark


def _fresh_tmp(name: str) -> str:
    """Stable per-query scratch dir, wiped at the start of each run.

    Queries that materialize side files (stream sources, on-disk indexes)
    use a FIXED path derived from the query name so repeated contract
    sweeps overwrite instead of accumulating uuid-named dirs in /tmp.
    The driver and check_oracle run queries sequentially, so wiping at
    invocation start cannot race a concurrent reader; the returned plan
    of the PREVIOUS run is already materialized by then."""
    import os
    import shutil
    import tempfile

    # uid-namespaced + 0700 so another user on a shared host can neither
    # pre-create nor symlink-squat the scratch root.
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_q-{uid}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.lstat(root)
    import stat as _stat

    if _stat.S_ISLNK(st.st_mode) or st.st_uid != uid:
        raise RuntimeError(f"refusing unsafe scratch root {root}")
    path = os.path.join(root, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _pts_sql_spark() -> str:
    return (
        "SELECT o_orderkey AS id,"
        " CAST(o_orderkey * 7919 % 10000 AS DOUBLE) AS x,"
        " CAST(o_orderkey * 104729 % 10000 AS DOUBLE) AS y FROM orders"
    )


_PTS = _pts_sql_spark()  # same text is valid in DuckDB
_RECTS = (
    "SELECT p_partkey AS rid,"
    " CAST(p_partkey * 7919 % 9900 AS DOUBLE) AS mx,"
    " CAST(p_partkey * 104729 % 9900 AS DOUBLE) AS my,"
    " CAST(p_partkey % 97 + 3 AS DOUBLE) AS w,"
    " CAST(p_partkey % 89 + 2 AS DOUBLE) AS h FROM part"
)
_LONLAT = (
    "SELECT c_custkey AS cid,"
    " CAST(c_custkey * 7919 % 36000 AS DOUBLE) / 100 - 180 AS lon,"
    " CAST(c_custkey * 104729 % 17000 AS DOUBLE) / 100 - 85 AS lat FROM customer"
)


# --------------------------------------------------------------------------
# spatial queries (GEOMETRY = engine path; oracle = plain-arithmetic SQL)
# --------------------------------------------------------------------------

def q_spatial_envelope_count(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT count(*) AS n FROM ({_PTS})
        WHERE ST_Within(ST_Point(x, y), ST_MakeEnvelope(450.0D, 450.0D, 2650.0D, 2650.0D))
        """
    )


def q_spatial_envelope_count_native(spark, sf_dir):
    """Columnar fast path: 4 comparisons, no UDF (reference BOX_2D kernel)."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.functions import native

    pts = spark.sql(_PTS)
    return pts.filter(
        native.point_in_box(F.col("x"), F.col("y"), 450.0, 450.0, 2650.0, 2650.0)
    ).agg(F.count("*").alias("n"))


def q_spatial_astext(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"SELECT id, ST_AsText(ST_Point(x, y)) AS wkt FROM ({_PTS}) WHERE id < 500"
    )


def q_spatial_area_envelope(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid, round(ST_Area(ST_MakeEnvelope(mx, my, mx + w, my + h)), 6) AS area
        FROM ({_RECTS})
        """
    )


def q_spatial_wkt_triangle_area(spark, sf_dir):
    """WKT string -> parse -> shoelace area (right triangles, exact)."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid,
               round(ST_Area(ST_GeomFromText(
                 'POLYGON ((' || CAST(mx AS BIGINT) || ' ' || CAST(my AS BIGINT) || ', '
                              || CAST(mx + w AS BIGINT) || ' ' || CAST(my AS BIGINT) || ', '
                              || CAST(mx AS BIGINT) || ' ' || CAST(my + h AS BIGINT) || ', '
                              || CAST(mx AS BIGINT) || ' ' || CAST(my AS BIGINT) || '))')), 6) AS area
        FROM ({_RECTS})
        """
    )


def q_spatial_distance(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT id, round(ST_Distance(ST_Point(x, y), ST_Point(5000.0D, 5000.0D)), 6) AS dist
        FROM ({_PTS}) WHERE id < 1000
        """
    )


def q_spatial_distance_sphere(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT cid, round(ST_Distance_Sphere(ST_Point(lat, lon), ST_Point(0.0D, 0.0D)), 3) AS dist_m
        FROM ({_LONLAT}) WHERE cid < 500
        """
    )


def q_spatial_line_length(spark, sf_dir):
    """Per-order linestring from lineitems (ordered by linenumber)."""
    _prep(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey AS id,
               round(ST_Length(ST_MakeLine(
                 transform(
                   array_sort(collect_list(struct(l_linenumber AS ln,
                     CAST(l_partkey % 500 AS DOUBLE) AS x,
                     CAST(l_suppkey % 500 AS DOUBLE) AS y,
                     ST_Point(CAST(l_partkey % 500 AS DOUBLE),
                              CAST(l_suppkey % 500 AS DOUBLE)) AS pt))),
                   s -> s.pt))), 6) AS len
        FROM lineitem WHERE l_orderkey % 20 = 0
        GROUP BY l_orderkey
        HAVING count(*) >= 2
        """
    )


def q_spatial_perimeter(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid, round(ST_Perimeter(ST_MakeEnvelope(mx, my, mx + w, my + h)), 6) AS perim
        FROM ({_RECTS})
        """
    )


def q_spatial_makeline_npoints(spark, sf_dir):
    """ST_MakeLine + ST_NPoints semantics: <2 usable points -> EMPTY (0)."""
    _prep(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey AS id,
               ST_NPoints(ST_MakeLine(
                 transform(
                   array_sort(collect_list(struct(l_linenumber AS ln,
                     ST_Point(CAST(l_partkey % 500 AS DOUBLE),
                              CAST(l_suppkey % 500 AS DOUBLE)) AS pt))),
                   s -> s.pt))) AS np
        FROM lineitem WHERE l_orderkey % 25 = 0
        GROUP BY l_orderkey
        HAVING count(*) >= 2
        """
    )


def q_spatial_makeline_astext(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey AS id,
               ST_AsText(ST_MakeLine(
                 transform(
                   array_sort(collect_list(struct(l_linenumber AS ln,
                     CAST(l_partkey % 500 AS DOUBLE) AS x,
                     CAST(l_suppkey % 500 AS DOUBLE) AS y,
                     ST_Point(CAST(l_partkey % 500 AS DOUBLE),
                              CAST(l_suppkey % 500 AS DOUBLE)) AS pt))),
                   s -> s.pt))) AS wkt
        FROM lineitem WHERE l_orderkey % 50 = 0
        GROUP BY l_orderkey
        HAVING count(*) >= 2
        """
    )


def q_spatial_centroid(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid,
               round(ST_X(ST_Centroid(ST_MakeEnvelope(mx, my, mx + w, my + h))), 6) AS cx,
               round(ST_Y(ST_Centroid(ST_MakeEnvelope(mx, my, mx + w, my + h))), 6) AS cy
        FROM ({_RECTS})
        """
    )


def q_spatial_join_point_in_rect(spark, sf_dir):
    """The spatial-join rewrite path (optimizer_rules.cpp analog)."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.functions import udfs
    from duckdb_spatial_spark.operators import st_join

    pts = spark.sql(_PTS).filter("id % 5 = 0").withColumn(
        "geom", F.expr("ST_Point(x, y)")
    ).select("id", "geom")
    rects = spark.sql(_RECTS).withColumn(
        "geom", F.expr("ST_MakeEnvelope(mx, my, mx + w, my + h)")
    ).select("rid", "geom")
    j = st_join(pts, rects, predicate="within")
    return j.groupBy("rid").agg(F.count("*").alias("n"))


def q_spatial_join_rect_overlap(spark, sf_dir):
    """Polygon×polygon ST_Intersects join through the grid lane: axis-
    aligned rects on both sides, so the oracle is plain interval-overlap
    SQL while the engine runs the full grid + bbox + exact-recheck path."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.operators import st_join

    a = (
        spark.sql(_RECTS)
        .filter("rid % 3 = 0")
        .withColumn("geom", F.expr("ST_MakeEnvelope(mx, my, mx + w, my + h)"))
        .select(F.col("rid").alias("rid_a"), "geom")
    )
    b = (
        spark.sql(_RECTS)
        .filter("rid % 3 = 1")
        .withColumn(
            "geom", F.expr("ST_MakeEnvelope(my, mx, my + h + 40, mx + w + 40)")
        )
        .select(F.col("rid").alias("rid_b"), "geom")
    )
    j = st_join(a, b, predicate="intersects")
    return j.select("rid_a", "rid_b")


def q_spatial_dwithin_join_count(spark, sf_dir):
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.operators import st_join

    a = spark.sql(_PTS).filter("id % 20 = 0").withColumn("geom", F.expr("ST_Point(x, y)")).select(
        F.col("id").alias("ida"), "geom"
    )
    b = spark.sql(_PTS).filter("id % 20 = 10").withColumn("geom", F.expr("ST_Point(x, y)")).select(
        F.col("id").alias("idb"), "geom"
    )
    j = st_join(a, b, predicate="dwithin", distance=50.0)
    return j.agg(F.count("*").alias("n"))


def q_spatial_extent_agg(spark, sf_dir):
    """ST_Extent_Agg operator (aggregates.py): per-group envelope; the extent
    polygon's area is oracled as (max_x-min_x)*(max_y-min_y)."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.functions import udfs
    from duckdb_spatial_spark.operators import aggregates

    pts = (
        spark.sql(_PTS)
        .withColumn("grp", F.col("id") % 10)
        .withColumn("geom", udfs.st_point("x", "y"))
    )
    out = aggregates.st_extent_agg(pts, "geom", group_cols=["grp"])
    return out.select(
        "grp", "min_x", "min_y", "max_x", "max_y",
        F.round(udfs.st_area(F.col("extent")), 6).alias("extent_area"),
    )


def q_spatial_overlay_rects(spark, sf_dir):
    """ST_Intersection/Union/Difference on an overlapping rect pair
    (B = A shifted by (w/2, h/2)); areas have closed rectangle forms.
    Exercises geo/overlay.py triangle decomposition + dissolve
    (reference geos/functions/scalar.cpp overlay entry points)."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid,
          round(ST_Area(ST_Intersection(ST_MakeEnvelope(mx, my, mx + w, my + h),
            ST_MakeEnvelope(mx + w/2, my + h/2, mx + w/2 + w, my + h/2 + h))), 6) AS inter_area,
          round(ST_Area(ST_Union(ST_MakeEnvelope(mx, my, mx + w, my + h),
            ST_MakeEnvelope(mx + w/2, my + h/2, mx + w/2 + w, my + h/2 + h))), 6) AS union_area,
          round(ST_Area(ST_Difference(ST_MakeEnvelope(mx, my, mx + w, my + h),
            ST_MakeEnvelope(mx + w/2, my + h/2, mx + w/2 + w, my + h/2 + h))), 6) AS diff_area
        FROM ({_RECTS}) WHERE rid <= 500
        """
    )


def q_spatial_intersection_tri_rect(spark, sf_dir):
    """Right triangle clipped by its lower half-rect -> trapezoid, area
    3wh/8; the hypotenuse genuinely crosses rect edges (noding path)."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid, round(ST_Area(ST_Intersection(
          ST_GeomFromText('POLYGON ((' || mx || ' ' || my || ', ' || (mx+w) || ' ' || my
                          || ', ' || mx || ' ' || (my+h) || ', ' || mx || ' ' || my || '))'),
          ST_MakeEnvelope(mx, my, mx + w, my + h/2))), 6) AS area
        FROM ({_RECTS}) WHERE rid <= 500
        """
    )


def q_spatial_convexhull_area(spark, sf_dir):
    """Hull of 3 triangle corners + 1 interior point = the triangle (wh/2)."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid, round(ST_Area(ST_ConvexHull(ST_Collect(array(
          ST_Point(mx, my), ST_Point(mx + w, my), ST_Point(mx, my + h),
          ST_Point(mx + w/4, my + h/4))))), 6) AS hull_area
        FROM ({_RECTS}) WHERE rid <= 500
        """
    )


def q_spatial_makevalid_bowtie(spark, sf_dir):
    """Self-intersecting bowtie -> MakeValid splits at the crossing into two
    triangles of total area wh/2 (reference geos ST_MakeValid semantics)."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid, round(ST_Area(ST_MakeValid(ST_GeomFromText(
          'POLYGON ((' || mx || ' ' || my || ', ' || (mx+w) || ' ' || (my+h) || ', '
                       || (mx+w) || ' ' || my || ', ' || mx || ' ' || (my+h) || ', '
                       || mx || ' ' || my || '))'))), 6) AS area
        FROM ({_RECTS}) WHERE rid <= 500
        """
    )


def q_spatial_union_agg_chain(spark, sf_dir):
    """ST_Union_Agg over a per-group chain of overlapping rects (step 5 <
    width 10): union area = 10 * (5*(max_i - min_i) + 10). Exercises the
    salted two-level fold in aggregates._fold_agg end-to-end."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.functions import udfs
    from duckdb_spatial_spark.operators import aggregates

    rects = spark.sql(
        """
        SELECT CAST(p_partkey % 8 AS BIGINT) AS grp,
               ST_MakeEnvelope(CAST(5*(p_partkey div 8) AS DOUBLE), 0.0D,
                               CAST(5*(p_partkey div 8)+10 AS DOUBLE), 10.0D) AS geom
        FROM part WHERE p_partkey <= 400
        """
    )
    out = aggregates.st_union_agg(rects, "geom", group_cols=["grp"])
    return out.select(
        "grp", F.round(udfs.st_area(F.col("union_agg")), 6).alias("union_area")
    )


def q_spatial_intersection_agg(spark, sf_dir):
    """ST_Intersection_Agg over per-group rects sharing a common core; the
    intersection rectangle's edges are min/max of modular offsets."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.functions import udfs
    from duckdb_spatial_spark.operators import aggregates

    rects = spark.sql(
        """
        SELECT CAST(p_partkey % 8 AS BIGINT) AS grp,
               ST_MakeEnvelope(
                 CAST((p_partkey % 8)*1000 - (p_partkey div 8) % 11 AS DOUBLE),
                 CAST(-((p_partkey div 8) % 17) AS DOUBLE),
                 CAST((p_partkey % 8)*1000 + 10 + (p_partkey div 8) % 13 AS DOUBLE),
                 CAST(10 + (p_partkey div 8) % 19 AS DOUBLE)) AS geom
        FROM part WHERE p_partkey BETWEEN 801 AND 864
        """
    )
    out = aggregates.st_intersection_agg(rects, "geom", group_cols=["grp"])
    return out.select(
        "grp", F.round(udfs.st_area(F.col("intersection_agg")), 6).alias("inter_area")
    )


def q_spatial_transform_3857(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT cid,
               round(ST_X(ST_Transform(ST_Point(lon, lat), 'OGC:CRS84', 'EPSG:3857', true)), 3) AS mx,
               round(ST_Y(ST_Transform(ST_Point(lon, lat), 'OGC:CRS84', 'EPSG:3857', true)), 3) AS my
        FROM ({_LONLAT})
        """
    )


def _TRANSFORM_CASES():
    # (id, lon, lat, src, dst) — row 1 is the OS 'Guide to coordinate systems
    # in Great Britain' worked example (OSGB36 geodetic -> BNG 651409.903 /
    # 313177.270), the independent anchor for the proj4 engine; the rest are
    # datum-shifted city coordinates across tmerc/somerc/lcc kernels + units.
    return [
        (1, 1.7179215833333334, 52.65757030555555, "EPSG:4277", "EPSG:27700"),
        (2, -2.0, 54.0, "OGC:CRS84", "EPSG:27700"),
        (3, -0.1276, 51.5072, "OGC:CRS84", "EPSG:27700"),
        (4, 7.439583333333333, 46.95240555555556, "OGC:CRS84", "EPSG:2056"),
        (5, 8.5417, 47.3769, "OGC:CRS84", "EPSG:2056"),
        (6, 174.7645, -36.8509, "OGC:CRS84", "EPSG:2193"),
        (7, 4.3517, 50.8503, "OGC:CRS84", "EPSG:31370"),
        (8, -118.2437, 34.0522, "OGC:CRS84", "EPSG:2229"),
    ]


def q_spatial_transform_longtail(spark, sf_dir):
    """Long-tail CRS via the proj4 front-end (functions/proj4.py): OSGB
    National Grid, Swiss LV95, NZTM2000, Belgian Lambert 72, California
    state plane (ftUS) — oracle is the pinned expected grid coordinates
    (row 1 independently published by Ordnance Survey)."""
    _prep(spark, sf_dir)
    df = spark.createDataFrame(
        _TRANSFORM_CASES(), "id long, lon double, lat double, src string, dst string"
    )
    out = df.selectExpr(
        "id",
        "round(ST_X(ST_Transform(ST_Point(lon, lat), src, dst, true)), 3) AS e",
        "round(ST_Y(ST_Transform(ST_Point(lon, lat), src, dst, true)), 3) AS n",
    )
    return out


_WKT_CRS_DEFS = {
    "osgb_geog": ('GEOGCS["OSGB36",DATUM["OSGB_1936",SPHEROID["Airy 1830",'
                  '6377563.396,299.3249646]],PRIMEM["Greenwich",0],'
                  'UNIT["degree",0.0174532925199433]]'),
    "osgb_wkt2": (
        'PROJCRS["OSGB36 / British National Grid",BASEGEOGCRS["OSGB36",'
        'DATUM["Ordnance Survey of Great Britain 1936",ELLIPSOID["Airy 1830",'
        '6377563.396,299.3249646,LENGTHUNIT["metre",1]]],PRIMEM["Greenwich",0]],'
        'CONVERSION["British National Grid",METHOD["Transverse Mercator",'
        'ID["EPSG",9807]],PARAMETER["Latitude of natural origin",49],'
        'PARAMETER["Longitude of natural origin",-2],'
        'PARAMETER["Scale factor at natural origin",0.9996012717],'
        'PARAMETER["False easting",400000],PARAMETER["False northing",-100000]],'
        'CS[Cartesian,2],AXIS["(E)",east],AXIS["(N)",north],'
        'LENGTHUNIT["metre",1],ID["EPSG",27700]]'
    ),
    "osgb_wkt1": (
        'PROJCS["OSGB36 / British National Grid",GEOGCS["OSGB36",'
        'DATUM["Ordnance_Survey_of_Great_Britain_1936",SPHEROID["Airy 1830",'
        '6377563.396,299.3249646],'
        'TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]],'
        'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
        'PROJECTION["Transverse_Mercator"],'
        'PARAMETER["latitude_of_origin",49],PARAMETER["central_meridian",-2],'
        'PARAMETER["scale_factor",0.9996012717],'
        'PARAMETER["false_easting",400000],PARAMETER["false_northing",-100000],'
        'UNIT["metre",1],AUTHORITY["EPSG","27700"]]'
    ),
    "esri_webmerc": (
        'PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",GEOGCS["GCS_WGS_1984",'
        'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
        'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
        'PROJECTION["Mercator_Auxiliary_Sphere"],PARAMETER["False_Easting",0.0],'
        'PARAMETER["False_Northing",0.0],PARAMETER["Central_Meridian",0.0],'
        'PARAMETER["Standard_Parallel_1",0.0],'
        'PARAMETER["Auxiliary_Sphere_Type",0.0],UNIT["Meter",1.0]]'
    ),
    "ca_wkt1": (
        'PROJCS["NAD83 / California zone 5 (ftUS)",GEOGCS["NAD83",'
        'DATUM["North_American_Datum_1983",SPHEROID["GRS 1980",6378137,'
        '298.257222101]],PRIMEM["Greenwich",0],'
        'UNIT["degree",0.0174532925199433]],'
        'PROJECTION["Lambert_Conformal_Conic_2SP"],'
        'PARAMETER["standard_parallel_1",35.46666666666667],'
        'PARAMETER["standard_parallel_2",34.03333333333333],'
        'PARAMETER["latitude_of_origin",33.5],PARAMETER["central_meridian",-118],'
        'PARAMETER["false_easting",6561666.667],'
        'PARAMETER["false_northing",1640416.667],'
        'UNIT["US survey foot",0.3048006096012192],AUTHORITY["EPSG","2229"]]'
    ),
}

# compound CRS (horizontal + vertical): the engine transforms the
# horizontal member, vertical passes through — PROJ's 2D behavior
_WKT_CRS_DEFS["osgb_compound"] = (
    'COMPD_CS["OSGB36 / British National Grid + ODN height",'
    + _WKT_CRS_DEFS["osgb_wkt1"]
    + ',VERT_CS["Newlyn",VERT_DATUM["Ordnance Datum Newlyn",2005,'
    'AUTHORITY["EPSG","5101"]],UNIT["metre",1],AXIS["Gravity-related height",UP],'
    'AUTHORITY["EPSG","5701"]]]'
)
_WKT_CRS_DEFS["esri_compound"] = (
    'COMPOUNDCRS["WebMercator + height",'
    + _WKT_CRS_DEFS["esri_webmerc"]
    + ',VERTCRS["EGM96 height",VDATUM["EGM96 geoid"],CS[vertical,1],'
    'AXIS["up",up],LENGTHUNIT["metre",1]]]'
)


def q_spatial_transform_wkt(spark, sf_dir):
    """ST_Transform fed WKT CRS definitions (functions/wktcrs.py: OGC WKT1,
    ESRI WKT1, WKT2) — the reference accepts the same via PROJ
    (proj_create_crs_to_crs, proj/functions.cpp:103). Row 1 reproduces the
    Ordnance Survey worked example through the WKT2 grammar; rows 2-3 pin
    the same grid coordinates as the EPSG-code route in
    spatial_transform_longtail; row 5's ftUS false origins differ from the
    published metre values by <0.4 mm, hence the 2-decimal rounding; rows
    6-7 wrap rows 2/4 in compound (horizontal+vertical) CRS — WKT1
    COMPD_CS and WKT2 COMPOUNDCRS — and must land on identical grid
    coordinates."""
    _prep(spark, sf_dir)
    d = _WKT_CRS_DEFS
    cases = [
        (1, 1.7179215833333334, 52.65757030555555, d["osgb_geog"], d["osgb_wkt2"], 3),
        (2, -2.0, 54.0, "OGC:CRS84", d["osgb_wkt1"], 3),
        (3, -0.1276, 51.5072, "OGC:CRS84", d["osgb_wkt1"], 3),
        (4, 12.4924, 41.8902, "OGC:CRS84", d["esri_webmerc"], 3),
        (5, -118.2437, 34.0522, "OGC:CRS84", d["ca_wkt1"], 2),
        # compound CRS: horizontal component drives the transform (rows 6-7
        # must reproduce rows 2 and 4 exactly)
        (6, -2.0, 54.0, "OGC:CRS84", d["osgb_compound"], 3),
        (7, 12.4924, 41.8902, "OGC:CRS84", d["esri_compound"], 3),
    ]
    df = spark.createDataFrame(
        cases, "id long, lon double, lat double, src string, dst string, digits int"
    )
    return df.selectExpr(
        "id",
        "CASE WHEN digits = 3"
        " THEN round(ST_X(ST_Transform(ST_Point(lon, lat), src, dst, true)), 3)"
        " ELSE round(ST_X(ST_Transform(ST_Point(lon, lat), src, dst, true)), 2)"
        " END AS e",
        "CASE WHEN digits = 3"
        " THEN round(ST_Y(ST_Transform(ST_Point(lon, lat), src, dst, true)), 3)"
        " ELSE round(ST_Y(ST_Transform(ST_Point(lon, lat), src, dst, true)), 2)"
        " END AS n",
    )


_FORMAT_WKTS = [
    (1, "POINT (1 2)"),
    (2, "LINESTRING (0 0, 3 0, 3 4)"),
    (3, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
    (4, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"),
    (5, "MULTIPOINT (1 1, 2 2)"),
    (6, "GEOMETRYCOLLECTION (POINT (5 6), LINESTRING (0 0, 1 1))"),
]


def q_crs_tagged_transform(spark, sf_dir):
    """Auto-CRS from source sidecars (r13): read_shapefile tags the geom
    column with the .prj WKT and read_gpkg with the gpkg_spatial_ref_sys
    entry (the reference's geometry-column CRS tagging at bind time,
    st_read.cpp:345-369); functions.crs.st_transform_tagged consumes the
    tag so the caller never restates what the file already declared.

    Rows 1-2: a shapefile written with the OSGB36/BNG WKT1 .prj holding
    the PINNED grid coordinates of spatial_transform_wkt rows 2-3
    ((-2,54) and Westminster), transformed back to OGC:CRS84 via the tag
    — the oracle pins the original lon/lat (the pinned grid values are
    exact to 0.5 mm, so the inverse is exact at 6 dp). Rows 3-4: a
    GeoPackage written with srs_id 4326, its EPSG:4326 tag driving a
    transform to EPSG:3857 — the oracle derives Web Mercator in SQL."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.functions.crs import st_transform_tagged
    from duckdb_spatial_spark.sources.gpkg import read_gpkg, write_gpkg
    from duckdb_spatial_spark.sources.shapefile import read_shapefile, write_shapefile

    tmp = _fresh_tmp("crs_tagged")
    shp = os.path.join(tmp, "osgb.shp")
    grid = spark.createDataFrame(
        [(1, 400097.646, 455996.503), (2, 530043.195, 180358.209)],
        "id long, e double, n double",
    ).selectExpr("id", "ST_AsWKB(ST_Point(e, n)) AS geom")
    write_shapefile(grid, shp, crs=_WKT_CRS_DEFS["osgb_wkt1"])
    shp_out = st_transform_tagged(
        read_shapefile(spark, shp), "OGC:CRS84", geom_col="geom"
    ).selectExpr(
        "CAST(id AS BIGINT) AS id",
        "round(ST_X(geom), 6) AS x",
        "round(ST_Y(geom), 6) AS y",
    )

    gpkg = os.path.join(tmp, "pts.gpkg")
    lonlat = spark.createDataFrame(
        [(3, -0.1276, 51.5072), (4, 151.2093, -33.8688)],
        "id long, lon double, lat double",
    ).selectExpr("id", "ST_AsWKB(ST_Point(lon, lat)) AS geom")
    write_gpkg(lonlat, gpkg, layer="pts", srs_id=4326)
    gpkg_out = st_transform_tagged(
        read_gpkg(spark, gpkg), "EPSG:3857", geom_col="geom", always_xy=True
    ).selectExpr(
        "CAST(id AS BIGINT) AS id",
        "round(ST_X(geom), 3) AS x",
        "round(ST_Y(geom), 3) AS y",
    )
    return shp_out.unionByName(gpkg_out)


def q_spatial_format_ops(spark, sf_dir):
    """Serialization + transform functions over pinned WKTs: AsGeoJSON,
    AsHEXWKB (spec-checkable little-endian WKB), AsSVG (PostGIS y-negation
    convention), Force3DZ, FlipCoordinates, GeometryType/Dimension/NPoints.
    Oracle = the pinned expected literals (hex verified by hand against the
    WKB layout; reference semantics per geometry/*.test)."""
    _prep(spark, sf_dir)
    df = spark.createDataFrame(_FORMAT_WKTS, "id long, wkt string")
    df.createOrReplaceTempView("_fmt_w")
    return spark.sql(
        """
        SELECT id,
          ST_AsGeoJSON(ST_GeomFromText(wkt)) AS gj,
          ST_AsHEXWKB(ST_GeomFromText(wkt)) AS hex,
          ST_AsSVG(ST_GeomFromText(wkt), false, 0) AS svg,
          ST_AsText(ST_Force3DZ(ST_GeomFromText(wkt), 7.0D)) AS f3d,
          ST_AsText(ST_FlipCoordinates(ST_GeomFromText(wkt))) AS flip,
          ST_GeometryType(ST_GeomFromText(wkt)) AS gt,
          CAST(ST_Dimension(ST_GeomFromText(wkt)) AS INT) AS dim,
          CAST(ST_NPoints(ST_GeomFromText(wkt)) AS INT) AS np
        FROM _fmt_w
        """
    )


def q_spatial_buffer_area(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT cid, round(ST_Area(ST_Buffer(ST_Point(lon, lat), CAST(cid % 10 + 1 AS DOUBLE))), 3) AS area
        FROM ({_LONLAT}) WHERE cid < 300
        """
    )


def q_spatial_buffer_styles(spark, sf_dir):
    """Line buffers with flat/square caps and polygon buffers with mitre/
    bevel joins are exact Minkowski sums — areas have closed forms the
    oracle computes in plain arithmetic (round-style areas are
    discretization-dependent, so the exact styles are the oracled ones)."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid,
          round(ST_Area(ST_Buffer_Style(
            ST_MakeLine2(ST_Point(mx, my), ST_Point(mx + w, my)),
            h/4, 8, 'flat', 'round')), 6) AS flat_area,
          round(ST_Area(ST_Buffer_Style(
            ST_MakeLine2(ST_Point(mx, my), ST_Point(mx + w, my)),
            h/4, 8, 'square', 'round')), 6) AS square_area,
          round(ST_Area(ST_Buffer_Style(
            ST_MakeEnvelope(mx, my, mx + w, my + h), 2.0D, 8, 'round', 'mitre')), 6) AS mitre_area,
          round(ST_Area(ST_Buffer_Style(
            ST_MakeEnvelope(mx, my, mx + w, my + h), 2.0D, 8, 'round', 'bevel')), 6) AS bevel_area
        FROM ({_RECTS}) WHERE rid <= 300
        """
    )


def q_spatial_quadkey(spark, sf_dir):
    _prep(spark, sf_dir)
    return spark.sql(
        f"SELECT cid, ST_QuadKey(lon, lat, 4) AS qk FROM ({_LONLAT}) WHERE cid < 500"
    )


def q_spatial_predicates(spark, sf_dir):
    """Predicate matrix over canonical WKT pairs (reference
    test/sql/geos/predicates.test style); oracle = pinned truth table."""
    _prep(spark, sf_dir)
    pairs = [
        (1, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POINT (1 1)"),
        (2, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POINT (0 0)"),
        (3, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"),
        (4, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))"),
        (5, "LINESTRING (0 0, 2 2)", "LINESTRING (0 2, 2 0)"),
        (6, "LINESTRING (0 0, 1 1)", "LINESTRING (1 1, 2 0)"),
        (7, "POINT (5 5)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
        (8, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", "POLYGON ((1 1, 0 1, 0 0, 1 0, 1 1))"),
    ]
    df = spark.createDataFrame(pairs, "pid int, wa string, wb string")
    df.createOrReplaceTempView("_pred_pairs")
    return spark.sql(
        """
        SELECT pid,
               ST_Intersects(ST_GeomFromText(wa), ST_GeomFromText(wb)) AS i,
               ST_Contains(ST_GeomFromText(wa), ST_GeomFromText(wb)) AS c,
               ST_Touches(ST_GeomFromText(wa), ST_GeomFromText(wb)) AS t,
               ST_Crosses(ST_GeomFromText(wa), ST_GeomFromText(wb)) AS x,
               ST_Overlaps(ST_GeomFromText(wa), ST_GeomFromText(wb)) AS o,
               ST_Equals(ST_GeomFromText(wa), ST_GeomFromText(wb)) AS e
        FROM _pred_pairs
        """
    )


def q_spatial_hilbert(spark, sf_dir):
    """Space-filling curve index. Oracled: the oracle re-implements the
    standard Hilbert xy->d algorithm as a DuckDB recursive CTE (16
    iterations of quadrant rotation), independent of our numpy kernel."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT id, ST_Hilbert(x, y, 0.0D, 0.0D, 10000.0D, 10000.0D) AS h
        FROM ({_PTS}) WHERE id < 1000
        """
    )


def q_gpkg_roundtrip(spark, sf_dir):
    """GeoPackage write -> read round trip (sources/gpkg.py): proves the GP
    binary header + SQLite layer plumbing preserve geometry and keys."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_gpkg, write_gpkg

    df = (
        spark.sql(_PTS)
        .filter("id < 500")
        .withColumn("geom", F.expr("ST_Point(x, y)"))
        .select("id", "geom")
    )
    path = os.path.join(_fresh_tmp("gpkg_q"), "rt.gpkg")
    write_gpkg(df, path, layer="pts")
    back = read_gpkg(spark, path, num_partitions=4)
    return back.selectExpr(
        "id", "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y"
    )


def q_spatial_generatepoints(spark, sf_dir):
    """ST_GeneratePoints table function: deterministic xxhash64-derived
    uniforms over spark.range (st_generatepoints.cpp analog) — count,
    bounds, and means are reproducible, so the oracle pins them."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.sources import st_generatepoints

    pts = st_generatepoints(spark, 10.0, 20.0, 110.0, 220.0, 50_000, seed=42)
    return pts.agg(
        F.count("*").alias("n"),
        F.round(F.min("x"), 6).alias("mnx"), F.round(F.max("x"), 6).alias("mxx"),
        F.round(F.min("y"), 6).alias("mny"), F.round(F.max("y"), 6).alias("mxy"),
        F.round(F.avg("x"), 6).alias("ax"), F.round(F.avg("y"), 6).alias("ay"),
    )


def q_fgb_roundtrip(spark, sf_dir):
    """FlatGeobuf write -> read round trip (sources/flatgeobuf.py): the
    hand-rolled flatbuffers builder + the fixture-validated decoder must
    preserve rect geometry and typed attributes exactly."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.flatgeobuf import read_flatgeobuf, write_flatgeobuf

    df = (
        spark.sql(_RECTS)
        .filter("rid < 500")
        .withColumn("geom", F.expr("ST_MakeEnvelope(mx, my, mx + w, my + h)"))
        .select("rid", F.col("w").alias("width"), "geom")
    )
    path = os.path.join(_fresh_tmp("fgb_q"), "rt.fgb")
    write_flatgeobuf(df, path, name="rects")
    back = read_flatgeobuf(spark, path, num_partitions=4)
    return back.selectExpr(
        "rid", "width",
        "round(ST_XMin(geom), 6) AS mnx", "round(ST_YMin(geom), 6) AS mny",
        "round(ST_Area(geom), 6) AS area",
    )


def q_kml_roundtrip(spark, sf_dir):
    """KML write -> read round trip (sources/xmlgeo.py): stdlib-xml Placemark
    emission and parse preserve geometry and ExtendedData attributes. The
    reference covers KML through the GDAL driver matrix (st_read.cpp)."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_kml, write_kml

    df = (
        spark.sql(_PTS)
        .filter("id < 300")
        .withColumn("geom", F.expr("ST_Point(x, y)"))
        .selectExpr("CAST(id AS STRING) AS id", "geom")
    )
    path = os.path.join(_fresh_tmp("kml_q"), "rt.kml")
    write_kml(df, path)
    back = read_kml(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id",
        "round(ST_X(geom), 6) AS x",
        "round(ST_Y(geom), 6) AS y",
    )


def q_spatial_transform_tranche4(spark, sf_dir):
    """EPSG registry tranche 4 (r13): Kalianpur 1975 India zones, Indian
    1954/1975 UTM, NZGD49/NZGD2000 UTM, Arc 1950/1960, Adindan, Minna,
    Egypt 1907 belts (functions/crs.py tranche-4 block). Every row is a
    MATHEMATICAL identity, so the oracle is fully independent: rows 1-6
    project each grid's natural origin from its datum's own geographic
    CRS (must land exactly on the false origin); row 7 is the
    NZGD2000-minus-WGS84 UTM twin difference at Wellington (GRS80 vs
    WGS84 flattening differs in the 8th decimal -> 0.00 m at cm
    rounding); row 8 is a WGS84 roundtrip through the Kalianpur datum
    shift (must return the input at 1e-6 deg)."""
    _prep(spark, sf_dir)
    origin = spark.createDataFrame(
        [
            (1, 68.0, 32.5, "EPSG:4146", "EPSG:24378"),
            (2, 74.0, 26.0, "EPSG:4146", "EPSG:24379"),
            (3, 31.0, 30.0, "EPSG:4229", "EPSG:22992"),
            (4, 39.0, 0.0, "EPSG:4210", "EPSG:21037"),
            (5, 39.0, 0.0, "EPSG:4201", "EPSG:20137"),
            (6, 171.0, 0.0, "EPSG:4272", "EPSG:27259"),
        ],
        "id long, lon double, lat double, src string, dst string",
    ).selectExpr(
        "id",
        "round(ST_X(ST_Transform(ST_Point(lon, lat), src, dst, true)), 3) AS e",
        "round(ST_Y(ST_Transform(ST_Point(lon, lat), src, dst, true)), 3) AS n",
    )
    twin = spark.sql(
        "SELECT CAST(7 AS BIGINT) AS id, 174.7762 AS lon, -41.2865 AS lat"
    ).selectExpr(
        "id",
        "round(ST_X(ST_Transform(ST_Point(lon, lat), 'OGC:CRS84', 'EPSG:2134', true))"
        " - ST_X(ST_Transform(ST_Point(lon, lat), 'OGC:CRS84', 'EPSG:32759', true)), 2) AS e",
        "round(ST_Y(ST_Transform(ST_Point(lon, lat), 'OGC:CRS84', 'EPSG:2134', true))"
        " - ST_Y(ST_Transform(ST_Point(lon, lat), 'OGC:CRS84', 'EPSG:32759', true)), 2) AS n",
    )
    rt = spark.sql(
        "SELECT CAST(8 AS BIGINT) AS id, 77.209 AS lon, 28.6139 AS lat"
    ).selectExpr(
        "id",
        "round(ST_X(ST_Transform(ST_Transform(ST_Point(lon, lat),"
        " 'OGC:CRS84', 'EPSG:24379', true), 'EPSG:24379', 'OGC:CRS84', true))"
        " - lon, 6) AS e",
        "round(ST_Y(ST_Transform(ST_Transform(ST_Point(lon, lat),"
        " 'OGC:CRS84', 'EPSG:24379', true), 'EPSG:24379', 'OGC:CRS84', true))"
        " - lat, 6) AS n",
    )
    return origin.unionByName(twin).unionByName(rt)


def q_vrt_read(spark, sf_dir):
    """OGR VRT virtual layer (sources/vrt.py, new in r13): a .vrt XML
    wrapper derives POINT geometry from a plain CSV's x/y columns
    (encoding=PointFromColumns), declares the layer SRS, and renames the
    id attribute through a Field projection — the reference reads the
    same through GDAL's OGR_VRT driver (listed in st_drivers.cpp). The
    declared SRS is returned as a column so the oracle pins the crs-tag
    plumbing too."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.functions.crs import geom_crs
    from duckdb_spatial_spark.sources import st_read

    tmp = _fresh_tmp("vrt_q")
    csvdir = os.path.join(tmp, "pts_csv")
    (
        spark.sql(_PTS).filter("id < 300")
        .selectExpr("id", "x AS px", "y AS py")
        .coalesce(1).write.option("header", True).csv(csvdir)
    )
    vrt = os.path.join(tmp, "pts.vrt")
    with open(vrt, "w", encoding="utf-8") as f:
        f.write(
            "<OGRVRTDataSource><OGRVRTLayer name='pts'>"
            f"<SrcDataSource relativeToVRT='0'>{csvdir}</SrcDataSource>"
            "<GeometryField encoding='PointFromColumns' x='px' y='py'/>"
            "<LayerSRS>EPSG:4326</LayerSRS>"
            "<Field name='feature_id' src='id'/>"
            "</OGRVRTLayer></OGRVRTDataSource>"
        )
    df = st_read(spark, vrt)
    return df.selectExpr(
        "CAST(feature_id AS BIGINT) AS feature_id",
        "round(ST_X(geom), 6) AS x",
        "round(ST_Y(geom), 6) AS y",
    ).withColumn("crs", F.lit(geom_crs(df)))


def q_gmt_roundtrip(spark, sf_dir):
    """GMT ASCII vector write -> read round trip (sources/gmt.py, new in
    r13): @VGMT1.0 polygon collection with @N/@T-typed attributes, one
    @P shell per feature. The reference covers GMT through its GDAL
    driver matrix (st_drivers.cpp)."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_gmt, write_gmt

    df = (
        spark.sql(_PTS)
        .filter("id < 300")
        .withColumn(
            "geom",
            F.expr("ST_MakeEnvelope(x, y, x + 1 + id % 4, y + 2 + id % 5)"),
        )
        .select("id", "geom")
    )
    path = os.path.join(_fresh_tmp("gmt_q"), "rt.gmt")
    write_gmt(df, path)
    back = read_gmt(spark, path)
    return back.selectExpr(
        "id",
        "round(ST_Area(geom), 6) AS area",
        "round(ST_XMin(geom), 6) AS mnx",
        "round(ST_YMax(geom), 6) AS mxy",
    )


def q_sdts_roundtrip(spark, sf_dir):
    """USGS SDTS TVP write -> read round trip (sources/sdts.py, new in
    r16 — the 37th ST_Read format): CATD-enumerated modules, IREF
    scale/origin decoding of BI32 SADR coordinates, NO01 point + LE01
    line records, ATID references into the AP01 attribute module ('@'
    analog: null attrs reference nothing). The reference reaches SDTS
    through GDAL's driver enumeration (st_drivers.cpp). sfax/sfay =
    0.01 over integer test coordinates keeps quantization exact."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_sdts, write_sdts

    df = (
        spark.sql(_PTS)
        .filter("id < 300")
        .selectExpr(
            "id AS fid",
            "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('n', id) END AS nm",
            "CASE WHEN id % 2 = 0 THEN ST_AsWKB(ST_Point(x, y))"
            " ELSE ST_AsWKB(ST_MakeLine(ARRAY(ST_Point(x, y),"
            " ST_Point(x + 1 + id % 4, y + 2 + id % 5)))) END AS geom",
        )
    )
    path = os.path.join(_fresh_tmp("sdts_q"), "xfer")
    write_sdts(df, path, rcid_col="fid", attrs=["nm"])
    back = read_sdts(spark, path)
    return back.selectExpr(
        "module",
        "rcid",
        "attrs['nm'] AS nm",
        "round(ST_Length(geom), 6) AS len",
        "round(ST_XMin(geom), 6) AS mnx",
        "round(ST_YMax(geom), 6) AS mxy",
    )


def q_interlis_roundtrip(spark, sf_dir):
    """INTERLIS 1 (.itf) write -> read round trip (sources/interlis.py,
    new in r16 — the 36th ST_Read format): MTID/MODL/TOPI/TABL framing,
    OBJE value lists with '@' nulls, STPT/LIPT line sequences. The
    reference covers Interlis through its GDAL driver matrix
    (st_drivers.cpp lists 'Interlis 1'). Integer test coordinates and a
    <=3-decimal writer keep the round trip exact; lengths are
    sqrt-of-integers on both sides."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_interlis, write_interlis

    df = (
        spark.sql(_PTS)
        .filter("id < 300")
        .selectExpr(
            "id AS fid",
            "CASE WHEN id % 7 = 0 THEN NULL ELSE concat('n', id) END AS nm",
            "ST_AsWKB(ST_MakeLine(ARRAY(ST_Point(x, y),"
            " ST_Point(x + 1 + id % 4, y + 2 + id % 5)))) AS geom",
        )
    )
    path = os.path.join(_fresh_tmp("itf_q"), "rt.itf")
    write_interlis(df, path, tid_col="fid", attrs=["nm"],
                   model="Bench", topic="Lines", table="Seg")
    back = read_interlis(spark, path)
    return back.selectExpr(
        "tid",
        "attrs[0] AS nm",
        "round(ST_Length(geom), 6) AS len",
        "round(ST_XMin(geom), 6) AS mnx",
        "round(ST_YMax(geom), 6) AS mxy",
    )


def q_sosi_roundtrip(spark, sf_dir):
    """Kartverket SOSI write -> read round trip (sources/sosi.py, new in
    r15): dot-hierarchy text, TRANSPAR ORIGO/ENHET integer-unit
    coordinates, one KURVE per polygon ring + FLATE assembling its
    boundary from KURVE references, attributes as ..NAME value groups.
    The reference covers SOSI through its GDAL driver matrix
    (st_drivers.cpp; GDAL wraps the FYBA library). ENHET=0.01 over
    integer-valued test coordinates makes the quantization exact.

    r16 depth: a second hand-written file in the same directory pins the
    topology/header residue — two FLATEs SHARING one boundary KURVE
    (forward in one, ``:-1`` reversed in the other, the standard
    Kartverket shared-edge encoding), an exterior chain SPLIT around a
    parenthesized hole group (the r16 shell-concatenation fix), a
    TEKST point, a RASTER element whose raw data lines must be skipped,
    and DEF/DATO/SOSI-VERSJON/OMRÅDE header groups the parser must
    tolerate. Directory read also re-proves the uniform-KOORDSYS tag."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_sosi, write_sosi

    df = (
        spark.sql(_PTS)
        .filter("id < 300")
        .withColumn(
            "geom",
            F.expr("ST_MakeEnvelope(x, y, x + 1 + id % 4, y + 2 + id % 5)"),
        )
        .selectExpr("id AS fid", "geom")
    )
    tmp = _fresh_tmp("sosi_q")
    write_sosi(df, os.path.join(tmp, "rt.sos"), koordsys=22, attrs=["fid"])
    extra = """.HODE
..TEGNSETT UTF-8
..SOSI-VERSJON 4.5
..DATO 20240815
..TRANSPAR
...KOORDSYS 22
...ORIGO-NØ 0 0
...ENHET 0.01
..OMRÅDE
...MIN-NØ 0 0
...MAX-NØ 1000000 1000000
..DEF
...GRUPPE 1
.KURVE 1:
..NØ
0 1000
1000 1000
.KURVE 2:
..NØ
1000 1000
1000 0
0 0
0 1000
.KURVE 3:
..NØ
0 1000
0 2000
1000 2000
1000 1000
.KURVE 4:
..NØ
200 200
200 400
400 400
400 200
200 200
.FLATE 11:
..FID 9011
..REF :1 (:4) :2
..NØ
500 500
.FLATE 12:
..FID 9012
..REF :3 :-1
..NØ
500 1500
.RASTER 99:
..RASTER-DEL 1
1 2 3 4 5 6 7 8
9 10 11 12
.TEKST 13:
..FID 9013
..STRENG Navn
..NØ
500 500
.SLUTT
"""
    with open(os.path.join(tmp, "extra.sos"), "w", encoding="utf-8") as fh:
        fh.write(extra)
    back = read_sosi(spark, tmp)  # directory read, KOORDSYS agreement
    return back.filter("kind IN ('FLATE', 'TEKST')").selectExpr(
        "CAST(attrs['FID'] AS BIGINT) AS id",
        "round(ST_Area(geom), 6) AS area",
        "round(ST_XMin(geom), 6) AS mnx",
        "round(ST_YMax(geom), 6) AS mxy",
    )


def q_dgn_roundtrip(spark, sf_dir):
    """MicroStation DGN v7 write -> read round trip (sources/dgn.py, new
    in r13): ISFF SHAPE elements (type 6) with word-swapped int32 UOR
    coordinates, range, level and symbology words; TCB stub + EOF word.
    The reference covers DGN through its GDAL driver matrix
    (st_drivers.cpp lists 'DGN')."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_dgn, write_dgn

    df = (
        spark.sql(_PTS)
        .filter("id < 300")
        .withColumn(
            "geom",
            F.expr("ST_MakeEnvelope(x, y, x + 1 + id % 3, y + 2 + id % 7)"),
        )
        .selectExpr("CAST(id % 63 AS INT) AS lvl", "id", "geom")
    )
    path = os.path.join(_fresh_tmp("dgn_q"), "rt.dgn")
    write_dgn(df, path, level_col="lvl")
    back = read_dgn(spark, path)
    return back.selectExpr(
        "level",
        "round(ST_Area(geom), 6) AS area",
        "round(ST_XMin(geom), 6) AS mnx",
        "round(ST_YMax(geom), 6) AS mxy",
    )


def q_s57_roundtrip(spark, sf_dir):
    """IHO S-57 ENC write -> read round trip (sources/s57.py, new in
    r13): ISO 8211 records (leader/directory/field area) carrying
    DSPM COMF scaling, VE vector records with SG2D coordinate pairs and
    FRID area features resolving their rings through FSPT pointers —
    the reference reads ENC cells through GDAL's S57 driver
    (st_drivers.cpp). Coordinates quantize at 1/COMF = 1e-7 deg, so the
    5-decimal rounding is exact."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_s57, write_s57

    df = (
        spark.sql(_PTS)
        .filter("id < 300")
        .withColumn("lon", F.col("x") % 180 - 90)
        .withColumn("lat", F.col("y") % 120 - 60)
        .withColumn(
            "geom",
            F.expr(
                "ST_MakeEnvelope(lon, lat, lon + 0.1 + (id % 3) * 0.05,"
                " lat + 0.2 + (id % 7) * 0.05)"
            ),
        )
        .selectExpr("CAST(id % 300 + 1 AS INT) AS objl", "geom")
    )
    path = os.path.join(_fresh_tmp("s57_q"), "cell.000")
    write_s57(df, path, objl_col="objl")
    back = read_s57(spark, path)
    return back.selectExpr(
        "objl", "prim",
        "round(ST_XMin(geom), 5) AS mnx",
        "round(ST_YMax(geom), 5) AS mxy",
    )


def q_gml_roundtrip(spark, sf_dir):
    """Bare-GML write -> read round trip (sources/xmlgeo.py read_gml /
    write_gml): WFS-style FeatureCollection with per-row featureMember,
    polygon geometry through gml:Polygon/exterior/posList plus a string
    attribute. The reference reads GML through its GDAL driver matrix
    (st_drivers.cpp lists 'GML'); driver row new in r13."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_gml, write_gml

    df = (
        spark.sql(_PTS)
        .filter("id < 300")
        .withColumn(
            "geom",
            F.expr("ST_MakeEnvelope(x, y, x + 1 + id % 5, y + 2 + id % 3)"),
        )
        .selectExpr("CAST(id AS STRING) AS id", "geom")
    )
    path = os.path.join(_fresh_tmp("gml_q"), "rt.gml")
    write_gml(df, path)
    back = read_gml(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id",
        "round(ST_Area(geom), 6) AS area",
        "round(ST_XMin(geom), 6) AS mnx",
        "round(ST_YMax(geom), 6) AS mxy",
    )


def q_spatial_collect_dump(spark, sf_dir):
    """ST_Collect -> ST_Dump round trip: collect points per group into a
    MULTIPOINT, dump back out, verify count and coordinate sum survive."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT grp, count(*) AS n, round(sum(ST_X(d.geom)), 6) AS sx
        FROM (
          SELECT id % 50 AS grp, ST_Collect(collect_list(ST_Point(x, y))) AS mp
          FROM ({_PTS}) WHERE id < 3000 GROUP BY id % 50
        ) LATERAL VIEW explode(ST_Dump(mp)) t AS d
        GROUP BY grp
        """
    )


def q_spatial_line_endpoints(spark, sf_dir):
    """ST_StartPoint / ST_EndPoint / ST_PointN (1-based, negative-from-end)
    over per-order linestrings; <2 points -> EMPTY -> NULL accessors."""
    _prep(spark, sf_dir)
    return spark.sql(
        """
        SELECT id,
               round(ST_X(ST_StartPoint(line)), 6) AS sx,
               round(ST_Y(ST_EndPoint(line)), 6) AS ey,
               round(ST_X(ST_PointN(line, 2)), 6) AS p2x,
               round(ST_X(ST_PointN(line, -1)), 6) AS plx
        FROM (
          SELECT l_orderkey AS id,
                 ST_MakeLine(transform(array_sort(collect_list(struct(l_linenumber AS ln,
                   CAST(l_partkey % 500 AS DOUBLE) AS x,
                   CAST(l_suppkey % 500 AS DOUBLE) AS y,
                   ST_Point(CAST(l_partkey % 500 AS DOUBLE),
                            CAST(l_suppkey % 500 AS DOUBLE)) AS pt))),
                 s -> s.pt)) AS line
          FROM lineitem WHERE l_orderkey % 25 = 0
          GROUP BY l_orderkey
          HAVING count(*) >= 2
        )
        """
    )


def q_spatial_dwithin_grouped(spark, sf_dir):
    """Per-group dwithin self-join (windowed proximity count): the join
    rewrite plus a post-join group-key filter."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.operators import st_join

    a = spark.sql(_PTS).filter("id % 10 = 0").selectExpr(
        "id AS ida", "(id DIV 10) % 5 AS grpa", "ST_Point(x, y) AS geom"
    )
    b = spark.sql(_PTS).filter("id % 10 = 5").selectExpr(
        "id AS idb", "(id DIV 10) % 5 AS grpb", "ST_Point(x, y) AS geom"
    )
    j = st_join(a, b, predicate="dwithin", distance=75.0)
    return j.filter("grpa = grpb").groupBy(F.col("grpa").alias("grp")).agg(
        F.count("*").alias("n")
    )


# --------------------------------------------------------------------------
# unary-GEOS tail, Z/M flags, exact spheroid (new driver coverage, round 5)
# --------------------------------------------------------------------------

_UNARY_WKTS = [
    (1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
    (2, "LINESTRING (0 0, 3 0, 3 4)"),
    (3, "POINT (1 2)"),
    (4, "MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))"),
    (5, "LINESTRING (0 0, 1 0.1, 2 -0.1, 3 0.2, 4 0)"),
    (6, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"),
    (7, "POINT (1.23456 7.65432)"),
    (8, "LINESTRING (0 0, 1 1, 1 1, 2 2)"),
]


def q_spatial_unary_ops(spark, sf_dir):
    """Unary GEOS-tail functions over pinned WKTs: Boundary (SFS mod-2 rule
    on multilines), Envelope, PointOnSurface, Simplify (Douglas-Peucker),
    LineMerge, ReducePrecision, IsValid/IsSimple, ExteriorRing,
    NGeometries/NInteriorRings, RemoveRepeatedPoints, Reverse, Normalize,
    Multi, CollectionExtract. Oracle = pinned literals, hand-verified
    against GEOS/SFS semantics (reference test/sql/geos/*.test,
    test/sql/postgis/*.test). PointOnSurface's exact interior point is
    implementation-defined; the pinned value is asserted to lie on the
    surface in tests/test_geos_ops.py."""
    _prep(spark, sf_dir)
    df = spark.createDataFrame(_UNARY_WKTS, "id long, wkt string")
    df.createOrReplaceTempView("_unary_w")
    return spark.sql(
        """
        SELECT id,
          ST_AsText(ST_Boundary(ST_GeomFromText(wkt))) AS bnd,
          ST_AsText(ST_Envelope(ST_GeomFromText(wkt))) AS env,
          ST_AsText(ST_PointOnSurface(ST_GeomFromText(wkt))) AS pos,
          ST_AsText(ST_Simplify(ST_GeomFromText(wkt), 0.15D)) AS simp,
          ST_AsText(ST_SimplifyPreserveTopology(ST_GeomFromText(wkt), 5.0D)) AS spt,
          ST_AsText(ST_LineMerge(ST_GeomFromText(wkt))) AS lm,
          ST_AsText(ST_ReducePrecision(ST_GeomFromText(wkt), 0.01D)) AS rp,
          ST_IsValid(ST_GeomFromText(wkt)) AS isv,
          ST_IsSimple(ST_GeomFromText(wkt)) AS iss,
          coalesce(ST_AsText(ST_ExteriorRing(ST_GeomFromText(wkt))), '-') AS ext,
          CAST(ST_NGeometries(ST_GeomFromText(wkt)) AS INT) AS ng,
          CAST(coalesce(ST_NInteriorRings(ST_GeomFromText(wkt)), -1) AS INT) AS nir,
          ST_AsText(ST_RemoveRepeatedPoints(ST_GeomFromText(wkt))) AS rrp,
          ST_AsText(ST_Reverse(ST_GeomFromText(wkt))) AS rev,
          ST_AsText(ST_Normalize(ST_GeomFromText(wkt))) AS nrm,
          ST_AsText(ST_Multi(ST_GeomFromText(wkt))) AS mlt,
          ST_AsText(ST_CollectionExtract(ST_GeomFromText(wkt), 2)) AS ce
        FROM _unary_w
        """
    )


_ZM_WKTS = [
    # (id, wkt for flag/hex checks, point wkt for Z/M accessors)
    (1, "POINT (1 2)", "POINT (1 2)"),
    (2, "POINT Z (1 2 3)", "POINT Z (1 2 3)"),
    (3, "POINT M (1 2 4)", "POINT M (1 2 4)"),
    (4, "POINT ZM (1 2 3 4)", "POINT ZM (1 2 3 4)"),
    (5, "LINESTRING Z (0 0 1, 1 1 2)", "POINT Z (5 6 7)"),
    (6, "POLYGON ZM ((0 0 1 2, 4 0 1 2, 4 4 1 2, 0 0 1 2))", "POINT ZM (8 9 10 11)"),
]


def q_spatial_zm_flags(spark, sf_dir):
    """Z/M dimension plumbing: ST_HasZ/HasM/ZMFlag (st_has.cpp flag codes
    0/1/2/3), HEXWKB round-trip incl. the EWKB Z/M type-code offsets
    (st_geomfromhexwkb.cpp), and the ST_Z/ST_M point accessors."""
    _prep(spark, sf_dir)
    df = spark.createDataFrame(_ZM_WKTS, "id long, wkt string, pw string")
    df.createOrReplaceTempView("_zm_w")
    return spark.sql(
        """
        SELECT id,
          ST_HasZ(ST_GeomFromText(wkt)) AS hz,
          ST_HasM(ST_GeomFromText(wkt)) AS hm,
          CAST(ST_ZMFlag(ST_GeomFromText(wkt)) AS INT) AS zm,
          ST_AsHEXWKB(ST_GeomFromText(wkt)) AS hex,
          ST_AsText(ST_GeomFromHEXWKB(ST_AsHEXWKB(ST_GeomFromText(wkt)))) AS rt,
          coalesce(round(ST_Z(ST_GeomFromText(pw)), 1), -1.0) AS z,
          coalesce(round(ST_M(ST_GeomFromText(pw)), 1), -1.0) AS m
        FROM _zm_w
        """
    )


# (id, lon0, width_deg, lat_lo, lat_hi): zone-slice polygons whose exact
# ellipsoidal area has the closed form  (dlam/2) * b^2 * (f(hi) - f(lo)),
# f(phi) = sin/(1-e2 sin^2) + atanh(e sin)/e  — expressible in plain SQL.
# Non-equator parallel edges are densified at 0.002 deg so the geodesic
# edges coincide with the parallels to ~1e2 m^2 (<< the 0.1 km^2 rounding).
_SPHEROID_ZONES = [
    (1, 10.0, 1.0, 0.0, 30.0),
    (2, -75.0, 2.0, 10.0, 55.0),
    (3, 140.0, 1.5, -40.0, -5.0),
    (4, 5.0, 0.5, 20.0, 80.0),
    (5, -120.0, 1.0, -60.0, -20.0),
    (6, 30.0, 0.8, 0.0, 45.0),
]


def _zone_wkt(lon0, width, lat_lo, lat_hi, step=0.0005):
    # WKT emits the reference's [lat, lon] axis order for the geographiclib
    # surface (x = latitude; st_area_spheroid.cpp:58, its .test file).
    n = max(int(round(width / step)), 1)
    if lat_lo == 0.0:
        bottom = [(lon0, lat_lo), (lon0 + width, lat_lo)]  # equator IS a geodesic
    else:
        bottom = [(lon0 + width * i / n, lat_lo) for i in range(n + 1)]
    top = [(lon0 + width - width * i / n, lat_hi) for i in range(n + 1)]
    ring = bottom + top + [bottom[0]]
    return "POLYGON ((" + ", ".join(f"{y:.10f} {x:.10f}" for x, y in ring) + "))"


def q_spatial_area_spheroid(spark, sf_dir):
    """Exact ellipsoidal area/perimeter (Karney Gauss-Bonnet + boundary
    integral, functions/geodesy.py) on zone-slice polygons with closed-form
    truth; plus ST_Length_Spheroid on the meridian edge (closed-form
    meridian-arc series). Reference: st_area_spheroid.cpp:151-156."""
    _prep(spark, sf_dir)
    rows = [
        (i, _zone_wkt(lon0, w, lo, hi), f"LINESTRING ({lo} {lon0}, {hi} {lon0})")
        for (i, lon0, w, lo, hi) in _SPHEROID_ZONES
    ]
    df = spark.createDataFrame(rows, "id long, wkt string, mer string")
    df.createOrReplaceTempView("_sph_w")
    return spark.sql(
        """
        SELECT id,
          round(ST_Area_Spheroid(ST_GeomFromText(wkt)) / 1e6, 1) AS area_km2,
          round(ST_Perimeter_Spheroid(ST_GeomFromText(wkt)), 0) AS perim_m,
          round(ST_Length_Spheroid(ST_GeomFromText(mer)), 1) AS mer_m
        FROM _sph_w
        """
    )


def q_spatial_predicates2(spark, sf_dir):
    """Boundary-sensitive predicate family over derived rectangles:
    Covers/CoveredBy (boundary-inclusive), ContainsProperly (interior-only),
    Contains, Disjoint, Intersects_Extent, plus ST_ShortestLine length
    between disjoint rects (closed-form gap distance). A: base rect,
    E: left half (shares A's boundary), B: strict interior rect,
    C: edge-adjacent rect, D: disjoint rect offset by (rid%7+1, rid%5+2)."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT rid,
          ST_Covers(A, E) AS cov_ae,
          ST_Contains(A, E) AS con_ae,
          ST_ContainsProperly(A, E) AS cp_ae,
          ST_ContainsProperly(A, B) AS cp_ab,
          ST_CoveredBy(E, A) AS cb_ea,
          ST_Covers(A, C) AS cov_ac,
          ST_Disjoint(A, D) AS dis_ad,
          ST_Disjoint(A, C) AS dis_ac,
          ST_Intersects_Extent(A, C) AS ie_ac,
          ST_Intersects_Extent(A, D) AS ie_ad,
          round(ST_Length(ST_ShortestLine(A, D)), 6) AS gap
        FROM (
          SELECT rid,
            ST_MakeEnvelope(mx, my, mx + w, my + h) AS A,
            ST_MakeEnvelope(mx, my, mx + w/2, my + h) AS E,
            ST_MakeEnvelope(mx + w/4, my + h/4, mx + 3*w/4, my + 3*h/4) AS B,
            ST_MakeEnvelope(mx + w, my, mx + 2*w, my + h) AS C,
            ST_MakeEnvelope(mx + w + (rid % 7 + 1), my + h + (rid % 5 + 2),
                            mx + 2*w + (rid % 7 + 1), my + 2*h + (rid % 5 + 2)) AS D
          FROM ({_RECTS}) WHERE rid <= 400
        )
        """
    )


_DUMMY_RING = "LINESTRING (0 0, 1 0, 0 1, 0 0)"
_CONSTRUCT_WKTS = [
    # (id, wkt, ring wkt for ST_MakePolygon — pandas UDFs evaluate the whole
    # column regardless of CASE, so every row needs a valid closed ring)
    (1, "LINESTRING (0 0, 1 0, 1 1, 0 0)", "LINESTRING (0 0, 1 0, 1 1, 0 0)"),
    (2, "LINESTRING (0 0, 1 0, 1 1)", _DUMMY_RING),
    (3, "POINT (3 4)", _DUMMY_RING),
    (4, "POLYGON EMPTY", _DUMMY_RING),
    (5, "LINESTRING (0 0, 2 0, 2 2, 0 2, 0 0)", "LINESTRING (0 0, 2 0, 2 2, 0 2, 0 0)"),
    (6, "MULTIPOINT (1 1, 2 2)", _DUMMY_RING),
    (7, "LINESTRING EMPTY", _DUMMY_RING),
    (8, "LINESTRING (0 0, 1 1, 0 1, 1 0, 0 0)", "LINESTRING (0 0, 1 1, 0 1, 1 0, 0 0)"),
]


def q_spatial_construct_ops(spark, sf_dir):
    """IsClosed/IsEmpty/IsRing semantics (SFS: ring = closed AND simple;
    row 8 is closed but self-crossing, so not a ring), ST_MakePolygon from
    closed rings, ST_Points vertex dump. Oracle = pinned literals."""
    _prep(spark, sf_dir)
    df = spark.createDataFrame(_CONSTRUCT_WKTS, "id long, wkt string, rw string")
    df.createOrReplaceTempView("_cons_w")
    return spark.sql(
        """
        SELECT id,
          ST_IsClosed(ST_GeomFromText(wkt)) AS closed,
          ST_IsEmpty(ST_GeomFromText(wkt)) AS empty,
          ST_IsRing(ST_GeomFromText(wkt)) AS ring,
          CASE WHEN id IN (1, 5, 8)
               THEN ST_AsText(ST_MakePolygon(ST_GeomFromText(rw))) ELSE '-' END AS mkpoly,
          ST_AsText(ST_Points(ST_GeomFromText(wkt))) AS pts
        FROM _cons_w
        """
    )


def q_spatial_refsys(spark, sf_dir):
    """SPATIAL_REF_SYS / ST_List_Proj_CRS analog (proj/functions.cpp:416-422):
    pinned well-known rows + the fixed UTM-zone count, robust to future
    registry growth."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.functions import list_proj_crs_df

    df = list_proj_crs_df(spark)
    df.createOrReplaceTempView("_crs_reg")
    return spark.sql(
        """
        SELECT auth_name AS auth, code, name FROM _crs_reg
        WHERE code IN ('4326', '3857', '27700', '32633')
        UNION ALL
        SELECT 'EPSG' AS auth, 'utm_zones' AS code,
               CAST(count(*) AS STRING) AS name
        FROM _crs_reg WHERE name LIKE 'WGS 84 / UTM zone %'
        """
    )


def q_st_drivers_meta(spark, sf_dir):
    """ST_Drivers registry (st_drivers.cpp analog; pinned — the format list
    is static) + ST_Read_Meta over a GeoJSON written from testdata
    (st_read_meta.cpp:26-56: driver, feature count, geometry types, crs)."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import st_drivers, st_read_meta
    from duckdb_spatial_spark.sources.geojson import write_geojson

    drv = st_drivers(spark).selectExpr(
        "short_name AS name", "CAST(can_open AS STRING) AS a",
        "CAST(can_create AS STRING) AS b"
    )
    df = (
        spark.sql(_PTS).filter("id < 250")
        .withColumn("geom", F.expr("ST_Point(x, y)"))
        .select("id", "geom")
    )
    path = os.path.join(_fresh_tmp("meta_q"), "m.geojson")
    write_geojson(df, path, style="collection")
    meta = st_read_meta(spark, path).selectExpr(
        "concat(driver, '/', geometry_types, '/', crs) AS name",
        "CAST(feature_count AS STRING) AS a", "'meta' AS b"
    )
    return drv.unionAll(meta)


def q_shp_roundtrip(spark, sf_dir):
    """Shapefile write -> read round trip (sources/shapefile.py): .shp/.shx
    geometry records + .dbf attributes (ST_ReadSHP analog,
    read_shapefile.cpp)."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.shapefile import read_shapefile, write_shapefile

    df = (
        spark.sql(_PTS)
        .filter("id < 400")
        .withColumn("geom", F.expr("ST_Point(x, y)"))
        .select("id", "geom")
    )
    path = os.path.join(_fresh_tmp("shp_q"), "rt.shp")
    write_shapefile(df, path)
    back = read_shapefile(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y"
    )


def q_gdb_roundtrip(spark, sf_dir):
    """FileGDB write -> read round trip (sources/filegdb.py): OpenFileGDB
    driver analog with the reference's mandatory GEOMETRY_TYPE contract
    (test/sql/gdal/st_read_gdb.test; reached there via st_read.cpp GDAL
    dispatch). Points + typed attributes survive the .gdbtable/.gdbtablx
    encoding; coordinates quantize on a 1e-9 grid, far below the 1e-6
    rounding here."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.filegdb import read_gdb, write_gdb

    df = (
        spark.sql(_PTS)
        .filter("id < 400")
        .withColumn("geom", F.expr("ST_Point(x, y)"))
        .selectExpr("id", "geom", "concat('n', CAST(id % 7 AS STRING)) AS name",
                    "CAST(id AS DOUBLE) / 8 AS score")
    )
    path = os.path.join(_fresh_tmp("gdb_q"), "rt.gdb")
    write_gdb(df, path, layer="pts", geometry_type="POINT")
    back = read_gdb(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "round(ST_X(geom), 6) AS x",
        "round(ST_Y(geom), 6) AS y", "name", "round(score, 6) AS score"
    )


def q_dxf_read(spark, sf_dir):
    """DXF entity reader (sources/dxf.py; GDAL DXF driver analog reached by
    the reference via st_read.cpp). A drawing with POINT entities derived
    from the orders table plus a closed LWPOLYLINE and a TEXT entity is
    parsed back; the oracle recomputes the same layer sums / polygon
    measures in plain SQL."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.dxf import read_dxf

    rows = spark.sql(_PTS).filter("id < 300").collect()
    parts = ["0\nSECTION\n2\nENTITIES\n"]
    for r in rows:
        parts.append(f"0\nPOINT\n8\nL{int(r.id) % 5}\n10\n{r.x!r}\n20\n{r.y!r}\n")
    parts.append(
        "0\nLWPOLYLINE\n8\nP\n70\n1\n90\n4\n"
        "10\n0\n20\n0\n10\n4\n20\n0\n10\n4\n20\n4\n10\n0\n20\n4\n"
    )
    parts.append("0\nTEXT\n8\nT\n10\n7\n20\n8\n1\nhello\n")
    parts.append("0\nENDSEC\n0\nEOF\n")
    path = os.path.join(_fresh_tmp("dxf_q"), "q.dxf")
    with open(path, "w") as f:
        f.write("".join(parts))
    df = read_dxf(spark, path)
    df.createOrReplaceTempView("dxf_q")
    return spark.sql(
        """
        SELECT layer AS name, CAST(count(*) AS BIGINT) AS n,
               round(sum(ST_X(geom)), 6) AS a, round(sum(ST_Y(geom)), 6) AS b
        FROM dxf_q WHERE entity = 'POINT' GROUP BY layer
        UNION ALL
        SELECT 'POLY' AS name, CAST(1 AS BIGINT) AS n,
               round(ST_Area(geom), 6) AS a, round(ST_Perimeter(geom), 6) AS b
        FROM dxf_q WHERE entity = 'LWPOLYLINE'
        UNION ALL
        SELECT concat('TEXT:', text) AS name, CAST(1 AS BIGINT) AS n,
               ST_X(geom) AS a, ST_Y(geom) AS b
        FROM dxf_q WHERE entity = 'TEXT'
        """
    )


def q_xlsx_roundtrip(spark, sf_dir):
    """XLSX write -> read round trip (sources/tabular.py; GDAL XLSX driver
    analog — the reference's test/sql/gdal suite exercises spreadsheets).
    score = x/4 is an exact binary division, so values survive the decimal
    text round trip bit-exactly."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.tabular import read_xlsx, write_xlsx

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name, x / 4 AS score"
        f" FROM ({_PTS}) WHERE id < 300"
    )
    path = os.path.join(_fresh_tmp("xlsx_q"), "q.xlsx")
    write_xlsx(df, path, sheet="pts")
    back = read_xlsx(spark, path)
    return back.selectExpr("CAST(id AS DOUBLE) AS id", "name", "CAST(score AS DOUBLE) AS score")


def q_mif_roundtrip(spark, sf_dir):
    """MapInfo MIF/MID write -> read round trip (sources/mapinfo.py; GDAL
    'MapInfo File' driver analog reached by the reference via st_read.cpp).
    score = x/4 is an exact binary division, so attribute values survive the
    decimal text round trip bit-exactly."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.mapinfo import read_mif, write_mif

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name, x / 4 AS score,"
        f" x, y FROM ({_PTS}) WHERE id < 350"
    ).withColumn("geom", F.expr("ST_Point(x, y)")).drop("x", "y")
    path = os.path.join(_fresh_tmp("mif_q"), "rt.mif")
    write_mif(df, path)
    back = read_mif(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "name", "CAST(score AS DOUBLE) AS score",
        "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y",
    )


def q_tab_roundtrip(spark, sf_dir):
    """MapInfo TAB binary write -> read round trip (sources/mapinfo_tab.py;
    the binary half of GDAL's 'MapInfo File' driver — .dat xBASE attributes,
    .id offsets, 512-byte-block .map geometry per the public MITAB format
    description). Ints survive as N(dec 0), doubles as repr text (exact),
    coordinates quantize to the layout's int32 grid (resolution ~5e-6 over
    a 10^4-unit extent) — round(5) absorbs the half-grid error."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.mapinfo_tab import read_tab, write_tab

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name, x / 4 AS score,"
        f" id % 2 = 0 AS flag, x, y FROM ({_PTS}) WHERE id < 350"
    ).withColumn("geom", F.expr("ST_Point(x, y)")).drop("x", "y")
    path = os.path.join(_fresh_tmp("tab_q"), "rt.tab")
    write_tab(df, path)
    back = read_tab(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "name", "CAST(score AS DOUBLE) AS score",
        "flag",
        "round(ST_X(geom), 5) AS x", "round(ST_Y(geom), 5) AS y",
    )


def q_georss_roundtrip(spark, sf_dir):
    """GeoRSS feed write -> read round trip (sources/xmlgeo.py read_georss /
    write_georss; GDAL GeoRSS driver analog): RSS 2.0 items with
    GeoRSS-Simple point geometry (lat-lon wire order), repr-exact doubles."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.xmlgeo import read_georss, write_georss

    df = spark.sql(
        f"SELECT concat('t', CAST(id AS STRING)) AS title,"
        f" concat('http://example/', CAST(id AS STRING)) AS link,"
        f" x, y FROM ({_PTS}) WHERE id < 300"
    ).withColumn(
        "geom", F.expr("ST_Point(x / 100 - 40, y / 200 - 20)")
    ).drop("x", "y")
    path = os.path.join(_fresh_tmp("georss_q"), "feed.rss")
    write_georss(df, path)
    back = read_georss(spark, path)
    return back.selectExpr(
        "title", "link",
        "round(ST_X(geom), 6) AS lon", "round(ST_Y(geom), 6) AS lat",
    )


def q_pgdump_roundtrip(spark, sf_dir):
    """PGDump SQL sink -> reader round trip (sources/pgdump.py; GDAL's
    write-only PGDump driver analog + a COPY-block reader for pg_dump-style
    text): typed CREATE TABLE, COPY text escaping, hex EWKB with SRID."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.pgdump import read_pgdump, write_pgdump

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,"
        f" x / 4 AS score, id % 2 = 0 AS flag, x, y"
        f" FROM ({_PTS}) WHERE id < 300"
    ).withColumn("geom", F.expr("ST_Point(x, y)")).drop("x", "y")
    path = os.path.join(_fresh_tmp("pgdump_q"), "dump.sql")
    write_pgdump(df, path, table="pts", srid=4326)
    back = read_pgdump(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "name", "CAST(score AS DOUBLE) AS score",
        "flag", "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y",
    )


def q_esrijson_roundtrip(spark, sf_dir):
    """Esri JSON FeatureSet sink -> reader round trip (sources/esrijson.py;
    GDAL's ESRIJSON driver analog, reached by reference st_read.cpp
    dispatch): typed fields table, ArcGIS REST payload shape, Esri ring
    winding (clockwise exteriors — opposite of OGC)."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import st_read, st_write

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,"
        f" x / 4 AS score, x, y FROM ({_PTS}) WHERE id < 300"
    ).withColumn("geom", F.expr("ST_Point(x, y)")).drop("x", "y")
    path = os.path.join(_fresh_tmp("esrijson_q"), "fs.esrijson")
    st_write(df, path)
    back = st_read(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "name", "CAST(score AS DOUBLE) AS score",
        "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y",
    )


def q_geojsonseq_roundtrip(spark, sf_dir):
    """GeoJSONSeq (newline-delimited GeoJSON) sink -> reader round trip
    (sources/geojson.py read_geojsonseq/write_geojsonseq; GDAL's
    GeoJSONSeq driver analog). Unlike the whole-file GeoJSON lane this
    rides Spark's SPLITTABLE text source — the write is a distributed
    .text directory (no collect, no max_rows guard) and the read
    byte-range-splits, which is the 100 TB interchange shape."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_geojsonseq, st_write

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,"
        f" x / 4 AS score, x, y FROM ({_PTS}) WHERE id < 300"
    ).withColumn("geom", F.expr("ST_Point(x, y)")).drop("x", "y")
    path = os.path.join(_fresh_tmp("geojsonseq_q"), "pts.geojsonl")
    st_write(df, path)
    back = read_geojsonseq(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "name", "CAST(score AS DOUBLE) AS score",
        "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y",
    )


def q_spatialite_roundtrip(spark, sf_dir):
    """SpatiaLite database write -> read round trip (sources/spatialite.py;
    GDAL SQLite/Spatialite driver analog — public BLOB-Geometry format via
    stdlib sqlite3: START/MBR_END/ENTITY/END markers, class codes, srid)."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.spatialite import read_spatialite, write_spatialite

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name, x / 4 AS score,"
        f" x, y FROM ({_PTS}) WHERE id < 300"
    ).withColumn("geom", F.expr("ST_Point(x, y)")).drop("x", "y")
    path = os.path.join(_fresh_tmp("spatialite_q"), "db.sqlite")
    write_spatialite(df, path, layer="pts", srid=4326)
    back = read_spatialite(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "name", "CAST(score AS DOUBLE) AS score",
        "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y",
    )


def q_osm_read(spark, sf_dir):
    """ST_ReadOSM (sources/osm.py; fixed 8-column schema mirroring
    st_read_osm.cpp:39-96). A deterministic .osm.pbf is generated from the
    orders-derived point set (dense nodes with delta/zigzag coding + ways +
    one relation), read back blob-parallel, and the oracle recomputes every
    surfaced value in plain SQL. x,y are integer-valued doubles, so
    lat/lon = v/100 - 40 carries exactly 2 decimals — within the PBF's 1e-7
    granularity, making round(.,6) stable on both sides."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources.osm import read_osm, write_osm_fixture

    rows = sorted(
        (int(r.id), float(r.x), float(r.y))
        for r in spark.sql(_PTS).filter("id < 400").collect()
    )
    nodes = [
        (i + 1, y / 100 - 40, x / 100 - 40, {"name": f"n{i % 7}"}) for i, x, y in rows
    ]
    ways = [
        (100000 + i, [i + 1, i + 2, i + 3], {"highway": "x"})
        for i, _, _ in rows
        if i % 50 == 0
    ]
    rels = [(999999, [(100000, "outer", "way"), (1, "admin_centre", "node")], {"type": "mp"})]
    path = os.path.join(_fresh_tmp("osm_q"), "q.osm.pbf")
    write_osm_fixture(path, nodes, ways, rels)
    df = read_osm(spark, path)
    df.createOrReplaceTempView("osm_q")
    return spark.sql(
        """
        SELECT kind, id, element_at(tags, 'name') AS name,
               CASE WHEN refs IS NULL THEN -1 ELSE size(refs) END AS nrefs,
               round(lat, 6) AS lat, round(lon, 6) AS lon
        FROM osm_q
        """
    )


def q_streaming_upsert(spark, sf_dir):
    """Streaming ingest that MAINTAINS the snapshot layout: readStream
    over parquet batch files -> foreachBatch upsert_geo_snapshot (the
    key-matched COW MERGE, rtree.cpp insert-path analog) -> read the
    final snapshot. maxFilesPerTrigger=1 forces one upsert commit per
    batch, exercising incremental maintenance; the streamed key sets are
    DISJOINT (updates vs inserts), so the final state is independent of
    batch boundaries and a plain-SQL oracle reproduces it."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.plans.snapshot import (
        read_geo_snapshot,
        upsert_geo_snapshot,
        write_geo_snapshot,
    )

    base_dir = _fresh_tmp("stream_upsert")
    layout = os.path.join(base_dir, "layout")
    src_dir = os.path.join(base_dir, "in")
    os.makedirs(src_dir, exist_ok=True)
    write_geo_snapshot(spark.sql(_PTS), layout, point_xy=("x", "y"), num_partitions=4)
    upd = spark.sql(
        f"SELECT id, CAST(2.5 AS DOUBLE) AS x, CAST(7.25 AS DOUBLE) AS y"
        f" FROM ({_PTS}) WHERE id % 11 = 0"
    )
    ins = spark.sql(
        f"SELECT id + 40000000 AS id, CAST(11.5 AS DOUBLE) AS x,"
        f" CAST(3.75 AS DOUBLE) AS y FROM ({_PTS}) WHERE id % 13 = 0"
    )
    for i, bdf in enumerate((upd, ins)):
        tmpd = os.path.join(base_dir, f"w{i}")
        bdf.coalesce(1).write.mode("overwrite").parquet(tmpd)
        for f in os.listdir(tmpd):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(tmpd, f),
                    os.path.join(src_dir, f"batch-{i}.parquet"),
                )
    stream = (
        spark.readStream.schema(upd.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def handle(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        upsert_geo_snapshot(
            spark, layout, batch_df, "id", num_partitions=2, point_xy=("x", "y")
        )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(base_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise RuntimeError("streaming upsert did not finish in 180s")
    final = read_geo_snapshot(spark, layout)
    return final.groupBy().agg(
        F.count("*").alias("_n"),
        F.sum("id").alias("_s"),
        F.min("bbox_min_x").alias("_x0"),
        F.max("bbox_max_y").alias("_y1"),
    ).select(
        F.col("_n").cast("long").alias("n"),
        F.col("_s").cast("long").alias("id_sum"),
        F.round("_x0", 6).alias("xmin"),
        F.round("_y1", 6).alias("ymax"),
    )


def q_spatial_distance_spheroid(spark, sf_dir):
    """Vectorized Vincenty geodesic distance (st_distance_spheroid.cpp);
    oracle = the same fixed-point Vincenty iteration unrolled in plain SQL
    (8 iterations, linear convergence ratio ~f => converged to fp64)."""
    _prep(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT cid,
          round(ST_Distance_Spheroid(
            ST_Point(lat, lon), ST_Point(lat / 2 + 10, lon / 2)), 2) AS dist_m,
          ST_DWithin_Spheroid(
            ST_Point(lat, lon), ST_Point(lat / 2 + 10, lon / 2), 2000000.0D) AS within_2mm
        FROM ({_LONLAT}) WHERE cid < 300
        """
    )

def q_arrow_roundtrip(spark, sf_dir):
    """Arrow IPC (Feather v2) sink -> source roundtrip through st_read."""
    import os

    _prep(spark, sf_dir)
    from duckdb_spatial_spark.sources import st_read, write_arrow_ipc

    rects = spark.sql(_RECTS).filter(F.col("rid") % 7 == 0).selectExpr(
        "rid", "ST_MakeEnvelope(mx, my, mx + w, my + h) AS geom", "w * h AS area"
    )
    # fixed name, overwritten per run: the returned plan reads the file
    # lazily, so it cannot be unlinked here — a stable path at least
    # keeps repeated contract sweeps from accumulating temp files
    path = os.path.join(_fresh_tmp("arrow_roundtrip"), "rt.arrow")
    write_arrow_ipc(rects, path)
    back = st_read(spark, path)
    return back.selectExpr(
        "rid", "round(ST_Area(geom), 6) AS area_geom", "round(area, 6) AS area"
    )


# mixed-dimension overlay pairs: L x L and L x A cases (reference
# geos/functions/scalar/st_intersection.cpp via GEOS OverlayNG dimension
# rules). Expected WKTs hand-derived; pytest pins both argument orders.
_LINE_IX_WKTS = [
    (1, "LINESTRING (0 0, 4 4)", "LINESTRING (0 4, 4 0)"),
    (2, "LINESTRING (0 0, 2 2)", "LINESTRING (2 2, 4 0)"),
    (3, "LINESTRING (0 0, 4 0)", "LINESTRING (2 0, 6 0)"),
    (4, "LINESTRING (0 0, 1 0)", "LINESTRING (0 2, 1 2)"),
    (5, "LINESTRING (0 0, 4 0, 4 4)", "LINESTRING (2 0, 6 0, 6 2, 2 2)"),
    (6, "LINESTRING (-1 1, 5 1)", "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
    (7, "LINESTRING (-1 2.5, 5 2.5)", "POLYGON ((0 0, 4 0, 4 1, 1 1, 1 4, 0 4, 0 0))"),
    (8, "LINESTRING (-1 5, 11 5)",
     "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"),
    (9, "LINESTRING (-1 1, 7 1)",
     "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((4 0, 6 0, 6 2, 4 2, 4 0)))"),
    (10, "LINESTRING (1 5, 3 5)", "POLYGON ((0 0, 4 0, 4 1, 1 1, 1 4, 2 5, 0 4, 0 0))"),
]


def q_spatial_intersection_lines(spark, sf_dir):
    """Mixed-dimension ST_Intersection: crossing/touching/collinear line
    pairs and lines against concave / holed / multi polygons — the result
    drops to the correct dimension (point, clipped line, collection)."""
    _prep(spark, sf_dir)
    df = spark.createDataFrame(_LINE_IX_WKTS, "id long, wa string, wb string")
    df.createOrReplaceTempView("_lineix_w")
    return spark.sql(
        """
        SELECT id,
          ST_AsText(ST_Intersection(ST_GeomFromText(wa), ST_GeomFromText(wb))) AS ix,
          ST_AsText(ST_Intersection(ST_GeomFromText(wb), ST_GeomFromText(wa))) AS xi,
          CAST(ST_Dimension(ST_Intersection(ST_GeomFromText(wa), ST_GeomFromText(wb))) AS INT) AS dim,
          round(ST_Length(ST_Intersection(ST_GeomFromText(wa), ST_GeomFromText(wb))), 6) AS len,
          ST_AsText(ST_Difference(ST_GeomFromText(wa), ST_GeomFromText(wb))) AS dif
        FROM _lineix_w
        """
    )


# (box_id, x0, y0, x1, y1, exact-semantic) windows for the R-tree-analog
# windowed-count query. Mixed within/intersects pins both point fast paths
# of filter_bbox (reference rtree_index_plan_scan.cpp:207-231 filter split).
_LAYOUT_BOXES = [
    (1, 1000.0, 1000.0, 3000.0, 2500.0, "within"),
    (2, 0.0, 0.0, 500.0, 9999.0, "intersects"),
    (3, 7000.0, 4000.0, 9000.0, 6000.0, "within"),
    (4, 2500.0, 7500.0, 6500.0, 9000.0, "intersects"),
]


def q_layout_pruned_count(spark, sf_dir):
    """R-tree analog end-to-end: Hilbert-cluster the point table into a
    bbox-sidecar parquet layout (reference index/rtree build), then answer
    windowed queries through filter_bbox — bbox conjuncts land in
    PushedFilters (row-group skipping), the exact predicate is decided
    all-JVM on the sidecar columns (points=True fast path). Oracle = the
    same window predicates in plain SQL over the raw points."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.plans.pruning import filter_bbox, write_geo_parquet

    path = _fresh_tmp("layout_pruned")
    write_geo_parquet(spark.sql(_PTS), path, point_xy=("x", "y"), num_partitions=8)
    base = spark.read.parquet(path)
    outs = []
    for bid, x0, y0, x1, y1, sem in _LAYOUT_BOXES:
        w = filter_bbox(base, x0, y0, x1, y1, exact=sem, points=True)
        outs.append(
            w.groupBy().agg(
                F.count("*").alias("_n"),
                F.coalesce(F.sum("id"), F.lit(0)).alias("_s"),
            ).select(
                F.lit(bid).cast("int").alias("box_id"),
                F.col("_n").cast("long").alias("n"),
                F.col("_s").cast("long").alias("id_sum"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


_NAD27_GRID = {  # synthetic NTv2 grid: affine shift field, dyadic coeffs
    "s_lat": 88200.0, "n_lat": 145800.0,      # 24.5..40.5 deg N (arcsec)
    "e_long": 286200.0, "w_long": 361800.0,   # 79.5..100.5 deg W (pos-west)
    "inc": 1800.0,
    # shift_lat_sec  = 2.5   + 0.0625*col + 0.03125*row
    # shift_lonW_sec = -1.75 + 0.03125*col + 0.0625*row
    "a_lat": 2.5, "b_lat": 0.0625, "c_lat": 0.03125,
    "a_lon": -1.75, "b_lon": 0.03125, "c_lon": 0.0625,
}


def _write_nad27_grid(path: str) -> None:
    """Synthetic NTv2 .gsb whose shift field is AFFINE with dyadic
    coefficients: bilinear interpolation reproduces an affine field
    exactly and dyadic node values are exact in float32, so a plain-SQL
    oracle can compute the engine's answer in closed form."""
    import numpy as np

    from duckdb_spatial_spark.functions.ntv2 import SubGrid, write_gsb

    g = _NAD27_GRID
    nrows = int((g["n_lat"] - g["s_lat"]) / g["inc"]) + 1
    ncols = int((g["w_long"] - g["e_long"]) / g["inc"]) + 1
    rows = np.arange(nrows, dtype=np.float64)[:, None]
    cols = np.arange(ncols, dtype=np.float64)[None, :]
    la = (g["a_lat"] + g["b_lat"] * cols + g["c_lat"] * rows).astype(np.float32)
    lo = (g["a_lon"] + g["b_lon"] * cols + g["c_lon"] * rows).astype(np.float32)
    write_gsb(path, [SubGrid(
        "SYNTH", "NONE", g["s_lat"], g["n_lat"], g["e_long"], g["w_long"],
        g["inc"], g["inc"], la, lo,
    )])


_NAD27_PTS = (
    "SELECT c_custkey AS cid,"
    " CAST(c_custkey * 7919 % 2000 AS DOUBLE) / 100 - 100 AS lon,"
    " CAST(c_custkey * 104729 % 1500 AS DOUBLE) / 100 + 25 AS lat"
    " FROM customer WHERE c_custkey <= 300"
)


def q_spatial_transform_nad27(spark, sf_dir):
    """NTv2 datum grid-shift through ST_Transform (reference vendors proj
    9.x whose +nadgrids consumes these grids; test/sql/proj.test): a
    synthetic NAD27-style .gsb with an affine shift field is written at
    runtime, NAD27 lon/lat transforms to WGS84 through bilinear grid
    interpolation (functions/ntv2.py), and the WGS84->NAD27 roundtrip
    pins the iterative inverse. Oracle = the affine field in closed form
    (bilinear interpolation of an affine field is exact)."""
    _prep(spark, sf_dir)
    import os

    path = os.path.join(_fresh_tmp("nad27_grid"), "synth.gsb")
    _write_nad27_grid(path)
    src = f"+proj=longlat +datum=NAD27 +nadgrids={path}"
    return spark.sql(
        f"""
        SELECT cid,
          round(ST_X(w), 6) AS wlon, round(ST_Y(w), 6) AS wlat,
          round(ST_X(ST_Transform(w, 'EPSG:4326', '{src}', true)), 6) AS rlon,
          round(ST_Y(ST_Transform(w, 'EPSG:4326', '{src}', true)), 6) AS rlat
        FROM (
          SELECT cid, ST_Transform(ST_Point(lon, lat), '{src}', 'EPSG:4326', true) AS w
          FROM (SELECT cid, lon, lat FROM ({_NAD27_PTS}))
        )
        """
    )


def q_spatial_transform_vertical(spark, sf_dir):
    """Vertical / compound EPSG registry (r15, functions/crs.py; the
    reference resolves these codes through its embedded PROJ db,
    proj/functions.cpp:487-508): EPSG:5498 (NAD83 + NAVD88 height),
    the PROJ 'EPSG:4326+5703' horizontal+vertical notation, MSL depth
    (5715 -> +vto_meter=-1 z negation) and MSL height passthrough
    (9705, no grid registered). A synthetic GTX geoid grid with an
    AFFINE undulation field N = 2 + 0.5*(lon+100) + 0.25*(lat-30) is
    dropped into the PROJ_DATA convention dir
    (spark-warehouse/proj_grids/epsg_5703.gtx) so executor-side UDF
    workers resolve it exactly like PROJ's grid directory; bilinear
    interpolation of an affine field is exact and every grid node /
    query coordinate is a binary fraction, so the oracle is the closed
    form (the nad27 trick)."""
    _prep(spark, sf_dir)
    import os
    import struct as _st

    gd = os.path.join("spark-warehouse", "proj_grids")
    os.makedirs(gd, exist_ok=True)
    with open(os.path.join(gd, "epsg_5703.gtx"), "wb") as f:
        f.write(_st.pack(">ddddii", 30.0, -100.0, 1.0, 1.0, 11, 11))
        for i in range(11):          # rows from the SW corner
            for j in range(11):
                f.write(_st.pack(">f", 2.0 + 0.5 * j + 0.25 * i))
    pts = ("(VALUES (1, -95.5, 35.25, 100.0), (2, -97.75, 31.5, 12.5),"
           " (3, -91.25, 39.5, 0.0)) AS t(pid, lon, lat, h)")
    return spark.sql(
        f"""
        SELECT pid,
          round(ST_X(u), 6) AS lon, round(ST_Y(u), 6) AS lat,
          round(ST_Z(u), 6) AS h_ell,
          round(ST_Z(ST_Transform(u, 'EPSG:4326', 'EPSG:5498', true)), 6) AS h_rt,
          round(ST_Z(ST_Transform(p, 'EPSG:4326+5703', 'EPSG:4326', true)), 6) AS h_notation,
          round(ST_Z(ST_Transform(p, 'EPSG:4326+5715', 'EPSG:4326', true)), 6) + 0 AS negdepth,
          round(ST_Z(ST_Transform(p, 'EPSG:9705', 'EPSG:4326', true)), 6) AS msl_pass
        FROM (
          SELECT pid, p, ST_Transform(p, 'EPSG:5498', 'EPSG:4326', true) AS u
          FROM (
            SELECT pid, ST_GeomFromText(
              concat('POINT Z (', lon, ' ', lat, ' ', h, ')')) AS p
            FROM {pts}
          )
        )
        """
    )


_NTF_GREENWICH = (
    "+proj=longlat +a=6378249.2 +b=6356515"
    " +towgs84=-168,-60,320,0,0,0,0"
)
_NTF_PARIS = _NTF_GREENWICH + " +pm=paris"
_PARIS_PM = 2.337229166666667


def q_spatial_transform_paris(spark, sf_dir):
    """Prime-meridian CRS support (+pm=, proj's pipeline; reference
    vendors proj 9.x): the NTF (Paris) / Lambert zone family
    (EPSG:27571-27573). Oracle rows are SPEC IDENTITIES, not
    engine-derived values: the projection origin (Paris meridian,
    lat_0) maps to exactly (x_0, y_0) by construction of the 1SP LCC,
    the Paris->Greenwich rotation is the published meridian offset, and
    the WGS84 roundtrip returns the input."""
    _prep(spark, sf_dir)
    rows = []
    for zid, code, lat0, y0 in (
        (1, "EPSG:27571", 49.5, 1200000.0),
        (2, "EPSG:27572", 46.8, 2200000.0),
        (3, "EPSG:27573", 44.1, 3200000.0),
    ):
        rows.append((zid, code, _PARIS_PM, lat0, y0))
    df = spark.createDataFrame(
        rows, "zid int, code string, lon double, lat0 double, y0 double"
    )
    df.createOrReplaceTempView("_paris_zones")
    return spark.sql(
        f"""
        SELECT zid,
          round(ST_X(ST_Transform(ST_Point(lon, lat0), '{_NTF_GREENWICH}', code, true)), 4) AS x,
          round(ST_Y(ST_Transform(ST_Point(lon, lat0), '{_NTF_GREENWICH}', code, true)) - y0, 4) AS dy,
          round(ST_X(ST_Transform(ST_Point(0.0D, lat0), '{_NTF_PARIS}', '{_NTF_GREENWICH}', true)), 9) AS glon,
          round(ST_X(ST_Transform(ST_Transform(ST_Point(2.3522D, 48.8566D), 'EPSG:4326', code, true), code, 'EPSG:4326', true)), 6) AS rt_lon,
          round(ST_Y(ST_Transform(ST_Transform(ST_Point(2.3522D, 48.8566D), 'EPSG:4326', code, true), code, 'EPSG:4326', true)), 6) AS rt_lat
        FROM _paris_zones
        """
    )


_AMS_ROADS_3857 = [
    (1, 554203.4169973677, 6859025.689313544),
    (2, 554131.0036686066, 6858997.931783472),
    (3, 554196.0031192809, 6859038.14744868),
    (4, 554129.1446331105, 6859017.821027594),
    (5, 553828.8380427975, 6860070.236052946),
    (6, 553546.4650224512, 6859644.029476092),
    (7, 553663.1723765989, 6859774.68695584),
    (8, 553772.933394521, 6859923.853647543),
]

_RD_BESSEL = "+proj=longlat +ellps=bessel"
_RD_STEREA = (
    "+proj=sterea +lat_0=52.15616055555555 +lon_0=5.38763888888889 "
    "+k=0.9999079 +x_0=155000 +y_0=463000 +ellps=bessel"
)
_RSO_EVEREST = "+proj=longlat +ellps=evrstSS"
_RSO_BORNEO = (
    "+proj=omerc +lat_0=4 +lonc=115 +alpha=53.31582047222222 "
    "+gamma=53.13010236111111 +k=0.99984 +x_0=590476.87 +y_0=442857.65 "
    "+ellps=evrstSS"
)
_TRIN_CLARKE = "+proj=longlat +a=6378293.645452597 +b=6356617.987679838"
_TRIN_GRID = (
    "+proj=cass +lat_0=10.441666666666666 +lon_0=-61.33333333333334 "
    "+x_0=86501.46392052 +y_0=65379.0134283 "
    "+a=6378293.645452597 +b=6356617.987679838 +to_meter=0.201166195164"
)
# GN7-2 test-point geodetic coordinates (Timbalai 1948 datum)
_RSO_LON = 115 + 48 / 60 + 19.8196 / 3600
_RSO_LAT = 5 + 23 / 60 + 14.1129 / 3600


def q_spatial_transform_rd(spark, sf_dir):
    """Oblique stereographic (EPSG 9809, +proj=sterea — Dutch RD New
    EPSG:28992) and Lambert azimuthal equal-area (EPSG 9820, +proj=laea
    — ETRS89-LAEA EPSG:3035) projection families (proj4.py; reference
    vendors proj 9.x, test/sql/proj.test). The per-row coordinates are
    the first vertices of the reference's own test/data/
    amsterdam_roads.fgb (stored in EPSG:3857), reprojected through the
    full datum chain 3857 -> RD New -> 3857 (identity to 0.1 m; the 2D
    pipeline drops heights, which bounds the roundtrip at ~1 mm exactly
    like proj). Absolute pins are SPEC CONSTANTS, not engine-derived:
    the EPSG Guidance Note 7-2 worked examples for FOUR projection
    methods (9809 Amersfoort 53N 6E -> 196105.283, 557057.739; 9820
    ETRS89 50N 5E -> 3962799.45, 2999718.85; 9815 omerc Timbalai ->
    RSO Borneo 679245.73, 596562.78; 9806 cass Trinidad 10N 62W ->
    66644.94, 82536.22 Clarke's links) and the projection-origin
    identity (lat_0, lon_0) -> (x_0, y_0)."""
    _prep(spark, sf_dir)
    df = spark.createDataFrame(_AMS_ROADS_3857, "pid int, mx double, my double")
    df.createOrReplaceTempView("_ams_roads")
    return spark.sql(
        f"""
        SELECT pid,
          round(ST_X(rt), 1) AS rt_x, round(ST_Y(rt), 1) AS rt_y,
          round(ST_X(gn), 3) AS gn_e, round(ST_Y(gn), 3) AS gn_n,
          round(ST_X(org), 4) AS org_e, round(ST_Y(org), 4) AS org_n,
          round(ST_X(lv), 2) AS laea_e, round(ST_Y(lv), 2) AS laea_n,
          round(ST_X(lrt), 6) AS laea_rt_lon, round(ST_Y(lrt), 6) AS laea_rt_lat,
          round(ST_X(rso), 2) AS rso_e, round(ST_Y(rso), 2) AS rso_n,
          round(ST_X(trin), 2) AS trin_e, round(ST_Y(trin), 2) AS trin_n
        FROM (
          SELECT pid,
            ST_Transform(ST_Transform(ST_Point(mx, my), 'EPSG:3857', 'EPSG:28992', true),
                         'EPSG:28992', 'EPSG:3857', true) AS rt,
            ST_Transform(ST_Point(6.0D, 53.0D), '{_RD_BESSEL}', '{_RD_STEREA}', true) AS gn,
            ST_Transform(ST_Point(5.38763888888889D, 52.15616055555555D),
                         '{_RD_BESSEL}', '{_RD_STEREA}', true) AS org,
            ST_Transform(ST_Point(5.0D, 50.0D), 'EPSG:4258', 'EPSG:3035', true) AS lv,
            ST_Transform(ST_Transform(ST_Point(5.0D, 50.0D), 'EPSG:4258', 'EPSG:3035', true),
                         'EPSG:3035', 'EPSG:4258', true) AS lrt,
            ST_Transform(ST_Point({_RSO_LON!r}D, {_RSO_LAT!r}D),
                         '{_RSO_EVEREST}', '{_RSO_BORNEO}', true) AS rso,
            ST_Transform(ST_Point(-62.0D, 10.0D),
                         '{_TRIN_CLARKE}', '{_TRIN_GRID}', true) AS trin
          FROM _ams_roads
        )
        """
    )


def q_spatial_transform_stateplane(spark, sf_dir):
    """EPSG registry breadth (functions/crs.py r11: US State Plane
    sample, NAD27/GDA/SIRGAS/Pulkovo/DHDN UTM + Gauss-Krüger series,
    Australian Albers — reference resolves these from its vendored PROJ
    database, proj/functions.cpp:416-422). Absolute pins are published
    worked examples, not engine output: the EPSG GN7-2 Lambert conic
    conformal 2SP example (NAD27 / Texas South Central EPSG:32040,
    28°30'N 96°W -> E 2963503.91 ftUS, N 254759.80 ftUS) and the GDA94
    technical-manual example (Flinders Peak -> MGA zone 55
    E 273741.297, N 5796489.777). Roundtrip identities sweep one code
    per new series (NY Long Island ftUS, Pulkovo GK z7, SIRGAS UTM 23S,
    NAD27 UTM 16N incl. its Helmert legs, Australian Albers — the
    southern-cone aea inverse fixed this round)."""
    _prep(spark, sf_dir)
    return spark.sql(
        """
        SELECT 1 AS pid,
          round(ST_X(tx), 2) AS tx_e, round(ST_Y(tx), 2) AS tx_n,
          round(ST_X(txrt), 6) AS tx_rt_lon, round(ST_Y(txrt), 6) AS tx_rt_lat,
          round(ST_X(fp), 3) AS fp_e, round(ST_Y(fp), 3) AS fp_n,
          round(ST_X(ny), 6) AS ny_rt_lon, round(ST_Y(ny), 6) AS ny_rt_lat,
          round(ST_X(gk), 6) AS gk_rt_lon, round(ST_Y(gk), 6) AS gk_rt_lat,
          round(ST_X(sir), 6) AS sir_rt_lon, round(ST_Y(sir), 6) AS sir_rt_lat,
          round(ST_X(n27), 6) AS n27_rt_lon, round(ST_Y(n27), 6) AS n27_rt_lat,
          round(ST_X(aus), 6) AS aus_rt_lon, round(ST_Y(aus), 6) AS aus_rt_lat
        FROM (
          SELECT
            ST_Transform(ST_Point(-96.0D, 28.5D),
                         'EPSG:4267', 'EPSG:32040', true) AS tx,
            ST_Transform(ST_Transform(ST_Point(-96.0D, 28.5D),
                         'EPSG:4267', 'EPSG:32040', true),
                         'EPSG:32040', 'EPSG:4267', true) AS txrt,
            ST_Transform(ST_Point(144.42486788888888D, -37.95103341666667D),
                         'EPSG:4283', 'EPSG:28355', true) AS fp,
            ST_Transform(ST_Transform(ST_Point(-74.006D, 40.7128D),
                         'EPSG:4269', 'EPSG:2263', true),
                         'EPSG:2263', 'EPSG:4269', true) AS ny,
            ST_Transform(ST_Transform(ST_Point(37.6176D, 55.7558D),
                         'EPSG:4326', 'EPSG:28407', true),
                         'EPSG:28407', 'EPSG:4326', true) AS gk,
            ST_Transform(ST_Transform(ST_Point(-46.6333D, -23.5505D),
                         'EPSG:4674', 'EPSG:31983', true),
                         'EPSG:31983', 'EPSG:4674', true) AS sir,
            ST_Transform(ST_Transform(ST_Point(-87.6298D, 41.8781D),
                         'EPSG:4326', 'EPSG:26716', true),
                         'EPSG:26716', 'EPSG:4326', true) AS n27,
            ST_Transform(ST_Transform(ST_Point(133.8807D, -23.698D),
                         'EPSG:4326', 'EPSG:3577', true),
                         'EPSG:3577', 'EPSG:4326', true) AS aus
        )
        """
    )


def q_spatial_native_casts(spark, sf_dir):
    """WKB -> native columnar-type casts (reference cast kernels
    ST_Point2DFromWKB / ST_LineString2DFromWKB / ST_Polygon2DFromWKB,
    spatial/core/functions/cast/*): materialize POINT_2D /
    LINESTRING_2D / POLYGON_2D struct columns from WKB, then evaluate
    the all-JVM native kernels (shoelace area, segment length, 4-compare
    point-in-box) on them. Oracle = closed-form arithmetic over the rect
    parameters (areas are integer-valued, so shoelace float noise cannot
    cross a rounding boundary)."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.functions import native

    df = spark.sql(
        f"SELECT rid, mx, my, w, h FROM ({_RECTS}) WHERE rid <= 600"
    ).selectExpr(
        "rid", "mx", "my",
        "ST_Polygon2DFromWKB(ST_MakeEnvelope(mx, my, mx + w, my + h)) AS poly",
        "ST_LineString2DFromWKB(ST_MakeLine2(ST_Point(mx, my), ST_Point(mx + w, my + h))) AS line",
        "ST_Point2DFromWKB(ST_Point(mx, my)) AS pt",
    )
    return df.select(
        "rid",
        F.round(native.polygon_2d_area("poly"), 6).alias("area"),
        F.round(native.linestring_2d_length("line"), 6).alias("seg_len"),
        native.point_in_box(
            F.col("pt.x"), F.col("pt.y"), 2000.0, 2000.0, 7000.0, 7000.0
        ).alias("in_box"),
        F.round(F.col("pt.x"), 6).alias("px"),
        F.size("poly").cast("int").alias("nrings"),
        F.size(F.element_at(F.col("poly"), 1)).cast("int").alias("npts"),
        native.linestring_2d_npoints("line").cast("int").alias("nlpts"),
    )


def q_spatial_transform_tranche3(spark, sf_dir):
    """EPSG registry tranche 3 (functions/crs.py r12: full SPCS83 metric
    set, JGD2000/JGD2011 plane rectangular CS + UTM, CGCS2000
    Gauss-Krüger, Pulkovo 1995, SWEREF99, Poland CS92/2000, Baltic TMs,
    ITM, Portugal TM06, RGF93 CC — reference resolves all of these from
    its vendored PROJ database, proj/functions.cpp:416-422). Pins are
    engine-independent identities: (a) forward+inverse roundtrips return
    the input coordinates (literal), (b) the new METRIC State Plane
    zones agree with the independently-validated ftUS twins through the
    exact US survey-foot ratio to sub-mm (literal 0 after rounding),
    (c) SWEREF99 TM coordinates equal ETRS89/UTM33 exactly (identical
    projection, literal 0). tests/test_crs_registry_tranche3.py adds
    per-zone origin/scale invariants and landmark boxes over the whole
    tranche."""
    _prep(spark, sf_dir)
    return spark.sql(
        """
        SELECT 1 AS pid,
          round(abs(ST_X(nyft) * 0.3048006096012192 - ST_X(nym)), 3) AS ny_dx,
          round(abs(ST_Y(nyft) * 0.3048006096012192 - ST_Y(nym)), 3) AS ny_dy,
          round(abs(ST_X(swe) - ST_X(utm33)), 6) AS swe_dx,
          round(abs(ST_Y(swe) - ST_Y(utm33)), 6) AS swe_dy,
          round(ST_X(jp), 6) AS jp_rt_lon, round(ST_Y(jp), 6) AS jp_rt_lat,
          round(ST_X(cn), 6) AS cn_rt_lon, round(ST_Y(cn), 6) AS cn_rt_lat,
          round(ST_X(p95), 6) AS p95_rt_lon, round(ST_Y(p95), 6) AS p95_rt_lat,
          round(ST_X(ak1), 6) AS ak1_rt_lon, round(ST_Y(ak1), 6) AS ak1_rt_lat,
          round(ST_X(itm), 6) AS itm_rt_lon, round(ST_Y(itm), 6) AS itm_rt_lat,
          round(ST_X(pl), 6) AS pl_rt_lon, round(ST_Y(pl), 6) AS pl_rt_lat
        FROM (
          SELECT
            ST_Transform(ST_Point(-74.006D, 40.7128D),
                         'EPSG:4269', 'EPSG:2263', true) AS nyft,
            ST_Transform(ST_Point(-74.006D, 40.7128D),
                         'EPSG:4269', 'EPSG:32118', true) AS nym,
            ST_Transform(ST_Point(18.0686D, 59.3293D),
                         'EPSG:4258', 'EPSG:3006', true) AS swe,
            ST_Transform(ST_Point(18.0686D, 59.3293D),
                         'EPSG:4258', 'EPSG:25833', true) AS utm33,
            ST_Transform(ST_Transform(ST_Point(139.7671D, 35.6812D),
                         'EPSG:6668', 'EPSG:6677', true),
                         'EPSG:6677', 'EPSG:6668', true) AS jp,
            ST_Transform(ST_Transform(ST_Point(116.407D, 39.904D),
                         'EPSG:4490', 'EPSG:4498', true),
                         'EPSG:4498', 'EPSG:4490', true) AS cn,
            ST_Transform(ST_Transform(ST_Point(37.6176D, 55.7558D),
                         'EPSG:4326', 'EPSG:20007', true),
                         'EPSG:20007', 'EPSG:4326', true) AS p95,
            ST_Transform(ST_Transform(ST_Point(-134.42D, 58.3D),
                         'EPSG:4269', 'EPSG:26931', true),
                         'EPSG:26931', 'EPSG:4269', true) AS ak1,
            ST_Transform(ST_Transform(ST_Point(-6.2603D, 53.3498D),
                         'EPSG:4258', 'EPSG:2157', true),
                         'EPSG:2157', 'EPSG:4258', true) AS itm,
            ST_Transform(ST_Transform(ST_Point(21.0122D, 52.2297D),
                         'EPSG:4258', 'EPSG:2180', true),
                         'EPSG:2180', 'EPSG:4258', true) AS pl
        )
        """
    )


def q_wfs_read(spark, sf_dir):
    """WFS remote-service lane (sources/wfs.py — the reference reaches
    live feature services through GDAL's WFS driver, st_read.cpp) made
    value-oracle-able: the transport is the lane's injectable fetch=,
    served by a deterministic in-query WFS 2.0 server built from the
    rects fixture (3 GetFeature pages of 40 + the remainder, honoring
    count/startIndex/bbox exactly like a real endpoint). The row pins
    full pagination (every feature arrives exactly once), the parsed
    attribute values, the WKB geometry round-trip through ST_X/ST_Y,
    and server-side bbox pushdown — all replicated by plain interval
    SQL over the same rects."""
    _prep(spark, sf_dir)
    import json as _json

    from duckdb_spatial_spark.sources.wfs import read_wfs

    rects = [
        (int(r["rid"]), float(r["mx"]), float(r["my"]))
        for r in spark.sql(_RECTS).filter("rid <= 120").collect()
    ]
    rects.sort()

    def _serve(subset):
        def fetch(url):
            import urllib.parse as _up

            q = dict(
                kv.split("=", 1) for kv in _up.urlparse(url).query.split("&")
            )
            start = int(q.get("startIndex", 0))
            count = int(q.get("count", 10_000))
            page = subset[start : start + count]
            return _json.dumps({
                "type": "FeatureCollection",
                "numberMatched": len(subset),
                "features": [
                    {"type": "Feature",
                     "geometry": {"type": "Point", "coordinates": [mx, my]},
                     "properties": {"rid": rid}}
                    for rid, mx, my in page
                ],
            }).encode()

        return fetch

    full = read_wfs(spark, "https://example.test/wfs", "ns:rects",
                    page_size=40, fetch=_serve(rects))
    win = [r for r in rects if 1000 <= r[1] <= 5000 and 1000 <= r[2] <= 5000]
    # a real server applies the BBOX param; the canned one serves the
    # pre-filtered subset the same way — the lane still sends bbox=
    boxed = read_wfs(spark, "https://example.test/wfs", "ns:rects",
                     page_size=40, bbox=(1000, 1000, 5000, 5000),
                     fetch=_serve(win))
    gcol = "geom" if "geom" in full.columns else "geometry"

    def _summ(df, tag):
        return df.selectExpr(
            f"'{tag}' AS part",
            "CAST(count(*) AS BIGINT) AS n",
            "CAST(sum(rid) AS BIGINT) AS rid_sum",
            f"round(sum(ST_X({gcol})), 4) AS sx",
            f"round(sum(ST_Y({gcol})), 4) AS sy",
        )

    return _summ(full, "full").unionByName(_summ(boxed, "bbox"))


def q_layout_pruned_polys(spark, sf_dir):
    """Polygon windowed query through the layout (the reference's headline
    rtree_index.benchmark shape: windowed ST_Within over POLYGONS): cluster
    the rect polygons into a bbox-sidecar layout, then answer the same
    windows as the point row via filter_bbox's cached-bbox rule — the
    prefilter keeps bboxes overlapping the window (and, for within, inside
    the closed window), a bbox strictly inside the open window decides
    within TRUE, one inside the closed window decides intersects TRUE, and
    ONLY boundary-band rows (bbox touching the window edge) decode WKB, in
    the JVM through the SQL-text WKB kernel (plans/sqlwkb.py; no Python
    task) (reference geometry_type.hpp:100-146 cached-bbox prefilter,
    completed into a decision). Every box binds through
    scan_geo_parquet (manifest FILE pruning from _geo_layout.json per-file
    bounds + schema-from-manifest bind — the R-tree root-descent analog).
    Oracle = closed/strict interval arithmetic over the same rects."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.plans.pruning import (
        filter_bbox,
        scan_geo_parquet,
        write_geo_parquet,
    )

    path = _fresh_tmp("layout_pruned_polys")
    g = spark.sql(_RECTS).selectExpr(
        "rid", "ST_MakeEnvelope(mx, my, mx + w, my + h) AS geom"
    )
    write_geo_parquet(g, path, num_partitions=8)
    outs = []
    for bid, x0, y0, x1, y1, sem in _LAYOUT_BOXES:
        base = scan_geo_parquet(spark, path, bbox=(x0, y0, x1, y1))
        w = filter_bbox(base, x0, y0, x1, y1, exact=sem)
        outs.append(
            w.groupBy().agg(
                F.count("*").alias("_n"),
                F.coalesce(F.sum("rid"), F.lit(0)).alias("_s"),
            ).select(
                F.lit(bid).cast("int").alias("box_id"),
                F.col("_n").cast("long").alias("n"),
                F.col("_s").cast("long").alias("rid_sum"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def q_geo_parquet_stats(spark, sf_dir):
    """Layout introspection (reference rtree_index_pragmas.cpp
    rtree_index_dump: per-node bounding boxes; here per-row-group parquet
    FOOTER stats of a clustered layout). The row pins that the footer
    stats agree with raw-data aggregates (total rows, global extent), that
    the writer produced the requested number of files, and that per-file
    hilbert ranges are pairwise DISJOINT (the clustering contract that
    makes pruning work). Oracle = the same aggregates over the raw
    points + literal file count / zero overlaps."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.plans.pruning import geo_parquet_stats, write_geo_parquet

    path = _fresh_tmp("layout_stats")
    write_geo_parquet(spark.sql(_PTS), path, point_xy=("x", "y"), num_partitions=4)
    st = geo_parquet_stats(spark, path)  # one row per row group
    per_file = st.groupBy("file").agg(
        F.min("hilbert_min").alias("lo"),
        F.max("hilbert_max").alias("hi"),
        F.sum("n_rows").alias("rows"),
    )
    a, b = per_file.alias("a"), per_file.alias("b")
    overlaps = a.join(
        b,
        (F.col("a.file") < F.col("b.file"))
        & (F.col("a.lo") <= F.col("b.hi"))
        & (F.col("b.lo") <= F.col("a.hi")),
    ).count()
    return st.groupBy().agg(
        F.countDistinct("file").alias("_f"),
        F.sum("n_rows").alias("_n"),
        F.min("min_x").alias("_x0"),
        F.min("min_y").alias("_y0"),
        F.max("max_x").alias("_x1"),
        F.max("max_y").alias("_y1"),
    ).select(
        F.col("_f").cast("int").alias("n_files"),
        F.col("_n").cast("long").alias("total_rows"),
        F.round("_x0", 6).alias("xmin"),
        F.round("_y0", 6).alias("ymin"),
        F.round("_x1", 6).alias("xmax"),
        F.round("_y1", 6).alias("ymax"),
        F.lit(overlaps).cast("long").alias("overlapping_pairs"),
    )


def q_layout_snapshot(spark, sf_dir):
    """Snapshot-manifest lifecycle (reference rtree.cpp WAL-maintained
    index -> lakehouse analog): write v1, append a batch (v2), compact
    (v3), COW-delete (v4), MERGE/upsert (v5: update-else-insert, the
    rtree.cpp insert-path analog), then time-travel-read ALL versions —
    v1 must still return exactly the original subset (immutable data
    files), each later version its own committed state."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.plans.snapshot import (
        compact_geo_snapshot,
        delete_geo_snapshot,
        read_geo_snapshot,
        upsert_geo_snapshot,
        write_geo_snapshot,
        append_geo_snapshot,
    )

    path = _fresh_tmp("layout_snapshot")
    pts = spark.sql(_PTS)
    write_geo_snapshot(pts.filter("id % 3 != 0"), path, point_xy=("x", "y"), num_partitions=4)
    append_geo_snapshot(pts.filter("id % 3 = 0"), path, num_partitions=2, point_xy=("x", "y"))
    v3 = compact_geo_snapshot(spark, path, num_partitions=4) or 2
    v4 = delete_geo_snapshot(spark, path, "id % 5 = 0") or v3
    merge_src = spark.sql(
        f"SELECT id, CAST(0.5 AS DOUBLE) AS x, CAST(9999.5 AS DOUBLE) AS y"
        f" FROM ({_PTS}) WHERE id % 5 <> 0 AND id % 101 = 0"
        f" UNION ALL"
        f" SELECT id + 20000000 AS id, CAST(123.25 AS DOUBLE) AS x,"
        f" CAST(456.75 AS DOUBLE) AS y FROM ({_PTS}) WHERE id % 997 = 0"
    )
    v5 = upsert_geo_snapshot(
        spark, path, merge_src, "id", num_partitions=2, point_xy=("x", "y")
    )
    outs = []
    for label, ver in ((1, 1), (2, 2), (3, v3), (4, v4), (5, v5)):
        d = read_geo_snapshot(spark, path, version=ver)
        outs.append(
            d.groupBy().agg(
                F.count("*").alias("_n"),
                F.sum("id").alias("_s"),
                F.min("bbox_min_x").alias("_x0"),
                F.max("bbox_max_y").alias("_y1"),
            ).select(
                F.lit(label).cast("int").alias("version"),
                F.col("_n").cast("long").alias("n"),
                F.col("_s").cast("long").alias("id_sum"),
                F.round("_x0", 6).alias("xmin"),
                F.round("_y1", 6).alias("ymax"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# --------------------------------------------------------------------------
# contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the spatial join (points-in-rects) at sf0.001, all points
    (no sampling — sf0.001 is small enough that every point participates)."""
    sf_dir = "/root/testdata/sf0.001"
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.operators import st_join

    pts = spark.sql(_PTS).withColumn("geom", F.expr("ST_Point(x, y)")).select("id", "geom")
    rects = spark.sql(_RECTS).withColumn(
        "geom", F.expr("ST_MakeEnvelope(mx, my, mx + w, my + h)")
    ).select("rid", "geom")
    j = st_join(pts, rects, predicate="within")
    return j.groupBy("rid").agg(F.count("*").alias("n"))


def q_netcdf_roundtrip(spark, sf_dir):
    """netCDF classic (CDF-1) sink -> reader round trip
    (sources/netcdf3.py; GDAL netCDF driver analog, reference
    st_read.cpp:684-692 format tail): pure-binary Unidata classic layout,
    CF lat/lon coordinate variables from POINT geometries, char-matrix
    strings, int/double columns."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import st_read, st_write

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,"
        f" x / 4 AS score, x, y FROM ({_PTS}) WHERE id < 300"
    ).withColumn("geom", F.expr("ST_Point(x, y)")).drop("x", "y")
    path = os.path.join(_fresh_tmp("netcdf_q"), "pts.nc")
    st_write(df, path)
    back = st_read(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "name", "CAST(score AS DOUBLE) AS score",
        "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y",
    )


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics (operators/join.zonal_stats): point 'cells' with a
    value column aggregated per containing zone polygon — through st_join's
    grid plan with a fixed cell size, so the driver pins the
    solid-rectangle short-circuit path end-to-end: the rects are boxes,
    detected in the zones' bbox pass, so the cached-bbox rule filter_bbox
    applies to its window decides the pairs with a point strictly inside a
    zone, and the recheck UDF sees only boundary pairs, with NULL-masked
    inputs.
    avg intentionally derived from the integer sum / count on both sides."""
    _prep(spark, sf_dir)
    from duckdb_spatial_spark.operators.join import zonal_stats

    pts = spark.sql(
        f"SELECT id, x, y, CAST(id % 13 AS BIGINT) AS v FROM ({_PTS})"
    ).withColumn("geom", F.expr("ST_Point(x, y)")).select("id", "v", "geom")
    zones = spark.sql(_RECTS).withColumn(
        "geom", F.expr("ST_MakeEnvelope(mx, my, mx + w, my + h)")
    ).select(F.col("rid").alias("zone_id"), "geom")
    z = zonal_stats(
        pts, zones, "v", zone_cols=("zone_id",),
        predicate="within", cell_size=250.0,
    )
    return z.selectExpr(
        "zone_id", "n_cells", "sum_v",
        "round(avg_v, 6) AS avg_v", "min_v", "max_v",
    )


def q_geoparquet_file(spark, sf_dir):
    """Spec-1.0 GeoParquet single file (sources/geoparquet.py): st_write
    file=True emits the 'geo' footer key (the reference's parquet-lane
    detection mechanism); st_read honors primary_column by aliasing the
    non-standard geometry name back to 'geom'. The row also proves the
    values survive the pyarrow write path bit-exact."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import st_read, st_write

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,"
        f" x / 4 AS score, x, y FROM ({_PTS}) WHERE id < 300"
    ).withColumn("the_geom", F.expr("ST_Point(x, y)")).drop("x", "y")
    path = os.path.join(_fresh_tmp("gpqfile_q"), "pts.parquet")
    st_write(df, path, format="geoparquet", file=True, geom_col="the_geom")
    back = st_read(spark, path)  # primary column aliased to 'geom'
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "name", "CAST(score AS DOUBLE) AS score",
        "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y",
    )


def q_mvt_roundtrip(spark, sf_dir):
    """Mapbox Vector Tile sink -> reader round trip (sources/mvt.py; GDAL
    MVT driver analog): hand-rolled protobuf wire format per the public
    MVT 2.1 spec — command/zigzag geometry encoding, deduplicated
    key/value tables, typed Value oneof. Integer world coordinates inside
    the default (0,0,extent,extent) tile georeference quantize to
    themselves, so the oracle is exact."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import st_read, st_write

    df = spark.sql(
        f"SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,"
        f" x / 4 AS score, x % 4000 AS xi, y % 4000 AS yi"
        f" FROM ({_PTS}) WHERE id < 300"
    ).withColumn("geom", F.expr("ST_Point(xi, yi)")).drop("xi", "yi")
    path = os.path.join(_fresh_tmp("mvt_q"), "tile.mvt")
    st_write(df, path)
    back = st_read(spark, path)
    return back.selectExpr(
        "CAST(id AS BIGINT) AS id", "name", "CAST(score AS DOUBLE) AS score",
        "round(ST_X(geom), 6) AS x", "round(ST_Y(geom), 6) AS y",
    )


def q_spatial_transform_tranche5(spark, sf_dir):
    """EPSG registry tranche 5 (r14): the Krovak (EPSG 9819, S-JTSK /
    5514) and New Zealand Map Grid (EPSG 9811, NZGD49 / 27200) projection
    kernels — the last projection families the reference resolves via its
    embedded PROJ that this engine lacked (proj/functions.cpp:487-508).
    Every row is a MATHEMATICAL identity so the oracle is independent:
    row 1 projects NZMG's natural origin from NZGD49 geographic (must
    land exactly on the false origin); rows 2-3 are WGS84 round trips
    through each grid (must return the input at 1e-6 deg); row 4 pins the
    Krovak East North negative-axis and NZMG positive-axis conventions
    via sign()."""
    _prep(spark, sf_dir)
    origin = spark.sql(
        "SELECT CAST(1 AS BIGINT) AS id, 173.0 AS lon, -41.0 AS lat"
    ).selectExpr(
        "id",
        "round(ST_X(ST_Transform(ST_Point(lon, lat), 'EPSG:4272', 'EPSG:27200', true)), 3) AS e",
        "round(ST_Y(ST_Transform(ST_Point(lon, lat), 'EPSG:4272', 'EPSG:27200', true)), 3) AS n",
    )
    rts = spark.createDataFrame(
        [(2, 174.7762, -41.2865, "EPSG:27200"),
         (3, 14.4208, 50.0880, "EPSG:5514")],
        "id long, lon double, lat double, grid string",
    ).selectExpr(
        "id",
        "round(ST_X(ST_Transform(ST_Transform(ST_Point(lon, lat),"
        " 'OGC:CRS84', grid, true), grid, 'OGC:CRS84', true)) - lon, 6) AS e",
        "round(ST_Y(ST_Transform(ST_Transform(ST_Point(lon, lat),"
        " 'OGC:CRS84', grid, true), grid, 'OGC:CRS84', true)) - lat, 6) AS n",
    )
    signs = spark.sql(
        "SELECT CAST(4 AS BIGINT) AS id"
    ).selectExpr(
        "id",
        "CAST(sign(ST_X(ST_Transform(ST_Point(14.4208, 50.0880),"
        " 'OGC:CRS84', 'EPSG:5514', true))) AS DOUBLE) AS e",
        "CAST(sign(ST_X(ST_Transform(ST_Point(174.7762, -41.2865),"
        " 'OGC:CRS84', 'EPSG:27200', true))) AS DOUBLE) AS n",
    )
    return origin.unionByName(rts).unionByName(signs)


def q_vrt_union_sql(spark, sf_dir):
    """OGR VRT depth (r14): OGRVRTUnionLayer (unionByName of member
    layers) and SrcSQL (the statement runs through the Spark SQL engine
    over a temp view of the source) — GDAL's VRT driver supports both
    (gdal.org/drivers/vector/vrt). Member a derives points from x/y
    columns; member b runs SrcSQL that filters id < 100 and shifts the
    id by 10000, proving per-member SQL + geometry derivation compose
    under the union."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import st_read

    tmp = _fresh_tmp("vrt_union_q")
    csvdir = os.path.join(tmp, "pts_csv")
    (
        spark.sql(_PTS).filter("id < 300")
        .selectExpr("id", "x AS px", "y AS py")
        .coalesce(1).write.option("header", True).csv(csvdir)
    )
    vrt = os.path.join(tmp, "u.vrt")
    with open(vrt, "w", encoding="utf-8") as f:
        f.write(
            "<OGRVRTDataSource><OGRVRTUnionLayer name='u'>"
            "<OGRVRTLayer name='a'>"
            f"<SrcDataSource relativeToVRT='0'>{csvdir}</SrcDataSource>"
            "<GeometryField encoding='PointFromColumns' x='px' y='py'/>"
            "<Field name='feature_id' src='id'/>"
            "</OGRVRTLayer>"
            "<OGRVRTLayer name='b'>"
            f"<SrcDataSource relativeToVRT='0'>{csvdir}</SrcDataSource>"
            "<SrcSQL>SELECT id + 10000 AS feature_id, px, py"
            " FROM pts WHERE id &lt; 100</SrcSQL>"
            "<GeometryField encoding='PointFromColumns' x='px' y='py'/>"
            "</OGRVRTLayer>"
            "</OGRVRTUnionLayer></OGRVRTDataSource>"
        )
    df = st_read(spark, vrt)
    return df.selectExpr(
        "CAST(feature_id AS BIGINT) AS feature_id",
        "round(ST_X(geom), 6) AS x",
        "round(ST_Y(geom), 6) AS y",
    )


def q_s57_depth(spark, sf_dir):
    """S-57 depth (r14, sources/s57.py): SG3D sounding arrays (POINT Z /
    MULTIPOINT Z via the DSPM SOMF divisor), NATF national attributes,
    multi-exterior-ring areas assembling as MULTIPOLYGON, and .001
    update-cell application (RUIN delete + ATTF-merge modify, plus —
    r15 — a VRPC vector-pointer splice and the RUIN=3-of-missing-record
    skip) — GDAL's S57 driver covers the same surface (S-57 Part 3
    ch. 8, ApplyRecordUpdate). Coordinates
    quantize at 1/COMF = 1e-7 deg so 5-decimal rounding is exact; depths
    at 1/SOMF = 0.1.

    r16: the fixture is an EXCHANGE SET — cells live under ENC_ROOT with
    a CATALOG.031 whose CATD records enumerate them (S-57 Part 3 §5.2,
    GDAL's enumeration path), including a backslash-separated
    subdirectory entry, a TXT ancillary entry and a missing-file entry
    (both skipped); the read points at the exchange-set ROOT."""
    _prep(spark, sf_dir)
    import os
    import struct as _struct

    from duckdb_spatial_spark.sources import read_s57, write_s57
    from duckdb_spatial_spark.sources.s57 import (
        write_s57_catalog, write_s57_update,
    )

    df = spark.createDataFrame(
        [(1, 129, "Alpha", None),
         (2, 1, "Beta", None),
         (3, 2, "Gamma", None),
         (4, 3, None, "Nat")],
        "id long, objl int, nm string, nn string",
    ).selectExpr(
        "objl", "nm", "nn",
        "CASE WHEN id = 1 THEN ST_AsWKB(ST_GeomFromText("
        "'MULTIPOINT Z ((1.5 2.5 10.3), (3.25 4 7.1))'))"
        " WHEN id = 2 THEN ST_AsWKB(ST_Point(5.0, 6.0))"
        " WHEN id = 3 THEN ST_AsWKB(ST_GeomFromText('MULTIPOLYGON ("
        "((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2)),"
        " ((20 0, 25 0, 25 5, 20 5, 20 0)))'))"
        " ELSE ST_AsWKB(ST_Point(7.0, 8.0)) END AS geom",
    )
    tmp = _fresh_tmp("s57_depth_q")
    enc = os.path.join(tmp, "ENC_ROOT")
    os.makedirs(os.path.join(enc, "GB5"), exist_ok=True)
    path = os.path.join(enc, "cell.000")
    write_s57(df, path, objl_col="objl", attrs={"nm": 116}, natf={"nn": 300},
              dsnm="R14CELL")
    # second cell in a subdirectory, referenced from the catalogue with
    # a backslash separator (the spec allows either; GDAL normalizes)
    df2 = spark.createDataFrame([(5, "Echo")], "objl int, nm string").selectExpr(
        "objl", "nm", "ST_AsWKB(ST_Point(30.0, 40.0)) AS geom")
    write_s57(df2, os.path.join(enc, "GB5", "cell2.000"), objl_col="objl",
              attrs={"nm": 116}, dsnm="R16CELL2")
    write_s57_catalog(os.path.join(enc, "CATALOG.031"), [
        ("CATALOG.031", "ASC"),          # the catalogue's own row: skipped
        "cell.000",
        "cell.001",                      # updates ride the sibling machinery
        "cell.002",
        "GB5\\cell2.000",
        "GB5\\README.TXT",               # non-cell ancillary: skipped
        "missing.000",                   # absent file: skipped like GDAL
    ])
    # update 1: delete the Beta feature (FRID rcid 4), re-attribute Alpha
    write_s57_update(os.path.join(enc, "cell.001"), [
        {"kind": "F", "rcnm": 100, "rcid": 4, "ruin": 2},
        {"kind": "F", "rcnm": 100, "rcid": 2, "ruin": 3, "prim": 1,
         "fields": [("ATTF", _struct.pack("<H", 116) + b"Delta" + b"\x1f")]},
    ])
    # update 2 (r15): VRPC partial edit — insert a VC begin node (at the
    # ring's own start, so the polygon stays closed and area-invariant;
    # the spliced pointer adds exactly one vertex, np 15 -> 16) + a
    # RUIN=3 modify of a record ABSENT from the base, which must be
    # skipped (GDAL warns and skips; an insert would fabricate a feature)
    from duckdb_spatial_spark.sources.s57 import (
        RCNM_VC, RCNM_VE, _sg2d, sgcc,
    )

    _name5 = bytes([RCNM_VC]) + _struct.pack("<I", 100)
    write_s57_update(os.path.join(enc, "cell.002"), [
        {"kind": "V", "rcnm": RCNM_VC, "rcid": 100, "ruin": 1,
         "fields": [("SG2D", _sg2d([(0.0, 0.0)], 10_000_000.0))]},
        {"kind": "V", "rcnm": RCNM_VE, "rcid": 5, "ruin": 3,
         "fields": [("VRPC", sgcc(1, 1, 1)),
                    ("VRPT", _name5 + bytes([1, 1, 1, 2]))]},
        {"kind": "F", "rcnm": 100, "rcid": 99, "ruin": 3, "prim": 1,
         "fields": [("ATTF", _struct.pack("<H", 116) + b"Ghost" + b"\x1f")]},
    ])
    # read the EXCHANGE-SET ROOT: find_catalog locates ENC_ROOT/CATALOG.031
    # and the CATD records enumerate both cells
    back = read_s57(spark, tmp)
    return back.selectExpr(
        "rcid", "objl",
        "attrs[116] AS nm", "natf[300] AS nn",
        "ST_GeometryType(geom) AS t",
        "ST_NPoints(geom) AS np",
        "round(ST_Area(geom), 6) AS a",
        "CASE WHEN ST_HasZ(geom) THEN round(ST_ZMax(geom), 1)"
        " ELSE -1.0 END AS zmx",
    )


def q_dgn_depth(spark, sf_dir):
    """DGN depth (r14+r15, sources/dgn.py): complex chains (type 12
    headers assembling member linestrings), complex shapes (type 14 ->
    POLYGON), TEXT elements (type 17 -> POINT + text column), the
    TCB-carried uor_scale default, and — new in r15 — 3D design files
    (TCB dimension flag, (x y z) linework triplets -> Z geometries),
    CURVE elements (type 11, slope-control endpoints, C1 cubic stroke)
    and B-SPLINE CURVE headers (type 27, De Boor stroke over POLE
    components, open-clamped + closed-periodic) — dgnlib/GDAL's DGN
    driver reads the same element types. Four design files in one
    directory also exercise the distributed per-file read. Expected
    vertex counts are exact: curve = 2 spans x 8 + 1 = 17; open spline
    (4 poles, order 3) = 2 spans x 10 + 1 = 21; closed = 4 x 10 + 1 =
    41; the closed square spline passes through the control-polygon
    edge midpoints, so mnx/mxx are exact 0/2. r16 adds the 3D
    quaternion element layouts (dgnlib's 2^31-scaled w/x/y/z ints):
    two 3D ARCs — identity rotation (plane stays at z=cz) and a
    90-degree rotation about X mapping the local ey axis into world Z —
    plus a 3D TEXT element (origin i32 @62/@66/@70); arc extremes sit
    on stroke endpoints so the oracle is exact."""
    _prep(spark, sf_dir)
    import os

    from duckdb_spatial_spark.sources import read_dgn, write_dgn
    from duckdb_spatial_spark.sources.dgn import (
        arc_element, bspline_elements, curve_element, write_dgn_elements,
    )

    tmp = _fresh_tmp("dgn_depth_q")
    chains = spark.createDataFrame(
        [(3, None, "MULTILINESTRING ((0 0, 1 0, 2 1), (2 1, 3 5))"),
         (5, "Main St", "POINT (2.5 3.25)")],
        "lvl int, label string, wkt string",
    ).selectExpr("lvl", "label", "ST_AsWKB(ST_GeomFromText(wkt)) AS geom")
    write_dgn(chains, os.path.join(tmp, "a.dgn"), level_col="lvl",
              text_col="label", uor_scale=100000)
    polys = spark.createDataFrame(
        [(7, "POLYGON ((0 0, 8 0, 8 6, 0 6, 0 0))")],
        "lvl int, wkt string",
    ).selectExpr("lvl", "ST_AsWKB(ST_GeomFromText(wkt)) AS geom")
    write_dgn(polys, os.path.join(tmp, "b.dgn"), level_col="lvl",
              complex_shapes=True, uor_scale=100000)
    z3d = spark.createDataFrame(
        [(2, None, "LINESTRING Z (0 0 1.5, 3 4 2.5)"),
         (4, None, "POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 4 1, 0 0 1))"),
         (14, "Deep", "POINT Z (2.5 3.25 -1.75)")],
        "lvl int, label string, wkt string",
    ).selectExpr("lvl", "label", "ST_AsWKB(ST_GeomFromText(wkt)) AS geom")
    write_dgn(z3d, os.path.join(tmp, "c.dgn"), level_col="lvl",
              text_col="label", dimension=3, uor_scale=100000)
    write_dgn_elements(os.path.join(tmp, "d.dgn"), [
        curve_element([(-1, -1), (0, 0), (1, 1), (2, 0), (3, 1)],
                      level=9, uor_scale=100000),
        bspline_elements([(0, 0), (1, 2), (2, -2), (3, 0)], order=3,
                         level=10, uor_scale=100000),
        bspline_elements([(0, 0), (2, 0), (2, 2), (0, 2)], order=3,
                         closed=True, level=11, uor_scale=100000),
    ], uor_scale=100000)
    # r16: 3D ARC quaternion layouts — identity quat keeps the local XY
    # plane at z=cz; a 90-degree rotation about X (w=x=sqrt(1/2)) maps
    # local (ex, ey, 0) to world (ex, 0, ey), so the quarter arc's ey
    # extreme lands in Z (exact at the stroke endpoints t=0/t=90)
    _s2 = 0.5 ** 0.5
    write_dgn_elements(os.path.join(tmp, "e.dgn"), [
        arc_element(0.0, 0.0, 5.0, 5.0, 0.0, 90.0, level=12,
                    uor_scale=100000, cz=7.5),
        arc_element(10.0, 20.0, 2.0, 2.0, 0.0, 90.0, level=13,
                    uor_scale=100000, cz=3.0, quat=(_s2, _s2, 0.0, 0.0)),
    ], uor_scale=100000, dimension=3)
    back = read_dgn(spark, tmp)  # directory read, TCB uor from each file
    return back.selectExpr(
        "level", "text",
        "ST_GeometryType(geom) AS t",
        "ST_NPoints(geom) AS npts",
        "round(ST_Area(geom), 6) AS a",
        "round(ST_XMin(geom), 6) AS mnx",
        "round(ST_XMax(geom), 6) AS mxx",
        "round(ST_ZMax(geom), 6) AS zmx",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry. ORDER MATTERS: the driver oracle-checks the FIRST 50
    entries only — every row sits inside that window, and
    scripts/check_oracle.py sweeps them all. Long-green
    never-changing rows were retired in r16 to retired_queries(): still
    swept by scripts/check_oracle.py every session and pinned by
    tests/test_retired_driver_rows.py (see docs/RETIRED_QUERIES.md)."""
    return {
        # --- changed in r17: write_geo_parquet layout path (pruning.py)
        # — the four layout rows below re-enter the window per the r16
        # verdict (its What's-wrong #1: the r16 v2+zstd writer change was
        # never driver-verified) ---
        "geoparquet_file": q_geoparquet_file,
        "geo_parquet_stats": q_geo_parquet_stats,
        "layout_pruned_polys": q_layout_pruned_polys,
        "layout_snapshot": q_layout_snapshot,
        # --- stalest row first (last driver-checked pre-r15; r16 ADVICE
        # item 3 scheduled it at the front of the r17 rotation) ---
        # --- last checked r15, two rounds stale — all inside the window ---
        "spatial_transform_tranche5": q_spatial_transform_tranche5,
        "vrt_union_sql": q_vrt_union_sql,
        "spatial_transform_tranche3": q_spatial_transform_tranche3,
        "wfs_read": q_wfs_read,
        "spatial_transform_tranche4": q_spatial_transform_tranche4,
        "crs_tagged_transform": q_crs_tagged_transform,
        "gml_roundtrip": q_gml_roundtrip,
        "vrt_read": q_vrt_read,
        "gmt_roundtrip": q_gmt_roundtrip,
        "s57_roundtrip": q_s57_roundtrip,
        "spatial_join_point_in_rect": q_spatial_join_point_in_rect,
        "spatial_join_rect_overlap": q_spatial_join_rect_overlap,
        # --- un-retired: st_join's broadcast lane is gone, so both
        # dwithin rows now run the grid plan ---
        "spatial_dwithin_grouped": q_spatial_dwithin_grouped,
        "spatial_dwithin_join_count": q_spatial_dwithin_join_count,
        "spatial_transform_nad27": q_spatial_transform_nad27,
        "spatial_transform_paris": q_spatial_transform_paris,
        "spatial_transform_stateplane": q_spatial_transform_stateplane,
        "spatial_transform_rd": q_spatial_transform_rd,
        "spatial_native_casts": q_spatial_native_casts,
        "spatial_zm_flags": q_spatial_zm_flags,
        "spatial_refsys": q_spatial_refsys,
        # --- checked green at r16, unchanged since ---
        "spatial_transform_vertical": q_spatial_transform_vertical,
        "sosi_roundtrip": q_sosi_roundtrip,
        "dgn_depth": q_dgn_depth,
        "dgn_roundtrip": q_dgn_roundtrip,
        "interlis_roundtrip": q_interlis_roundtrip,
        "sdts_roundtrip": q_sdts_roundtrip,
        "st_drivers_meta": q_st_drivers_meta,
        "s57_depth": q_s57_depth,
        "fgb_roundtrip": q_fgb_roundtrip,
        "geojsonseq_roundtrip": q_geojsonseq_roundtrip,
        "streaming_upsert": q_streaming_upsert,
        "zonal_stats": q_zonal_stats,
        "netcdf_roundtrip": q_netcdf_roundtrip,
        "mvt_roundtrip": q_mvt_roundtrip,
        "esrijson_roundtrip": q_esrijson_roundtrip,
    }


def retired_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Long-green driver rows retired from the queries() window (r16,
    judge directive 3): every row here passed its DuckDB value oracle
    across 6+ rounds without a single code change.
    They remain first-class checks — scripts/check_oracle.py sweeps them
    together with queries() by default, and
    tests/test_retired_driver_rows.py runs the same row/schema/value
    compare in the pytest suite — they just no longer consume driver
    window slots (rotation bookkeeping was becoming the riskiest part of
    the repo at 160 rows). oracle_sql() keeps every retired entry."""
    return {
        "arrow_roundtrip": q_arrow_roundtrip,
        "dxf_read": q_dxf_read,
        "gdb_roundtrip": q_gdb_roundtrip,
        "georss_roundtrip": q_georss_roundtrip,
        "gpkg_roundtrip": q_gpkg_roundtrip,
        "kml_roundtrip": q_kml_roundtrip,
        "layout_pruned_count": q_layout_pruned_count,
        "mif_roundtrip": q_mif_roundtrip,
        "osm_read": q_osm_read,
        "pgdump_roundtrip": q_pgdump_roundtrip,
        "shp_roundtrip": q_shp_roundtrip,
        "spatial_area_envelope": q_spatial_area_envelope,
        "spatial_area_spheroid": q_spatial_area_spheroid,
        "spatial_astext": q_spatial_astext,
        "spatial_buffer_area": q_spatial_buffer_area,
        "spatial_buffer_styles": q_spatial_buffer_styles,
        "spatial_centroid": q_spatial_centroid,
        "spatial_collect_dump": q_spatial_collect_dump,
        "spatial_construct_ops": q_spatial_construct_ops,
        "spatial_convexhull_area": q_spatial_convexhull_area,
        "spatial_distance": q_spatial_distance,
        "spatial_distance_sphere": q_spatial_distance_sphere,
        "spatial_distance_spheroid": q_spatial_distance_spheroid,
        "spatial_envelope_count": q_spatial_envelope_count,
        "spatial_envelope_count_native": q_spatial_envelope_count_native,
        "spatial_extent_agg": q_spatial_extent_agg,
        "spatial_format_ops": q_spatial_format_ops,
        "spatial_generatepoints": q_spatial_generatepoints,
        "spatial_hilbert": q_spatial_hilbert,
        "spatial_intersection_agg": q_spatial_intersection_agg,
        "spatial_intersection_lines": q_spatial_intersection_lines,
        "spatial_intersection_tri_rect": q_spatial_intersection_tri_rect,
        "spatial_line_endpoints": q_spatial_line_endpoints,
        "spatial_line_length": q_spatial_line_length,
        "spatial_makeline_astext": q_spatial_makeline_astext,
        "spatial_makeline_npoints": q_spatial_makeline_npoints,
        "spatial_makevalid_bowtie": q_spatial_makevalid_bowtie,
        "spatial_overlay_rects": q_spatial_overlay_rects,
        "spatial_perimeter": q_spatial_perimeter,
        "spatial_predicates": q_spatial_predicates,
        "spatial_predicates2": q_spatial_predicates2,
        "spatial_quadkey": q_spatial_quadkey,
        "spatial_transform_3857": q_spatial_transform_3857,
        "spatial_transform_longtail": q_spatial_transform_longtail,
        "spatial_transform_wkt": q_spatial_transform_wkt,
        "spatial_unary_ops": q_spatial_unary_ops,
        "spatial_union_agg_chain": q_spatial_union_agg_chain,
        "spatial_wkt_triangle_area": q_spatial_wkt_triangle_area,
        "spatialite_roundtrip": q_spatialite_roundtrip,
        "tab_roundtrip": q_tab_roundtrip,
        "xlsx_roundtrip": q_xlsx_roundtrip,
    }


_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_WGS84_B = _WGS84_A * (1 - _WGS84_F)
_WGS84_E2 = _WGS84_F * (2 - _WGS84_F)
_WGS84_E = _WGS84_E2 ** 0.5


def _vincenty_iter_sql(prev: str) -> str:
    """One unrolled Vincenty lambda-iteration as a DuckDB subquery."""
    f = _WGS84_F
    return f"""
      SELECT cid, su1, cu1, su2, cu2, LL,
             LL + (1 - C) * {f} * sa * (sig + C * ss * (c2m + C * cs * (-1 + 2 * c2m * c2m))) AS lam
      FROM (
        SELECT *, {f} / 16 * c2a * (4 + {f} * (4 - 3 * c2a)) AS C
        FROM (
          SELECT *, CASE WHEN c2a = 0 THEN 0 ELSE cs - 2 * su1 * su2 / c2a END AS c2m
          FROM (
            SELECT *, 1 - sa * sa AS c2a, atan2(ss, cs) AS sig
            FROM (
              SELECT *, CASE WHEN ss = 0 THEN 0 ELSE cu1 * cu2 * sin(lam) / ss END AS sa
              FROM (
                SELECT *,
                  sqrt(power(cu2 * sin(lam), 2) + power(cu1 * su2 - su1 * cu2 * cos(lam), 2)) AS ss,
                  su1 * su2 + cu1 * cu2 * cos(lam) AS cs
                FROM ({prev})
              )
            )
          )
        )
      )
    """


def _distance_spheroid_oracle() -> str:
    """Vincenty inverse unrolled in plain SQL (8 fixed-point iterations,
    linear convergence ratio ~f => double-precision converged)."""
    f, a, b = _WGS84_F, _WGS84_A, _WGS84_B
    base = f"""
      SELECT cid, sin(U1) AS su1, cos(U1) AS cu1, sin(U2) AS su2, cos(U2) AS cu2,
             LL, LL AS lam
      FROM (
        SELECT cid,
               atan((1 - {f}) * tan(radians(lat1))) AS U1,
               atan((1 - {f}) * tan(radians(lat2))) AS U2,
               radians(lon2 - lon1) AS LL
        FROM (SELECT cid, lon AS lon1, lat AS lat1, lon / 2 AS lon2, lat / 2 + 10 AS lat2
              FROM ({_LONLAT}) WHERE cid < 300)
      )
    """
    q = base
    for _ in range(8):
        q = _vincenty_iter_sql(q)
    return f"""
      SELECT cid, round(s, 2) AS dist_m, s <= 2000000.0 AS within_2mm
      FROM (
        SELECT cid, {b} * A_ * (sig - B_ * ss * (c2m + B_ / 4 * (cs * (-1 + 2 * c2m * c2m)
                 - B_ / 6 * c2m * (-3 + 4 * ss * ss) * (-3 + 4 * c2m * c2m)))) AS s
        FROM (
          SELECT *,
            1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2))) AS A_,
            u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2))) AS B_
          FROM (
            SELECT *, c2a * ({a} * {a} - {b} * {b}) / ({b} * {b}) AS u2
            FROM (
              SELECT *, CASE WHEN c2a = 0 THEN 0 ELSE cs - 2 * su1 * su2 / c2a END AS c2m
              FROM (
                SELECT *, 1 - sa * sa AS c2a, atan2(ss, cs) AS sig
                FROM (
                  SELECT *, CASE WHEN ss = 0 THEN 0 ELSE cu1 * cu2 * sin(lam) / ss END AS sa
                  FROM (
                    SELECT *,
                      sqrt(power(cu2 * sin(lam), 2) + power(cu1 * su2 - su1 * cu2 * cos(lam), 2)) AS ss,
                      su1 * su2 + cu1 * cu2 * cos(lam) AS cs
                    FROM ({q})
                  )
                )
              )
            )
          )
        )
      )
    """


def _area_spheroid_oracle() -> str:
    """Closed-form ellipsoidal zone-slice area + meridian-arc series
    (Snyder 3-21) + parallel-arc perimeter — plain arithmetic."""
    a, b, e2, e = _WGS84_A, _WGS84_B, _WGS84_E2, _WGS84_E
    c0 = 1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256
    c2 = 3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024
    c4 = 15 * e2**2 / 256 + 45 * e2**3 / 1024
    c6 = 35 * e2**3 / 3072
    vals = ", ".join(f"({i}, {lon0}, {w}, {lo}, {hi})" for (i, lon0, w, lo, hi) in _SPHEROID_ZONES)

    def zf(phi):  # closed-form zone function f(phi), SQL text
        return (
            f"(sin(radians({phi})) / (1 - {e2} * sin(radians({phi})) * sin(radians({phi})))"
            f" + 0.5 * ln((1 + {e} * sin(radians({phi}))) / (1 - {e} * sin(radians({phi})))) / {e})"
        )

    def mer(phi):  # meridian arc from equator, SQL text
        return (
            f"({a} * ({c0} * radians({phi}) - {c2} * sin(2 * radians({phi}))"
            f" + {c4} * sin(4 * radians({phi})) - {c6} * sin(6 * radians({phi}))))"
        )

    def npar(phi):  # N(phi) * cos(phi), SQL text
        return f"({a} / sqrt(1 - {e2} * sin(radians({phi})) * sin(radians({phi}))) * cos(radians({phi})))"

    return f"""
      SELECT id,
        round(radians(w) / 2 * {b} * {b} * ({zf('hi')} - {zf('lo')}) / 1e6, 1) AS area_km2,
        round(2 * ({mer('hi')} - {mer('lo')}) + radians(w) * ({npar('lo')} + {npar('hi')}), 0) AS perim_m,
        round({mer('hi')} - {mer('lo')}, 1) AS mer_m
      FROM (SELECT * FROM (VALUES {vals}) AS t(id, lon0, w, lo, hi))
    """


def oracle_sql() -> dict[str, str]:
    pts = _PTS
    rects = _RECTS
    lonlat = _LONLAT
    # same window predicates as _LAYOUT_BOXES: within = strict, intersects
    # = inclusive (a point's bbox IS the point)
    layout_boxes_sql = " UNION ALL ".join(
        f"SELECT CAST({bid} AS INTEGER) AS box_id,"
        f" CAST(count(*) AS BIGINT) AS n,"
        f" CAST(coalesce(sum(id), 0) AS BIGINT) AS id_sum"
        f" FROM ({_PTS}) WHERE "
        + (
            f"x > {x0} AND x < {x1} AND y > {y0} AND y < {y1}"
            if sem == "within"
            else f"x >= {x0} AND x <= {x1} AND y >= {y0} AND y <= {y1}"
        )
        for bid, x0, y0, x1, y1, sem in _LAYOUT_BOXES
    )
    # v5 = MERGE on the v4 state: rows with id%101=0 take the source
    # coordinates, inserts land at id+20000000
    merged_rows = (
        f"SELECT id, x, y FROM ({_PTS}) WHERE id % 5 <> 0 AND id % 101 <> 0"
        f" UNION ALL SELECT id, CAST(0.5 AS DOUBLE), CAST(9999.5 AS DOUBLE)"
        f" FROM ({_PTS}) WHERE id % 5 <> 0 AND id % 101 = 0"
        f" UNION ALL SELECT id + 20000000, CAST(123.25 AS DOUBLE),"
        f" CAST(456.75 AS DOUBLE) FROM ({_PTS}) WHERE id % 997 = 0"
    )
    snapshot_vers_sql = " UNION ALL ".join(
        f"SELECT CAST({label} AS INTEGER) AS version,"
        f" CAST(count(*) AS BIGINT) AS n, CAST(sum(id) AS BIGINT) AS id_sum,"
        f" round(min(x), 6) AS xmin, round(max(y), 6) AS ymax"
        f" FROM ({src}){where}"
        for label, src, where in (
            (1, _PTS, " WHERE id % 3 <> 0"), (2, _PTS, ""), (3, _PTS, ""),
            (4, _PTS, " WHERE id % 5 <> 0"), (5, merged_rows, ""),
        )
    )
    # polygon windows: within = closed containment (a 2-D polygon touching
    # the envelope edge from inside is still ST_Within), intersects =
    # closed interval overlap (boundary contact intersects)
    layout_polys_sql = " UNION ALL ".join(
        f"SELECT CAST({bid} AS INTEGER) AS box_id,"
        f" CAST(count(*) AS BIGINT) AS n,"
        f" CAST(coalesce(sum(rid), 0) AS BIGINT) AS rid_sum"
        f" FROM ({_RECTS}) WHERE "
        + (
            f"mx >= {x0} AND my >= {y0} AND mx + w <= {x1} AND my + h <= {y1}"
            if sem == "within"
            else f"mx <= {x1} AND mx + w >= {x0} AND my <= {y1} AND my + h >= {y0}"
        )
        for bid, x0, y0, x1, y1, sem in _LAYOUT_BOXES
    )
    g = _NAD27_GRID
    col_expr = f"((-lon * 3600 - {g['e_long']}) / {g['inc']})"
    row_expr = f"((lat * 3600 - {g['s_lat']}) / {g['inc']})"
    dlat_expr = f"({g['a_lat']} + {g['b_lat']} * {col_expr} + {g['c_lat']} * {row_expr})"
    dlon_expr = f"({g['a_lon']} + {g['b_lon']} * {col_expr} + {g['c_lon']} * {row_expr})"
    nad27_sql = (
        f"SELECT cid,"
        f" round(lon - {dlon_expr} / 3600, 6) AS wlon,"
        f" round(lat + {dlat_expr} / 3600, 6) AS wlat,"
        f" round(lon, 6) AS rlon, round(lat, 6) AS rlat"
        f" FROM ({_NAD27_PTS})"
    )
    return {
        "spatial_transform_tranche5": """
            SELECT * FROM (VALUES
              (CAST(1 AS BIGINT), 2510000.0, 6023150.0),
              (2, 0.0, 0.0),
              (3, 0.0, 0.0),
              (4, -1.0, 1.0)
            ) AS t(id, e, n)
        """,
        "vrt_union_sql": f"""
            SELECT id AS feature_id, round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 300
            UNION ALL
            SELECT id + 10000 AS feature_id, round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 100
        """,
        "s57_depth": """
            SELECT * FROM (VALUES
              (CAST(2 AS BIGINT), 129, 'Delta', CAST(NULL AS VARCHAR),
               'MULTIPOINT', 2, 0.0, 10.3),
              -- np 16: the r15 VRPC splice adds a begin-node vertex to
              -- the outer shell (previously 15)
              (8, 2, 'Gamma', NULL, 'MULTIPOLYGON', 16, 121.0, -1.0),
              (10, 3, NULL, 'Nat', 'POINT', 1, 0.0, -1.0),
              -- r16: second cell enumerated via the exchange-set
              -- CATALOG.031 (backslash subdir entry); its own rcid space
              (2, 5, 'Echo', NULL, 'POINT', 1, 0.0, -1.0)
            ) AS t(rcid, objl, nm, nn, t, np, a, zmx)
        """,
        "dgn_depth": """
            -- hand-derived: chain concatenates 4 distinct vertices; the
            -- curve strokes 2 spans x 8 + 1 = 17 points between its
            -- interior vertices (slope controls off-curve, x(t) affine
            -- so mnx/mxx are the interior endpoints); the open spline
            -- clamps to its end poles (2 spans x 10 + 1 = 21); the
            -- closed square spline (4 spans x 10 + 1 = 41) passes
            -- through control-polygon edge midpoints at integer knots,
            -- giving exact mnx 0 / mxx 2
            SELECT * FROM (VALUES
              (CAST(2 AS INT), CAST(NULL AS VARCHAR), 'LINESTRING',
               CAST(2 AS INT), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
               CAST(3 AS DOUBLE), CAST(2.5 AS DOUBLE)),
              (3, NULL, 'LINESTRING', 4, 0, 0, 3, NULL),
              (4, NULL, 'POLYGON', 5, 16, 0, 4, 1),
              (5, 'Main St', 'POINT', 1, 0, 2.5, 2.5, NULL),
              (7, NULL, 'POLYGON', 5, 48, 0, 8, NULL),
              (9, NULL, 'LINESTRING', 17, 0, 0, 2, NULL),
              (10, NULL, 'LINESTRING', 21, 0, 0, 3, NULL),
              (11, NULL, 'LINESTRING', 41, 0, 0, 2, NULL),
              -- r16 3D arcs: quarter circles stroke 90/5+1 spans = 20
              -- points hitting t=0/t=90 exactly; identity quat keeps
              -- z=7.5, the 90-deg-about-X quat maps the r=2 arc's ey
              -- extreme into z (zmx = 3+2 = 5); 3D TEXT reads origin z
              (12, NULL, 'LINESTRING', 20, 0, 0, 5, 7.5),
              (13, NULL, 'LINESTRING', 20, 0, 10, 12, 5),
              (14, 'Deep', 'POINT', 1, 0, 2.5, 2.5, -1.75)
            ) AS t(level, text, t, npts, a, mnx, mxx, zmx)
        """,
        "spatial_transform_vertical": """
            -- closed-form oracle: the synthetic GTX field is affine
            -- (N = 2 + 0.5*(lon+100) + 0.25*(lat-30)) over binary-fraction
            -- nodes, so bilinear interpolation reproduces it exactly;
            -- depth (5715) negates via +vto_meter=-1; 9705 has no grid
            -- registered, so MSL height passes through numerically
            SELECT pid,
              round(lon, 6) AS lon, round(lat, 6) AS lat,
              round(h + 2 + 0.5 * (lon + 100) + 0.25 * (lat - 30), 6) AS h_ell,
              round(h, 6) AS h_rt,
              round(h + 2 + 0.5 * (lon + 100) + 0.25 * (lat - 30), 6) AS h_notation,
              -- + 0 normalizes DuckDB's round(-0.0)=-0.0 to +0.0 (Spark's
              -- BigDecimal-backed round has no signed zero); see CLAUDE.md
              round(-h, 6) + 0 AS negdepth,
              round(h, 6) AS msl_pass
            FROM (VALUES
              (1, CAST(-95.5 AS DOUBLE), CAST(35.25 AS DOUBLE), CAST(100.0 AS DOUBLE)),
              (2, -97.75, 31.5, 12.5),
              (3, -91.25, 39.5, 0.0)
            ) AS t(pid, lon, lat, h)
        """,
        "spatial_transform_nad27": nad27_sql,
        "spatial_native_casts": f"""
            SELECT rid, round(w * h, 6) AS area,
                   round(sqrt(w * w + h * h), 6) AS seg_len,
                   (mx >= 2000 AND mx <= 7000 AND my >= 2000 AND my <= 7000) AS in_box,
                   round(mx, 6) AS px,
                   CAST(1 AS INTEGER) AS nrings, CAST(5 AS INTEGER) AS npts,
                   CAST(2 AS INTEGER) AS nlpts
            FROM ({_RECTS}) WHERE rid <= 600
        """,
        "spatial_transform_paris": f"""
            SELECT zid, round(600000.0, 4) AS x, round(0.0, 4) AS dy,
                   round({_PARIS_PM}, 9) AS glon,
                   round(2.3522, 6) AS rt_lon, round(48.8566, 6) AS rt_lat
            FROM (VALUES (1), (2), (3)) AS t(zid)
        """,
        "wfs_read": """
            WITH r AS (
              SELECT p_partkey AS rid,
                     CAST(p_partkey * 7919 % 9900 AS DOUBLE) AS mx,
                     CAST(p_partkey * 104729 % 9900 AS DOUBLE) AS my
              FROM part WHERE p_partkey <= 120
            )
            SELECT 'full' AS part, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(rid) AS BIGINT) AS rid_sum,
                   round(sum(mx), 4) AS sx, round(sum(my), 4) AS sy FROM r
            UNION ALL
            SELECT 'bbox', CAST(count(*) AS BIGINT),
                   CAST(sum(rid) AS BIGINT),
                   round(sum(mx), 4), round(sum(my), 4)
            FROM r WHERE mx BETWEEN 1000 AND 5000 AND my BETWEEN 1000 AND 5000
        """,
        "spatial_transform_tranche3": """
            -- engine-independent identities: unit-twin and identical-
            -- projection deltas are zero after rounding; roundtrips
            -- return the input coordinates (all literals)
            SELECT 1 AS pid,
              0.0 AS ny_dx, 0.0 AS ny_dy, 0.0 AS swe_dx, 0.0 AS swe_dy,
              139.7671 AS jp_rt_lon, 35.6812 AS jp_rt_lat,
              116.407 AS cn_rt_lon, 39.904 AS cn_rt_lat,
              37.6176 AS p95_rt_lon, 55.7558 AS p95_rt_lat,
              -134.42 AS ak1_rt_lon, 58.3 AS ak1_rt_lat,
              -6.2603 AS itm_rt_lon, 53.3498 AS itm_rt_lat,
              21.0122 AS pl_rt_lon, 52.2297 AS pl_rt_lat
        """,
        "spatial_transform_stateplane": """
            -- published worked examples (EPSG GN7-2 lcc-2SP Texas South
            -- Central; GDA94 technical manual Flinders Peak -> MGA55) +
            -- roundtrip identities on the r11 registry series — all
            -- literals are spec constants, independent of the engine
            SELECT 1 AS pid,
                   round(2963503.91, 2) AS tx_e, round(254759.80, 2) AS tx_n,
                   round(-96.0, 6) AS tx_rt_lon, round(28.5, 6) AS tx_rt_lat,
                   round(273741.297, 3) AS fp_e, round(5796489.777, 3) AS fp_n,
                   round(-74.006, 6) AS ny_rt_lon, round(40.7128, 6) AS ny_rt_lat,
                   round(37.6176, 6) AS gk_rt_lon, round(55.7558, 6) AS gk_rt_lat,
                   round(-46.6333, 6) AS sir_rt_lon, round(-23.5505, 6) AS sir_rt_lat,
                   round(-87.6298, 6) AS n27_rt_lon, round(41.8781, 6) AS n27_rt_lat,
                   round(133.8807, 6) AS aus_rt_lon, round(-23.698, 6) AS aus_rt_lat
        """,
        "spatial_transform_rd": f"""
            -- roundtrip identity on the reference's amsterdam_roads.fgb
            -- vertices + the published EPSG GN7-2 worked examples for
            -- oblique stereographic (9809) and LAEA (9820): all values
            -- are spec constants, independent of the engine under test
            SELECT pid, round(mx, 1) AS rt_x, round(my, 1) AS rt_y,
                   round(196105.283, 3) AS gn_e, round(557057.739, 3) AS gn_n,
                   round(155000.0, 4) AS org_e, round(463000.0, 4) AS org_n,
                   round(3962799.45, 2) AS laea_e, round(2999718.85, 2) AS laea_n,
                   round(5.0, 6) AS laea_rt_lon, round(50.0, 6) AS laea_rt_lat,
                   round(679245.73, 2) AS rso_e, round(596562.78, 2) AS rso_n,
                   round(66644.94, 2) AS trin_e, round(82536.22, 2) AS trin_n
            FROM (VALUES
              {", ".join(f"({pid}, {mx!r}, {my!r})" for pid, mx, my in _AMS_ROADS_3857)}
            ) AS t(pid, mx, my)
        """,
        "layout_pruned_polys": layout_polys_sql,
        "geo_parquet_stats": (
            f"SELECT CAST(4 AS INTEGER) AS n_files,"
            f" CAST(count(*) AS BIGINT) AS total_rows,"
            f" round(min(x), 6) AS xmin, round(min(y), 6) AS ymin,"
            f" round(max(x), 6) AS xmax, round(max(y), 6) AS ymax,"
            f" CAST(0 AS BIGINT) AS overlapping_pairs FROM ({_PTS})"
        ),
        "layout_pruned_count": layout_boxes_sql,
        "layout_snapshot": snapshot_vers_sql,
        "streaming_upsert": f"""
            WITH merged AS (
              SELECT id, x, y FROM ({_PTS}) WHERE id % 11 <> 0
              UNION ALL SELECT id, CAST(2.5 AS DOUBLE), CAST(7.25 AS DOUBLE)
                FROM ({_PTS}) WHERE id % 11 = 0
              UNION ALL SELECT id + 40000000, CAST(11.5 AS DOUBLE),
                CAST(3.75 AS DOUBLE) FROM ({_PTS}) WHERE id % 13 = 0
            )
            SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(id) AS BIGINT) AS id_sum,
                   round(min(x), 6) AS xmin, round(max(y), 6) AS ymax
            FROM merged
        """,
        "spatial_intersection_lines": """
            SELECT CAST(id AS BIGINT) AS id, ix, xi, CAST(dim AS INT) AS dim,
                   CAST(len AS DOUBLE) AS len, dif
            FROM (VALUES
              (1, 'POINT (2 2)', 'POINT (2 2)', 0, 0.0,
                  'LINESTRING (0 0, 4 4)'),
              (2, 'POINT (2 2)', 'POINT (2 2)', 0, 0.0,
                  'LINESTRING (0 0, 2 2)'),
              (3, 'LINESTRING (2 0, 4 0)', 'LINESTRING (2 0, 4 0)', 1, 2.0,
                  'LINESTRING (0 0, 2 0)'),
              (4, 'GEOMETRYCOLLECTION EMPTY', 'GEOMETRYCOLLECTION EMPTY', 0, 0.0,
                  'LINESTRING (0 0, 1 0)'),
              (5, 'GEOMETRYCOLLECTION (LINESTRING (2 0, 4 0), POINT (4 2))',
                  'GEOMETRYCOLLECTION (LINESTRING (2 0, 4 0), POINT (4 2))', 1, 2.0,
                  'MULTILINESTRING ((0 0, 2 0), (4 0, 4 4))'),
              (6, 'LINESTRING (0 1, 4 1)', 'LINESTRING (0 1, 4 1)', 1, 4.0,
                  'MULTILINESTRING ((-1 1, 0 1), (4 1, 5 1))'),
              (7, 'LINESTRING (0 2.5, 1 2.5)', 'LINESTRING (0 2.5, 1 2.5)', 1, 1.0,
                  'MULTILINESTRING ((-1 2.5, 0 2.5), (1 2.5, 5 2.5))'),
              (8, 'MULTILINESTRING ((0 5, 4 5), (6 5, 10 5))',
                  'MULTILINESTRING ((0 5, 4 5), (6 5, 10 5))', 1, 8.0,
                  'MULTILINESTRING ((-1 5, 0 5), (4 5, 6 5), (10 5, 11 5))'),
              (9, 'MULTILINESTRING ((0 1, 2 1), (4 1, 6 1))',
                  'MULTILINESTRING ((0 1, 2 1), (4 1, 6 1))', 1, 4.0,
                  'MULTILINESTRING ((-1 1, 0 1), (2 1, 4 1), (6 1, 7 1))'),
              (10, 'POINT (2 5)', 'POINT (2 5)', 0, 0.0,
                  'LINESTRING (1 5, 2 5, 3 5)')
            ) AS t(id, ix, xi, dim, len, dif)
        """,
        "spatial_envelope_count": f"""
            SELECT count(*) AS n FROM ({pts})
            WHERE x > 450 AND x < 2650 AND y > 450 AND y < 2650
        """,
        "spatial_envelope_count_native": f"""
            SELECT count(*) AS n FROM ({pts})
            WHERE x >= 450 AND x <= 2650 AND y >= 450 AND y <= 2650
        """,
        "spatial_astext": f"""
            SELECT id, 'POINT (' || CAST(x AS BIGINT) || ' ' || CAST(y AS BIGINT) || ')' AS wkt
            FROM ({pts}) WHERE id < 500
        """,
        "spatial_area_envelope": f"SELECT rid, round(w * h, 6) AS area FROM ({rects})",
        "spatial_wkt_triangle_area": f"SELECT rid, round(w * h / 2, 6) AS area FROM ({rects})",
        "spatial_distance": f"""
            SELECT id, round(sqrt((x - 5000) * (x - 5000) + (y - 5000) * (y - 5000)), 6) AS dist
            FROM ({pts}) WHERE id < 1000
        """,
        "spatial_distance_sphere": f"""
            SELECT cid, round(2 * 6371000.0 * asin(sqrt(
                     sin(radians(0 - lat) / 2) * sin(radians(0 - lat) / 2)
                   + cos(radians(lat)) * cos(radians(0)) *
                     sin(radians(0 - lon) / 2) * sin(radians(0 - lon) / 2))), 3) AS dist_m
            FROM ({lonlat}) WHERE cid < 500
        """,
        "spatial_line_length": """
            SELECT l_orderkey AS id, round(coalesce(sum(seg), 0), 6) AS len FROM (
              SELECT l_orderkey, sqrt((x - lag(x) OVER w) * (x - lag(x) OVER w)
                                    + (y - lag(y) OVER w) * (y - lag(y) OVER w)) AS seg
              FROM (SELECT l_orderkey, l_linenumber,
                           CAST(l_partkey % 500 AS DOUBLE) AS x,
                           CAST(l_suppkey % 500 AS DOUBLE) AS y
                    FROM lineitem WHERE l_orderkey % 20 = 0)
              WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, x, y)
            ) GROUP BY l_orderkey HAVING count(*) >= 2
        """,
        "spatial_centroid": f"""
            SELECT rid, round(mx + w / 2, 6) AS cx, round(my + h / 2, 6) AS cy FROM ({rects})
        """,
        "spatial_perimeter": f"""
            SELECT rid, round(2 * (w + h), 6) AS perim FROM ({rects})
        """,
        "spatial_makeline_npoints": """
            SELECT l_orderkey AS id, CAST(count(*) AS INT) AS np
            FROM lineitem WHERE l_orderkey % 25 = 0
            GROUP BY l_orderkey HAVING count(*) >= 2
        """,
        "spatial_makeline_astext": """
            SELECT l_orderkey AS id,
                   'LINESTRING (' || string_agg(
                       CAST(l_partkey % 500 AS BIGINT) || ' ' || CAST(l_suppkey % 500 AS BIGINT),
                       ', ' ORDER BY l_linenumber, l_partkey % 500, l_suppkey % 500) || ')' AS wkt
            FROM lineitem WHERE l_orderkey % 50 = 0
            GROUP BY l_orderkey HAVING count(*) >= 2
        """,
        "spatial_join_point_in_rect": f"""
            SELECT rid, count(*) AS n
            FROM (SELECT * FROM ({pts}) WHERE id % 5 = 0) p, ({rects}) r
            WHERE p.x > r.mx AND p.x < r.mx + r.w AND p.y > r.my AND p.y < r.my + r.h
            GROUP BY rid
        """,
        "zonal_stats": f"""
            SELECT r.rid AS zone_id, count(*) AS n_cells,
                   CAST(sum(p.v) AS BIGINT) AS sum_v,
                   round(CAST(sum(p.v) AS BIGINT) / CAST(count(*) AS DOUBLE), 6) AS avg_v,
                   CAST(min(p.v) AS BIGINT) AS min_v,
                   CAST(max(p.v) AS BIGINT) AS max_v
            FROM (SELECT id, x, y, CAST(id % 13 AS BIGINT) AS v FROM ({pts})) p,
                 ({rects}) r
            WHERE p.x > r.mx AND p.x < r.mx + r.w AND p.y > r.my AND p.y < r.my + r.h
            GROUP BY r.rid
        """,
        "spatial_dwithin_join_count": f"""
            SELECT count(*) AS n
            FROM (SELECT * FROM ({pts}) WHERE id % 20 = 0) a,
                 (SELECT * FROM ({pts}) WHERE id % 20 = 10) b
            WHERE sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 50
        """,
        "spatial_join_rect_overlap": f"""
            SELECT a.rid AS rid_a, b.rid AS rid_b
            FROM (SELECT * FROM ({rects}) WHERE rid % 3 = 0) a
            JOIN (SELECT rid, my AS bx, mx AS by, my + h + 40 AS tx, mx + w + 40 AS ty
                  FROM ({rects}) WHERE rid % 3 = 1) b
              ON a.mx <= b.tx AND b.bx <= a.mx + a.w
             AND a.my <= b.ty AND b.by <= a.my + a.h
        """,
        "spatial_extent_agg": f"""
            SELECT id % 10 AS grp, min(x) AS min_x, min(y) AS min_y,
                   max(x) AS max_x, max(y) AS max_y,
                   round((max(x) - min(x)) * (max(y) - min(y)), 6) AS extent_area
            FROM ({pts}) GROUP BY id % 10
        """,
        "spatial_overlay_rects": f"""
            SELECT rid, round(w/2 * h/2, 6) AS inter_area,
                   round(2*w*h - w/2*h/2, 6) AS union_area,
                   round(w*h - w/2*h/2, 6) AS diff_area
            FROM ({rects}) WHERE rid <= 500
        """,
        "spatial_intersection_tri_rect": f"""
            SELECT rid, round(3*w*h/8, 6) AS area FROM ({rects}) WHERE rid <= 500
        """,
        "spatial_convexhull_area": f"""
            SELECT rid, round(w*h/2, 6) AS hull_area FROM ({rects}) WHERE rid <= 500
        """,
        "spatial_makevalid_bowtie": f"""
            SELECT rid, round(w*h/2, 6) AS area FROM ({rects}) WHERE rid <= 500
        """,
        "spatial_union_agg_chain": """
            SELECT CAST(p_partkey % 8 AS BIGINT) AS grp,
                   round(10 * (5*(max(p_partkey // 8) - min(p_partkey // 8)) + 10), 6) AS union_area
            FROM part WHERE p_partkey <= 400 GROUP BY 1
        """,
        "spatial_intersection_agg": """
            SELECT CAST(p_partkey % 8 AS BIGINT) AS grp,
                   round((10 + min((p_partkey // 8) % 13) + min((p_partkey // 8) % 11))
                       * (10 + min((p_partkey // 8) % 19) + min((p_partkey // 8) % 17)), 6) AS inter_area
            FROM part WHERE p_partkey BETWEEN 801 AND 864 GROUP BY 1
        """,
        "spatial_transform_3857": f"""
            SELECT cid,
                   round(6378137.0 * radians(lon), 3) AS mx,
                   round(6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2)), 3) AS my
            FROM ({lonlat})
        """,
        "spatial_transform_longtail": """
            SELECT * FROM (VALUES
              (CAST(1 AS BIGINT), 651409.903, 313177.27),
              (2, 400097.646, 455996.503),
              (3, 530043.195, 180358.209),
              (4, 2600072.39, 1200147.056),
              (5, 2683303.894, 1247925.628),
              (6, 1757311.331, 5920214.564),
              (7, 148799.17, 171100.155),
              (8, 6487847.003, 1841468.252)
            ) AS t(id, e, n)
        """,
        "spatial_transform_wkt": """
            SELECT * FROM (VALUES
              (CAST(1 AS BIGINT), 651409.903, 313177.27),
              (2, 400097.646, 455996.503),
              (3, 530043.195, 180358.209),
              (4, 1390647.607, 5144546.1),
              (5, 6487847.0, 1841468.25),
              (6, 400097.646, 455996.503),
              (7, 1390647.607, 5144546.1)
            ) AS t(id, e, n)
        """,
        "spatial_format_ops": """
            SELECT * FROM (VALUES
              (CAST(1 AS BIGINT), '{"type":"Point","coordinates":[1.0,2.0]}',
               '0101000000000000000000F03F0000000000000040',
               'cx="1" cy="-2"',
               'POINT Z (1 2 7)', 'POINT (2 1)', 'POINT', 0, 1),
              (2, '{"type":"LineString","coordinates":[[0.0,0.0],[3.0,0.0],[3.0,4.0]]}',
               '010200000003000000000000000000000000000000000000000000000000000840000000000000000000000000000008400000000000001040',
               'M 0 0 L 3 0 3 -4',
               'LINESTRING Z (0 0 7, 3 0 7, 3 4 7)', 'LINESTRING (0 0, 0 3, 4 3)', 'LINESTRING', 1, 3),
              (3, '{"type":"Polygon","coordinates":[[[0.0,0.0],[4.0,0.0],[4.0,4.0],[0.0,4.0],[0.0,0.0]]]}',
               '010300000001000000050000000000000000000000000000000000000000000000000010400000000000000000000000000000104000000000000010400000000000000000000000000000104000000000000000000000000000000000',
               'M 0 0 L 4 0 4 -4 0 -4 Z',
               'POLYGON Z ((0 0 7, 4 0 7, 4 4 7, 0 4 7, 0 0 7))', 'POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))', 'POLYGON', 2, 5),
              (4, '{"type":"Polygon","coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]],[[2.0,2.0],[4.0,2.0],[4.0,4.0],[2.0,4.0],[2.0,2.0]]]}',
               '010300000002000000050000000000000000000000000000000000000000000000000024400000000000000000000000000000244000000000000024400000000000000000000000000000244000000000000000000000000000000000050000000000000000000040000000000000004000000000000010400000000000000040000000000000104000000000000010400000000000000040000000000000104000000000000000400000000000000040',
               'M 0 0 L 10 0 10 -10 0 -10 ZM 2 -2 L 4 -2 4 -4 2 -4 Z',
               'POLYGON Z ((0 0 7, 10 0 7, 10 10 7, 0 10 7, 0 0 7), (2 2 7, 4 2 7, 4 4 7, 2 4 7, 2 2 7))', 'POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))', 'POLYGON', 2, 10),
              (5, '{"type":"MultiPoint","coordinates":[[1.0,1.0],[2.0,2.0]]}',
               '0104000000020000000101000000000000000000F03F000000000000F03F010100000000000000000000400000000000000040',
               'cx="1" cy="-1",cx="2" cy="-2"',
               'MULTIPOINT Z (1 1 7, 2 2 7)', 'MULTIPOINT (1 1, 2 2)', 'MULTIPOINT', 0, 2),
              (6, '{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":[5.0,6.0]},{"type":"LineString","coordinates":[[0.0,0.0],[1.0,1.0]]}]}',
               '01070000000200000001010000000000000000001440000000000000184001020000000200000000000000000000000000000000000000000000000000F03F000000000000F03F',
               'cx="5" cy="-6";M 0 0 L 1 -1',
               'GEOMETRYCOLLECTION Z (POINT Z (5 6 7), LINESTRING Z (0 0 7, 1 1 7))', 'GEOMETRYCOLLECTION (POINT (6 5), LINESTRING (0 0, 1 1))', 'GEOMETRYCOLLECTION', 1, 3)
            ) AS t(id, gj, hex, svg, f3d, flip, gt, dim, np)
        """,
        "spatial_buffer_styles": f"""
            SELECT rid,
              round(2 * (h/4) * w, 6) AS flat_area,
              round(2 * (h/4) * w + 2 * (2 * (h/4) * (h/4)), 6) AS square_area,
              round(w*h + 2*2*(2*w + 2*h)/2 + 4*4, 6) AS mitre_area,
              round(w*h + 2*2*(2*w + 2*h)/2 + 4*4 - 4*2*2/2, 6) AS bevel_area
            FROM ({rects}) WHERE rid <= 300
        """,
        "spatial_buffer_area": f"""
            SELECT cid, round((32.0 / 2) * ((cid % 10 + 1) * (cid % 10 + 1)) * sin(2 * pi() / 32), 3) AS area
            FROM ({lonlat}) WHERE cid < 300
        """,
        "spatial_quadkey": f"""
            SELECT cid,
                   CAST(floor(tx / 8) % 2 + 2 * (floor(ty / 8) % 2) AS BIGINT)
                || CAST(floor(tx / 4) % 2 + 2 * (floor(ty / 4) % 2) AS BIGINT)
                || CAST(floor(tx / 2) % 2 + 2 * (floor(ty / 2) % 2) AS BIGINT)
                || CAST(tx % 2 + 2 * (ty % 2) AS BIGINT) AS qk
            FROM (
              SELECT cid,
                     CAST(floor((lon + 180) / 360 * 16) AS BIGINT) AS tx,
                     CAST(floor((0.5 - ln((1 + sin(radians(lat))) / (1 - sin(radians(lat)))) / (4 * pi())) * 16) AS BIGINT) AS ty
              FROM ({lonlat}) WHERE cid < 500
            )
        """,
        "spatial_collect_dump": f"""
            SELECT id % 50 AS grp, count(*) AS n, round(sum(x), 6) AS sx
            FROM ({pts}) WHERE id < 3000 GROUP BY id % 50
        """,
        "spatial_line_endpoints": """
            WITH s AS (
              SELECT l_orderkey AS id,
                     list(x ORDER BY l_linenumber, x, y) AS xs,
                     list(y ORDER BY l_linenumber, x, y) AS ys
              FROM (SELECT l_orderkey, l_linenumber,
                           CAST(l_partkey % 500 AS DOUBLE) AS x,
                           CAST(l_suppkey % 500 AS DOUBLE) AS y
                    FROM lineitem WHERE l_orderkey % 25 = 0)
              GROUP BY l_orderkey
              HAVING count(*) >= 2
            )
            SELECT id, round(xs[1], 6) AS sx, round(ys[len(ys)], 6) AS ey,
                   round(xs[2], 6) AS p2x, round(xs[len(xs)], 6) AS plx
            FROM s
        """,
        "spatial_dwithin_grouped": f"""
            SELECT grp, count(*) AS n FROM (
              SELECT (a.id // 10) % 5 AS grp
              FROM (SELECT * FROM ({pts}) WHERE id % 10 = 0) a,
                   (SELECT * FROM ({pts}) WHERE id % 10 = 5) b
              WHERE (a.id // 10) % 5 = (b.id // 10) % 5
                AND sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 75
            ) GROUP BY grp
        """,
        "spatial_predicates": """
            SELECT * FROM (VALUES
              (1, true,  true,  false, false, false, false),
              (2, true,  false, true,  false, false, false),
              (3, true,  false, false, false, true,  false),
              (4, true,  false, true,  false, false, false),
              (5, true,  false, false, true,  false, false),
              (6, true,  false, true,  false, false, false),
              (7, false, false, false, false, false, false),
              (8, true,  true,  false, false, false, true)
            ) AS t(pid, i, c, t, x, o, e)
        """,
        # Pinned literals, hand-verified against SFS/GEOS semantics (boundary
        # mod-2 rule, DP simplification traced by hand, JTS normalize
        # conventions). PointOnSurface values additionally asserted on-surface
        # in pytest.
        "spatial_unary_ops": """
            SELECT CAST(id AS BIGINT) AS id, bnd, env, pos, simp, spt, lm, rp, isv, iss,
                   ext, CAST(ng AS INT) AS ng, CAST(nir AS INT) AS nir,
                   rrp, rev, nrm, mlt, ce
            FROM (VALUES
              (1, 'LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 'POINT (2 2)', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 'GEOMETRYCOLLECTION EMPTY', 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', true, true, 'LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)', 1, 0, 'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 'POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))', 'POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))', 'MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)))', 'LINESTRING EMPTY'),
              (2, 'MULTIPOINT (0 0, 3 4)', 'POLYGON ((0 0, 3 0, 3 4, 0 4, 0 0))', 'POINT (3 0)', 'LINESTRING (0 0, 3 0, 3 4)', 'LINESTRING (0 0, 3 4)', 'LINESTRING (0 0, 3 0, 3 4)', 'LINESTRING (0 0, 3 0, 3 4)', true, true, '-', 1, -1, 'LINESTRING (0 0, 3 0, 3 4)', 'LINESTRING (3 4, 3 0, 0 0)', 'LINESTRING (0 0, 3 0, 3 4)', 'MULTILINESTRING ((0 0, 3 0, 3 4))', 'LINESTRING (0 0, 3 0, 3 4)'),
              (3, 'GEOMETRYCOLLECTION EMPTY', 'POINT (1 2)', 'POINT (1 2)', 'POINT (1 2)', 'POINT (1 2)', 'GEOMETRYCOLLECTION EMPTY', 'POINT (1 2)', true, true, '-', 1, -1, 'POINT (1 2)', 'POINT (1 2)', 'POINT (1 2)', 'MULTIPOINT (1 2)', 'LINESTRING EMPTY'),
              (4, 'MULTIPOINT (0 0, 2 2)', 'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 'POINT (0 0)', 'MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))', 'MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))', 'LINESTRING (0 0, 1 1, 2 2)', 'MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))', true, true, '-', 2, -1, 'MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))', 'MULTILINESTRING ((1 1, 0 0), (2 2, 1 1))', 'MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))', 'MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))', 'MULTILINESTRING ((0 0, 1 1), (1 1, 2 2))'),
              (5, 'MULTIPOINT (0 0, 4 0)', 'POLYGON ((0 -0.1, 4 -0.1, 4 0.2, 0 0.2, 0 -0.1))', 'POINT (2 -0.1)', 'LINESTRING (0 0, 2 -0.1, 3 0.2, 4 0)', 'LINESTRING (0 0, 4 0)', 'LINESTRING (0 0, 1 0.1, 2 -0.1, 3 0.2, 4 0)', 'LINESTRING (0 0, 1 0.1, 2 -0.1, 3 0.2, 4 0)', true, true, '-', 1, -1, 'LINESTRING (0 0, 1 0.1, 2 -0.1, 3 0.2, 4 0)', 'LINESTRING (4 0, 3 0.2, 2 -0.1, 1 0.1, 0 0)', 'LINESTRING (0 0, 1 0.1, 2 -0.1, 3 0.2, 4 0)', 'MULTILINESTRING ((0 0, 1 0.1, 2 -0.1, 3 0.2, 4 0))', 'LINESTRING (0 0, 1 0.1, 2 -0.1, 3 0.2, 4 0)'),
              (6, 'MULTILINESTRING ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))', 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', 'POINT (5 7)', 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))', 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))', 'GEOMETRYCOLLECTION EMPTY', 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))', true, true, 'LINESTRING (0 0, 10 0, 10 10, 0 10, 0 0)', 1, 1, 'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))', 'POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))', 'POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))', 'MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2)))', 'LINESTRING EMPTY'),
              (7, 'GEOMETRYCOLLECTION EMPTY', 'POINT (1.23456 7.65432)', 'POINT (1.23456 7.65432)', 'POINT (1.23456 7.65432)', 'POINT (1.23456 7.65432)', 'GEOMETRYCOLLECTION EMPTY', 'POINT (1.23 7.65)', true, true, '-', 1, -1, 'POINT (1.23456 7.65432)', 'POINT (1.23456 7.65432)', 'POINT (1.23456 7.65432)', 'MULTIPOINT (1.23456 7.65432)', 'LINESTRING EMPTY'),
              (8, 'MULTIPOINT (0 0, 2 2)', 'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 'POINT (1 1)', 'LINESTRING (0 0, 2 2)', 'LINESTRING (0 0, 2 2)', 'LINESTRING (0 0, 1 1, 1 1, 2 2)', 'LINESTRING (0 0, 1 1, 1 1, 2 2)', true, false, '-', 1, -1, 'LINESTRING (0 0, 1 1, 2 2)', 'LINESTRING (2 2, 1 1, 1 1, 0 0)', 'LINESTRING (0 0, 1 1, 1 1, 2 2)', 'MULTILINESTRING ((0 0, 1 1, 1 1, 2 2))', 'LINESTRING (0 0, 1 1, 1 1, 2 2)')
            ) AS t(id, bnd, env, pos, simp, spt, lm, rp, isv, iss, ext, ng, nir, rrp, rev, nrm, mlt, ce)
        """,
        # ISO WKB type codes (Z=+1000, M=+2000, ZM=+3000) hand-decoded; flag
        # codes 0/1/2/3 per st_has.cpp ZMFlag.
        "spatial_zm_flags": """
            SELECT CAST(id AS BIGINT) AS id, hz, hm, CAST(zm AS INT) AS zm, hex, rt,
                   CAST(z AS DOUBLE) AS z, CAST(m AS DOUBLE) AS m
            FROM (VALUES
              (1, false, false, 0, '0101000000000000000000F03F0000000000000040', 'POINT (1 2)', -1.0, -1.0),
              (2, true, false, 2, '01E9030000000000000000F03F00000000000000400000000000000840', 'POINT Z (1 2 3)', 3.0, -1.0),
              (3, false, true, 1, '01D1070000000000000000F03F00000000000000400000000000001040', 'POINT M (1 2 4)', -1.0, 4.0),
              (4, true, true, 3, '01B90B0000000000000000F03F000000000000004000000000000008400000000000001040', 'POINT ZM (1 2 3 4)', 3.0, 4.0),
              (5, true, false, 2, '01EA0300000200000000000000000000000000000000000000000000000000F03F000000000000F03F000000000000F03F0000000000000040', 'LINESTRING Z (0 0 1, 1 1 2)', 7.0, -1.0),
              (6, true, true, 3, '01BB0B0000010000000400000000000000000000000000000000000000000000000000F03F000000000000004000000000000010400000000000000000000000000000F03F000000000000004000000000000010400000000000001040000000000000F03F000000000000004000000000000000000000000000000000000000000000F03F0000000000000040', 'POLYGON ZM ((0 0 1 2, 4 0 1 2, 4 4 1 2, 0 0 1 2))', 10.0, 11.0)
            ) AS t(id, hz, hm, zm, hex, rt, z, m)
        """,
        "spatial_area_spheroid": _area_spheroid_oracle(),
        "spatial_distance_spheroid": _distance_spheroid_oracle(),
        # rect-pair predicate truths are pure boundary arithmetic: E shares
        # A's boundary (covers/contains true, containsproperly false), B is
        # strictly interior, C edge-adjacent, D diagonally offset by
        # (rid%7+1, rid%5+2) so the shortest line is corner-to-corner.
        "spatial_predicates2": f"""
            SELECT rid,
              true AS cov_ae, true AS con_ae, false AS cp_ae, true AS cp_ab,
              true AS cb_ea, false AS cov_ac, true AS dis_ad, false AS dis_ac,
              true AS ie_ac, false AS ie_ad,
              round(sqrt((rid % 7 + 1) * (rid % 7 + 1) + (rid % 5 + 2) * (rid % 5 + 2)), 6) AS gap
            FROM ({_RECTS}) WHERE rid <= 400
        """,
        "spatial_construct_ops": """
            SELECT CAST(id AS BIGINT) AS id, closed, empty, ring, mkpoly, pts
            FROM (VALUES
              (1, true,  false, true,  'POLYGON ((0 0, 1 0, 1 1, 0 0))', 'MULTIPOINT (0 0, 1 0, 1 1, 0 0)'),
              (2, false, false, false, '-', 'MULTIPOINT (0 0, 1 0, 1 1)'),
              (3, true,  false, false, '-', 'MULTIPOINT (3 4)'),
              (4, true,  true,  false, '-', 'MULTIPOINT EMPTY'),
              (5, true,  false, true,  'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 'MULTIPOINT (0 0, 2 0, 2 2, 0 2, 0 0)'),
              (6, true,  false, false, '-', 'MULTIPOINT (1 1, 2 2)'),
              (7, false, true,  false, '-', 'MULTIPOINT EMPTY'),
              (8, true,  false, false, 'POLYGON ((0 0, 1 1, 0 1, 1 0, 0 0))', 'MULTIPOINT (0 0, 1 1, 0 1, 1 0, 0 0)')
            ) AS t(id, closed, empty, ring, mkpoly, pts)
        """,
        "shp_roundtrip": f"""
            SELECT id, round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 400
        """,
        "gdb_roundtrip": f"""
            SELECT id, round(x, 6) AS x, round(y, 6) AS y,
                   concat('n', CAST(id % 7 AS STRING)) AS name,
                   round(CAST(id AS DOUBLE) / 8, 6) AS score
            FROM ({pts}) WHERE id < 400
        """,
        "dxf_read": f"""
            SELECT concat('L', CAST(id % 5 AS STRING)) AS name,
                   CAST(count(*) AS BIGINT) AS n,
                   round(sum(x), 6) AS a, round(sum(y), 6) AS b
            FROM ({pts}) WHERE id < 300 GROUP BY 1
            UNION ALL SELECT 'POLY', 1, 16.0, 16.0
            UNION ALL SELECT 'TEXT:hello', 1, 7.0, 8.0
        """,
        "xlsx_roundtrip": f"""
            SELECT CAST(id AS DOUBLE) AS id,
                   concat('n', CAST(id % 7 AS STRING)) AS name,
                   x / 4 AS score
            FROM ({pts}) WHERE id < 300
        """,
        "mif_roundtrip": f"""
            SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,
                   x / 4 AS score, round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 350
        """,
        "tab_roundtrip": f"""
            SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,
                   x / 4 AS score, id % 2 = 0 AS flag,
                   round(x, 5) AS x, round(y, 5) AS y
            FROM ({pts}) WHERE id < 350
        """,
        "georss_roundtrip": f"""
            SELECT concat('t', CAST(id AS STRING)) AS title,
                   concat('http://example/', CAST(id AS STRING)) AS link,
                   round(x / 100 - 40, 6) AS lon, round(y / 200 - 20, 6) AS lat
            FROM ({pts}) WHERE id < 300
        """,
        "pgdump_roundtrip": f"""
            SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,
                   x / 4 AS score, id % 2 = 0 AS flag,
                   round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 300
        """,
        "esrijson_roundtrip": f"""
            SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,
                   CAST(x / 4 AS DOUBLE) AS score,
                   round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 300
        """,
        "netcdf_roundtrip": f"""
            SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,
                   CAST(x / 4 AS DOUBLE) AS score,
                   round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 300
        """,
        "geojsonseq_roundtrip": f"""
            SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,
                   CAST(x / 4 AS DOUBLE) AS score,
                   round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 300
        """,
        "geoparquet_file": f"""
            SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,
                   CAST(x / 4 AS DOUBLE) AS score,
                   round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 300
        """,
        "mvt_roundtrip": f"""
            SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,
                   CAST(x / 4 AS DOUBLE) AS score,
                   round(x % 4000, 6) AS x, round(y % 4000, 6) AS y
            FROM ({pts}) WHERE id < 300
        """,
        "spatialite_roundtrip": f"""
            SELECT id, concat('n', CAST(id % 7 AS STRING)) AS name,
                   x / 4 AS score, round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 300
        """,
        "osm_read": f"""
            SELECT 'node' AS kind, id + 1 AS id,
                   concat('n', CAST(id % 7 AS STRING)) AS name,
                   CAST(-1 AS INTEGER) AS nrefs,
                   round(y / 100 - 40, 6) AS lat, round(x / 100 - 40, 6) AS lon
            FROM ({pts}) WHERE id < 400
            UNION ALL
            SELECT 'way', 100000 + id, CAST(NULL AS VARCHAR),
                   CAST(3 AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
            FROM ({pts}) WHERE id < 400 AND id % 50 = 0
            UNION ALL
            SELECT 'relation', 999999, CAST(NULL AS VARCHAR),
                   CAST(2 AS INTEGER), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        """,
        "spatial_refsys": """
            SELECT * FROM (VALUES
              ('EPSG', '4326', 'WGS 84'),
              ('EPSG', '3857', 'WGS 84 / Pseudo-Mercator'),
              ('EPSG', '32633', 'WGS 84 / UTM zone 33N'),
              ('EPSG', '27700', 'OSGB36 / British National Grid'),
              ('EPSG', 'utm_zones', '120')
            ) AS t(auth, code, name)
        """,
        "st_drivers_meta": f"""
            SELECT * FROM (VALUES
              ('GeoJSON', 'true', 'true'), ('GeoParquet', 'true', 'true'),
              ('CSV', 'true', 'true'), ('ESRI Shapefile', 'true', 'true'),
              ('FlatGeobuf', 'true', 'true'), ('GPKG', 'true', 'true'),
              ('OSM', 'true', 'false'), ('KML', 'true', 'true'),
              ('GPX', 'true', 'true'), ('GML', 'true', 'true'),
              ('TopoJSON', 'true', 'false'), ('DXF', 'true', 'true'),
              ('XLSX', 'true', 'true'), ('MapInfo File', 'true', 'true'),
              ('OpenFileGDB', 'true', 'true'), ('Arrow', 'true', 'true'),
              ('GeoRSS', 'true', 'true'), ('PGDump', 'true', 'true'),
              ('SQLite', 'true', 'true'), ('ESRIJSON', 'true', 'true'),
              ('netCDF', 'true', 'true'), ('MVT', 'true', 'true'),
              ('GeoJSONSeq', 'true', 'true'),
              ('PostgreSQL', 'true', 'true'), ('MSSQLSpatial', 'true', 'false'),
              ('OCI', 'true', 'false'), ('WFS', 'true', 'false'),
              ('ODS', 'true', 'true'), ('OGR_VRT', 'true', 'false'),
              ('OGR_GMT', 'true', 'true'), ('DGN', 'true', 'true'),
              ('S57', 'true', 'true'), ('SOSI', 'true', 'true'),
              ('Interlis 1', 'true', 'true'), ('SDTS', 'true', 'true')
            ) AS t(name, a, b)
            UNION ALL
            SELECT 'GeoJSON/Point/EPSG:4326' AS name,
                   CAST(count(*) AS STRING) AS a, 'meta' AS b
            FROM ({pts}) WHERE id < 250
        """,
        "spatial_hilbert": """
            -- independent re-implementation of the standard Hilbert xy->d
            -- walk (order 16) as a recursive CTE: per step, accumulate the
            -- quadrant digit then rotate/flip the frame
            WITH RECURSIVE pts AS (
              SELECT id,
                     CAST(floor(least(greatest((x - 0.0) / 10000.0 * 65535, 0.0), 65535.0)) AS BIGINT) AS gx,
                     CAST(floor(least(greatest((y - 0.0) / 10000.0 * 65535, 0.0), 65535.0)) AS BIGINT) AS gy
              FROM (SELECT o_orderkey AS id,
                           CAST(o_orderkey * 7919 % 10000 AS DOUBLE) AS x,
                           CAST(o_orderkey * 104729 % 10000 AS DOUBLE) AS y FROM orders)
              WHERE id < 1000
            ), it AS (
              SELECT id, gx AS x, gy AS y, CAST(32768 AS BIGINT) AS s, CAST(0 AS BIGINT) AS d FROM pts
              UNION ALL
              SELECT id,
                CASE WHEN (y & s) > 0 THEN x WHEN (x & s) = 0 THEN y ELSE s - 1 - y END,
                CASE WHEN (y & s) > 0 THEN y WHEN (x & s) = 0 THEN x ELSE s - 1 - x END,
                s // 2,
                d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
                                (CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END))
              FROM it WHERE s > 0
            )
            SELECT id, d AS h FROM it WHERE s = 0
        """,
        "spatial_generatepoints": """
            SELECT CAST(50000 AS BIGINT) AS n,
                   10.004095 AS mnx, 109.998386 AS mxx,
                   20.013 AS mny, 219.990836 AS mxy,
                   60.062682 AS ax, 120.088971 AS ay
        """,
        "fgb_roundtrip": f"""
            SELECT rid, w AS width, round(mx, 6) AS mnx, round(my, 6) AS mny,
                   round(w * h, 6) AS area
            FROM ({rects}) WHERE rid < 500
        """,
        "gpkg_roundtrip": f"""
            SELECT id, round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 500
        """,
        "kml_roundtrip": f"""
            SELECT id, round(x, 6) AS x, round(y, 6) AS y
            FROM ({pts}) WHERE id < 300
        """,
        "gml_roundtrip": f"""
            SELECT id,
                   round((1 + id % 5) * (2 + id % 3), 6) AS area,
                   round(x, 6) AS mnx,
                   round(y + 2 + id % 3, 6) AS mxy
            FROM ({pts}) WHERE id < 300
        """,
        "vrt_read": f"""
            SELECT id AS feature_id, round(x, 6) AS x, round(y, 6) AS y,
                   'EPSG:4326' AS crs
            FROM ({pts}) WHERE id < 300
        """,
        "gmt_roundtrip": f"""
            SELECT id,
                   round((1 + id % 4) * (2 + id % 5), 6) AS area,
                   round(x, 6) AS mnx,
                   round(y + 2 + id % 5, 6) AS mxy
            FROM ({pts}) WHERE id < 300
        """,
        "sdts_roundtrip": f"""
            SELECT CASE WHEN id % 2 = 0 THEN 'NO01' ELSE 'LE01' END AS module,
                   id AS rcid,
                   CASE WHEN id % 7 = 0 THEN NULL
                        ELSE concat('n', id) END AS nm,
                   CASE WHEN id % 2 = 0 THEN 0.0
                        ELSE round(sqrt((1 + id % 4) * (1 + id % 4)
                                   + (2 + id % 5) * (2 + id % 5)), 6)
                   END AS len,
                   round(x, 6) AS mnx,
                   CASE WHEN id % 2 = 0 THEN round(y, 6)
                        ELSE round(y + 2 + id % 5, 6) END AS mxy
            FROM ({pts}) WHERE id < 300
        """,
        "interlis_roundtrip": f"""
            SELECT id AS tid,
                   CASE WHEN id % 7 = 0 THEN NULL
                        ELSE concat('n', id) END AS nm,
                   round(sqrt((1 + id % 4) * (1 + id % 4)
                              + (2 + id % 5) * (2 + id % 5)), 6) AS len,
                   round(x, 6) AS mnx,
                   round(y + 2 + id % 5, 6) AS mxy
            FROM ({pts}) WHERE id < 300
        """,
        "sosi_roundtrip": f"""
            SELECT id,
                   round((1 + id % 4) * (2 + id % 5), 6) AS area,
                   round(x, 6) AS mnx,
                   round(y + 2 + id % 5, 6) AS mxy
            FROM ({pts}) WHERE id < 300
            UNION ALL
            -- r16 extra.sos: shared-KURVE FLATE pair (left shell split
            -- around its hole group, right reuses the edge reversed) +
            -- the TEKST point; coordinates are 0.01-unit integers
            SELECT * FROM (VALUES
              (CAST(9011 AS BIGINT), CAST(96.0 AS DOUBLE),
               CAST(0.0 AS DOUBLE), CAST(10.0 AS DOUBLE)),
              (9012, 100.0, 10.0, 10.0),
              (9013, 0.0, 5.0, 5.0)
            ) AS t(id, area, mnx, mxy)
        """,
        "dgn_roundtrip": f"""
            SELECT CAST(id % 63 AS INTEGER) AS level,
                   round((1 + id % 3) * (2 + id % 7), 6) AS area,
                   round(x, 6) AS mnx,
                   round(y + 2 + id % 7, 6) AS mxy
            FROM ({pts}) WHERE id < 300
        """,
        "s57_roundtrip": f"""
            SELECT CAST(id % 300 + 1 AS INTEGER) AS objl,
                   CAST(3 AS INTEGER) AS prim,
                   round(x % 180 - 90, 5) AS mnx,
                   round((y % 120 - 60) + 0.2 + (id % 7) * 0.05, 5) AS mxy
            FROM ({pts}) WHERE id < 300
        """,
        "arrow_roundtrip": f"""
            SELECT rid, round(w * h, 6) AS area_geom, round(w * h, 6) AS area
            FROM ({rects}) WHERE rid % 7 = 0
        """,
        "spatial_transform_tranche4": """
            SELECT * FROM (VALUES
              (CAST(1 AS BIGINT), 2743195.5, 914398.5),
              (2, 2743195.5, 914398.5),
              (3, 615000.0, 810000.0),
              (4, 500000.0, 10000000.0),
              (5, 500000.0, 0.0),
              (6, 500000.0, 10000000.0),
              (7, 0.0, 0.0),
              (8, 0.0, 0.0)
            ) AS t(id, e, n)
        """,
        "crs_tagged_transform": """
            SELECT CAST(1 AS BIGINT) AS id, -2.0 AS x, 54.0 AS y
            UNION ALL SELECT 2, -0.1276, 51.5072
            UNION ALL
            SELECT id, round(6378137.0 * radians(lon), 3) AS x,
                   round(6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2)), 3) AS y
            FROM (VALUES (CAST(3 AS BIGINT), -0.1276, 51.5072),
                         (4, 151.2093, -33.8688)) AS t(id, lon, lat)
        """,
    }
