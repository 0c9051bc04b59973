"""GeoJSON source/sink + table functions (ST_Read family analog).

The reference's ST_Read wraps GDAL's 50+ drivers through an Arrow stream
(``spatial/src/spatial/gdal/functions/st_read.cpp``). GDAL/pyogrio are not
in this container, so the formats shipped here are the pure-Python ones:

  * GeoJSON (FeatureCollection or newline-delimited) — Spark 4 Python
    DataSource with schema inference at bind time (mirrors st_read.cpp's
    bind-time Arrow schema discovery, :304-395), one partition per file
    (the reference parallelizes the same way, InitGlobal :426-428)
  * WKT/CSV — composed from spark.read.csv + ST_GeomFromText
  * GeoParquet — plain spark.read.parquet (WKB binary is the canonical form)

``st_read_meta`` / ``st_drivers`` mirror the metadata table functions
(``st_read_meta.cpp:26-56``, ``st_drivers.cpp``).
"""

from __future__ import annotations

import glob as _glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geo import wkb as WKB
from ..functions.udfs import _from_geojson


def _expand(path: str):
    from .vfs import localize

    v = localize(path, (".geojson", ".json", ".ndjson"))
    if v is not None:
        return v
    if os.path.isdir(path):
        files = sorted(
            _glob.glob(os.path.join(path, "*.geojson")) + _glob.glob(os.path.join(path, "*.json"))
            + _glob.glob(os.path.join(path, "*.ndjson"))
        )
    else:
        files = sorted(_glob.glob(path)) or [path]
    return files


def _iter_features(file_path: str):
    if file_path.endswith(".gz"):
        import gzip

        opener = lambda p: gzip.open(p, "rt", encoding="utf-8")  # noqa: E731
    else:
        opener = lambda p: open(p, "r", encoding="utf-8")  # noqa: E731
    with opener(file_path) as f:
        head = f.read(4096)
        f.seek(0)
        stripped = head.lstrip()
        if stripped.startswith("{") and '"FeatureCollection"' in head[:2048]:
            doc = json.load(f)
            yield from doc.get("features", [])
        else:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                obj = json.loads(line)
                if obj.get("type") == "FeatureCollection":
                    yield from obj.get("features", [])
                else:
                    yield obj


_JSON_SPARK_TYPES = {bool: T.BooleanType(), int: T.LongType(), float: T.DoubleType(), str: T.StringType()}


def _infer_schema(files, sample=200) -> T.StructType:
    props: dict = {}
    seen = 0
    for fp in files:
        for feat in _iter_features(fp):
            for k, v in (feat.get("properties") or {}).items():
                cur = props.get(k)
                new = _JSON_SPARK_TYPES.get(type(v), T.StringType()) if v is not None else None
                if new is None:
                    props.setdefault(k, None)
                elif cur is None:
                    props[k] = new
                elif cur != new:
                    # widen int -> double, else fall back to string
                    pair = {cur.simpleString(), new.simpleString()}
                    props[k] = T.DoubleType() if pair == {"bigint", "double"} else T.StringType()
            seen += 1
            if seen >= sample:
                break
        if seen >= sample:
            break
    fields = [T.StructField(k, t or T.StringType(), True) for k, t in sorted(props.items())]
    fields.append(T.StructField("geom", T.BinaryType(), True))
    return T.StructType(fields)


def _coords_bbox(coords):
    """(min_x, min_y, max_x, max_y) of a raw GeoJSON coordinates nest —
    cheap (no WKB build), used for the spatial-filter pushdown."""
    if not coords:
        return None
    if isinstance(coords[0], (int, float)):
        x, y = float(coords[0]), float(coords[1])
        return x, y, x, y
    box = None
    for c in coords:
        b = _coords_bbox(c)
        if b is None:
            continue
        box = b if box is None else (
            min(box[0], b[0]), min(box[1], b[1]), max(box[2], b[2]), max(box[3], b[3])
        )
    return box


def _filter_predicate(filters):
    """Compile pushed-down attribute filters into one dict->bool closure.
    Unknown filter shapes are skipped (Spark re-applies everything above)."""
    from pyspark.sql import datasource as ds

    preds = []
    for flt in filters:
        neg = False
        if isinstance(flt, ds.Not):
            flt, neg = flt.child, True
        if not hasattr(flt, "attribute") or len(flt.attribute) != 1:
            continue
        col = flt.attribute[0]
        if isinstance(flt, ds.EqualTo):
            base = lambda p, c=col, v=flt.value: p.get(c) == v
        elif isinstance(flt, ds.GreaterThan):
            base = lambda p, c=col, v=flt.value: p.get(c) is not None and p.get(c) > v
        elif isinstance(flt, ds.GreaterThanOrEqual):
            base = lambda p, c=col, v=flt.value: p.get(c) is not None and p.get(c) >= v
        elif isinstance(flt, ds.LessThan):
            base = lambda p, c=col, v=flt.value: p.get(c) is not None and p.get(c) < v
        elif isinstance(flt, ds.LessThanOrEqual):
            base = lambda p, c=col, v=flt.value: p.get(c) is not None and p.get(c) <= v
        elif isinstance(flt, ds.In):
            base = lambda p, c=col, v=tuple(flt.value): p.get(c) in v
        elif isinstance(flt, ds.IsNull):
            base = lambda p, c=col: p.get(c) is None
        elif isinstance(flt, ds.IsNotNull):
            base = lambda p, c=col: p.get(c) is not None
        elif isinstance(flt, ds.StringStartsWith):
            base = lambda p, c=col, v=flt.value: isinstance(p.get(c), str) and p[c].startswith(v)
        else:
            continue
        preds.append((base, neg))
    if not preds:
        return None

    def ok(props):
        for base, neg in preds:
            r = base(props)
            if neg:
                r = not r
            if not r:
                return False
        return True

    return ok


def read_geojson(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    columns: list | None = None,
    bbox: tuple | None = None,
) -> DataFrame:
    """ST_Read for GeoJSON. One input partition per file.

    Pushdown (the reference does attribute->OGR-SQL and spatial filter
    pushdown, ``st_read.cpp:56-59,478,681-682``):

    * **filters** — Spark 4.1's Python DataSource ``pushFilters`` hook:
      comparison/null/IN/prefix filters on property columns are evaluated on
      the raw JSON dict BEFORE the geometry is converted to WKB (the
      expensive step). Spark still re-applies every filter above, so the
      pushdown is purely an early-out.
    * **columns=** — projection: only the named property columns are decoded
      (``geom`` always included unless excluded explicitly).
    * **bbox=(min_x, min_y, max_x, max_y)** — spatial filter: features whose
      raw-coordinate bbox misses the window are skipped pre-WKB.
    """
    files = _expand(path)
    schema = schema or _infer_schema(files)
    if columns is not None:
        keep = set(columns)
        schema = T.StructType([f for f in schema.fields if f.name in keep])
    prop_fields = [f for f in schema.fields if f.name != "geom"]
    want_geom = any(f.name == "geom" for f in schema.fields)

    try:
        from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

        # unique per-call registration name: Spark resolves python
        # sources BY NAME; a fixed name + fresh closure state hands a
        # second read the stale reader (schema mismatch)
        import uuid as _uuid

        _ds_name = f"geojson_{_uuid.uuid4().hex[:12]}"

        try:  # required for the pushFilters hook to be honored (4.1+)
            spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
            push_enabled = True
        except Exception:
            push_enabled = False

        class _Reader(DataSourceReader):
            def __init__(self, files, schema):
                self._files = files
                self._schema = schema
                self._pred = None

            if push_enabled:  # defining the hook with pushdown off is an error

                def pushFilters(self, filters):
                    self._pred = _filter_predicate(filters)
                    return filters  # best-effort early-out; Spark re-applies all

            def partitions(self):
                return [InputPartition(f) for f in self._files]

            def read(self, partition):
                fp = partition.value
                casts = {f.name: f.dataType for f in prop_fields}
                pred = self._pred
                for feat in _iter_features(fp):
                    p = feat.get("properties") or {}
                    if pred is not None and not pred(p):
                        continue
                    geom = feat.get("geometry")
                    if bbox is not None:
                        gb = _coords_bbox((geom or {}).get("coordinates")) if geom else None
                        if gb is None or gb[0] > bbox[2] or gb[2] < bbox[0] or gb[1] > bbox[3] or gb[3] < bbox[1]:
                            continue
                    row = []
                    for f_ in prop_fields:
                        v = p.get(f_.name)
                        if v is not None and isinstance(casts[f_.name], T.StringType) and not isinstance(v, str):
                            v = json.dumps(v)
                        row.append(v)
                    if want_geom:
                        row.append(WKB.to_wkb(_from_geojson(geom)) if geom else None)
                    yield tuple(row)

        class GeoJSONSource(DataSource):
            @classmethod
            def name(cls):
                return _ds_name

            def schema(self):
                return schema

            def reader(self, schema):
                return _Reader(files, schema)

        spark.dataSource.register(GeoJSONSource)
        return spark.read.format(_ds_name).schema(schema).load(path)
    except ImportError:
        # older PySpark: parallelize driver-side (small files only)
        rows = []
        for fp in files:
            for feat in _iter_features(fp):
                p = feat.get("properties") or {}
                row = [p.get(f_.name) for f_ in prop_fields]
                geom = feat.get("geometry")
                if want_geom:
                    row.append(WKB.to_wkb(_from_geojson(geom)) if geom else None)
                rows.append(tuple(row))
        return spark.createDataFrame(rows, schema)


def write_geojson(
    df: DataFrame, path: str, geom_col: str = "geom", mode: str = "overwrite",
    style: str = "lines", max_rows: int = 10_000_000,
) -> None:
    """COPY TO (FORMAT GDAL) analog.

    ``style="lines"`` (default, the scale path): newline-delimited GeoJSON
    features written in parallel, one file per partition like any Spark
    sink. ``style="collection"``: a single RFC 7946 FeatureCollection
    document at ``path`` — feature strings are still rendered distributed,
    then streamed through the driver (bounded by ``max_rows``), since one
    JSON document is inherently a single file."""
    from ..functions import udfs

    props = [c for c in df.columns if c != geom_col]
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(*[F.col(c).alias(c) for c in props]).alias("properties"),
        )
    )
    gj = udfs.st_asgeojson(F.col(geom_col))
    # splice the geometry JSON into the feature object
    line = F.concat(
        F.regexp_replace(feature, r"\}$", ""),
        F.lit(',"geometry":'),
        F.coalesce(gj, F.lit("null")),
        F.lit("}"),
    )
    lines = df.select(line.alias("value"))
    if style == "lines":
        lines.write.mode(mode).text(path)
        return
    if style != "collection":
        raise ValueError(f"write_geojson: unknown style {style!r} (lines|collection)")
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        f.write('{"type":"FeatureCollection","features":[\n')
        for r in lines.toLocalIterator():
            n += 1
            if n > max_rows:
                raise ValueError(
                    f"write_geojson: more than max_rows={max_rows} rows for a single "
                    "FeatureCollection document; use style='lines' for sharded output"
                )
            f.write(("," if n > 1 else "") + r.value + "\n")
        f.write("]}\n")


_X_NAMES = ("lon", "longitude", "lng", "long", "x", "easting")
_Y_NAMES = ("lat", "latitude", "y", "northing")


def read_geojsonseq(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    columns: list | None = None,
    bbox: tuple | None = None,
) -> DataFrame:
    """GeoJSONSeq / newline-delimited GeoJSON (GDAL's "GeoJSONSeq"
    driver; RFC 8142 record separators tolerated) on Spark's SPLITTABLE
    text source.

    This is the scale lane the whole-file GeoJSON reader can't be: that
    one is one-partition-per-file (a FeatureCollection has no safe split
    points), while a .geojsonl shatters into byte-range tasks — a single
    100 GB file reads with full cluster parallelism, which is why
    GeoJSONSeq is the interchange shape at pipeline scale. Parsing runs
    in Arrow-batched mapInPandas; the uniform ST_Read option contract
    applies (``columns=`` prunes attributes, geom always kept;
    ``bbox=`` skips features on the raw-coordinate bbox BEFORE the WKB
    build).

    Schema: inferred from the head of the (first) file driver-side, or
    pass ``schema=`` to skip the sampling read entirely."""
    import pandas as pd

    if schema is None:
        if os.path.isdir(path):
            # spark.write.text layout: sample one part file
            cands = sorted(
                f for f in _glob.glob(os.path.join(path, "part-*"))
                if not f.endswith(".crc")
            ) or _expand(path)
        else:
            cands = _expand(path)
        if isinstance(cands, str):
            cands = [cands]
        # walk part files until the sample fills — leading parts of a
        # sparse .text write are often empty
        schema = _infer_schema(cands)
    if columns is not None:
        keep = set(columns) | {"geom"}
        schema = T.StructType([f for f in schema.fields if f.name in keep])
    prop_fields = [f for f in schema.fields if f.name != "geom"]
    casts = {f.name: f.dataType for f in prop_fields}

    def parse(batches):
        for pdf in batches:
            cols: dict = {f.name: [] for f in prop_fields}
            geoms = []
            for line in pdf["value"]:
                line = line.strip().lstrip("\x1e")  # RFC 8142 RS
                if not line:
                    continue
                try:
                    feat = json.loads(line)
                except ValueError:
                    continue
                if feat.get("type") == "FeatureCollection":
                    feats = feat.get("features", [])
                else:
                    feats = [feat]
                for ft in feats:
                    geom = ft.get("geometry")
                    if bbox is not None:
                        gb = _coords_bbox((geom or {}).get("coordinates")) if geom else None
                        if (
                            gb is None or gb[0] > bbox[2] or gb[2] < bbox[0]
                            or gb[1] > bbox[3] or gb[3] < bbox[1]
                        ):
                            continue
                    p = ft.get("properties") or {}
                    for f_ in prop_fields:
                        v = p.get(f_.name)
                        if (
                            v is not None
                            and isinstance(casts[f_.name], T.StringType)
                            and not isinstance(v, str)
                        ):
                            v = json.dumps(v)
                        cols[f_.name].append(v)
                    geoms.append(WKB.to_wkb(_from_geojson(geom)) if geom else None)
            out = {k: pd.Series(v, dtype="object") for k, v in cols.items()}
            out["geom"] = pd.Series(geoms, dtype="object")
            yield pd.DataFrame(out)

    out_schema = T.StructType(
        prop_fields + [T.StructField("geom", T.BinaryType(), True)]
    )
    return spark.read.text(path).mapInPandas(parse, out_schema)


def write_geojsonseq(df: DataFrame, path: str, geom_col: str = "geom") -> DataFrame:
    """Newline-delimited GeoJSON sink — one feature per line, written
    DISTRIBUTED (spark.write.text directory of part files, the layout
    GDAL's GeoJSONSeq driver and jq-style consumers read natively). No
    max_rows guard needed: nothing is collected."""
    from ..functions.udfs import st_asgeojson

    props = [c for c in df.columns if c != geom_col]
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(*[F.col(c).alias(c) for c in props]).alias("properties"),
        )
    )
    # splice the geometry JSON in by hand (to_json would string-escape
    # the nested object): drop to_json's closing brace, append the raw
    # geometry JSON, close
    line = F.concat(
        feature.substr(F.lit(1), F.length(feature) - 1),
        F.lit(',"geometry":'),
        F.coalesce(st_asgeojson(F.col(geom_col)), F.lit("null")),
        F.lit("}"),
    )
    df.select(line.alias("value")).write.mode("overwrite").text(path)
    return df.sparkSession.createDataFrame([(path,)], "path string")


def read_wkt_csv(
    spark: SparkSession,
    path: str,
    wkt_col: str = "wkt",
    x_col: str | None = None,
    y_col: str | None = None,
    **csv_opts,
) -> DataFrame:
    """ST_Read for CSV: csv scan (pushdown-capable) + geometry parse.

    Geometry sources, in GDAL's CSV-driver order of precedence
    (``X_POSSIBLE_NAMES``/``Y_POSSIBLE_NAMES`` analog):

      1. explicit ``x_col=``/``y_col=`` numeric columns → POINT (all-JVM,
         no WKT parse);
      2. a ``wkt_col`` (default ``wkt``) column when present;
      3. auto-detected lon/lat-style headers (lon/longitude/lng/x,
         lat/latitude/y — case-insensitive) → POINT.
    """
    from ..functions import udfs

    df = spark.read.csv(path, header=True, inferSchema=True, **csv_opts)
    if x_col is None and y_col is None and wkt_col not in df.columns:
        lower = {c.lower(): c for c in df.columns}
        x_col = next((lower[n] for n in _X_NAMES if n in lower), None)
        y_col = next((lower[n] for n in _Y_NAMES if n in lower), None)
    if x_col is not None or y_col is not None:
        if not (x_col and y_col):
            raise ValueError("x_col= and y_col= must be given together")
        return df.withColumn(
            "geom",
            udfs.st_point(F.col(x_col).cast("double"), F.col(y_col).cast("double")),
        )
    if wkt_col not in df.columns:
        raise ValueError(
            f"CSV has neither a {wkt_col!r} column nor recognizable "
            f"lon/lat headers (columns: {df.columns}); pass wkt_col= or x_col=/y_col="
        )
    return df.withColumn("geom", udfs.st_geomfromtext(F.col(wkt_col))).drop(wkt_col)


def write_wkt_csv(
    df: DataFrame, path: str, geom_col: str = "geom", wkt_col: str = "wkt",
    mode: str = "overwrite", **csv_opts,
) -> None:
    """COPY TO (FORMAT CSV) analog: geometry serialized as WKT, written in
    parallel through Spark's csv sink (one file per partition)."""
    from ..functions import udfs

    out = df.withColumn(wkt_col, udfs.st_astext(F.col(geom_col))).drop(geom_col)
    out.write.mode(mode).option("header", True).options(**csv_opts).csv(path)


def st_read_meta(spark: SparkSession, path: str) -> DataFrame:
    """Layer metadata (ST_Read_Meta analog, ``st_read_meta.cpp:26-56``)."""
    rows = []
    for fp in _expand(path):
        n = 0
        gtypes = set()
        bbox = [None] * 4
        for feat in _iter_features(fp):
            n += 1
            g = feat.get("geometry")
            if g:
                gtypes.add(g.get("type", "?"))
        rows.append((fp, "GeoJSON", n, ",".join(sorted(gtypes)), "EPSG:4326"))
    return spark.createDataFrame(
        rows, "file string, driver string, feature_count long, geometry_types string, crs string"
    )


def st_drivers(spark: SparkSession) -> DataFrame:
    """Available format drivers (ST_Drivers analog). GDAL is absent in this
    environment, so the list is the built-in pure-Python surface."""
    rows = [
        ("GeoJSON", "GeoJSON (FeatureCollection / newline-delimited, read/write)", True, True, True, ""),
        ("GeoParquet", "Parquet with WKB geometry (canonical form)", True, True, True, ""),
        ("CSV", "CSV with WKT geometry column (read/write)", True, True, True, ""),
        ("ESRI Shapefile", ".shp/.shx/.dbf (pure-Python reader/writer)", True, True, True, ""),
        ("FlatGeobuf", "FlatGeobuf, packed-Rtree bbox pushdown (read/write)", True, True, True, ""),
        ("GPKG", "GeoPackage (stdlib sqlite3 reader/writer)", True, True, True, ""),
        ("OSM", "OpenStreetMap PBF (read-only, blob-parallel)", False, False, True, ""),
        ("KML", "OGC KML 2.2 placemarks (read/write, stdlib xml)", True, True, True, ""),
        ("GPX", "Topografix GPX waypoints/routes/tracks (read/write)", True, True, True, ""),
        ("GML", "OGC GML 2/3.2 feature collections (read/write)", True, True, True, ""),
        ("TopoJSON", "TopoJSON topologies, shared-arc decode (read-only)", False, False, True, ""),
        ("DXF", "AutoCAD ASCII DXF entities (read/write)", True, True, True, ""),
        ("XLSX", "OOXML spreadsheet, one sheet per layer (read/write)", True, True, True, ""),
        ("MapInfo File", "MapInfo MIF/MID interchange pair + TAB binary dataset (read/write)", True, True, True, ""),
        ("OpenFileGDB", "Esri FileGDB v10 subset (.gdbtable/.gdbtablx, read/write)", True, True, True, ""),
        ("Arrow", "Arrow IPC / Feather v2, batch-parallel read (read/write)", True, True, True, ""),
        ("GeoRSS", "RSS/Atom feeds with GeoRSS-Simple / W3C geo / GML where (read/write)", True, True, True, ""),
        ("PGDump", "PostgreSQL/PostGIS SQL dump, COPY + hex EWKB (read/write)", True, True, True, ""),
        ("SQLite", "SpatiaLite BLOB-geometry database, stdlib sqlite3 (read/write)", True, True, True, ""),
        ("ESRIJSON", "ArcGIS REST FeatureSet JSON, Esri ring winding (read/write)", True, True, True, ""),
        ("netCDF", "netCDF classic CDF-1/CDF-2, CF point series + grids (read/write)", True, True, True, ""),
        ("MVT", "Mapbox Vector Tiles, protobuf wire format per spec 2.1 (read/write)", True, True, True, ""),
        ("GeoJSONSeq", "newline-delimited GeoJSON on the splittable text source (read/write)", True, True, True, ""),
        ("PostgreSQL", "live PostGIS over Spark JDBC: GiST-served bbox pushdown, staged write-back (read/write)", True, True, True, ""),
        ("MSSQLSpatial", "live SQL Server spatial over Spark JDBC: Filter() index pushdown (read-only)", False, False, True, ""),
        ("OCI", "live Oracle Spatial (SDO_GEOMETRY) over Spark JDBC: SDO_FILTER R-tree pushdown (read-only)", False, False, True, ""),
        ("WFS", "OGC WFS 2.0/1.1 remote feature services: server-side BBOX pushdown, paged GetFeature (read-only)", False, False, True, ""),
        ("ODS", "OpenDocument spreadsheet, one table per layer (read/write)", True, True, True, ""),
        ("OGR_VRT", "OGR virtual layers: XML wrapper deriving geometry from any other driver's output (read-only)", False, False, True, ""),
        ("OGR_GMT", "GMT ASCII vector (@VGMT1.0 multisegment, read/write)", True, True, True, ""),
        ("DGN", "MicroStation DGN v7 (ISFF elements, 2D line/linestring/shape, read/write)", True, True, True, ""),
        ("S57", "IHO S-57 ENC cells (ISO 8211 container; FRID/VRID/SG2D/FSPT assembly, read/write)", True, True, True, ""),
        ("SOSI", "Kartverket SOSI (dot-hierarchy text; PUNKT/KURVE/FLATE with KURVE-ref ring assembly, read/write)", True, True, True, ""),
        ("Interlis 1", "INTERLIS 1 transfer format (.itf; OBJE rows + STPT/LIPT/ARCP/ELIN line sequences, model-less string attrs, read/write)", True, True, True, ""),
        ("SDTS", "USGS SDTS TVP transfer (.DDF; CATD-enumerated modules, IREF-scaled SADR coordinates, point/line records + ATID attribute refs, read/write)", True, True, True, ""),
    ]
    return spark.createDataFrame(
        rows,
        "short_name string, long_name string, can_create boolean, can_copy boolean, can_open boolean, help_url string",
    )


def st_generatepoints(spark: SparkSession, min_x, min_y, max_x, max_y, count: int, seed: int = 0) -> DataFrame:
    """Uniform random points in a box (``st_generatepoints.cpp:101-110``).

    Deterministic and distributed: xxhash64-derived uniforms over
    spark.range — no driver-side data, reproducible across runs/partitions
    (unlike rand(), which depends on partitioning)."""
    from ..functions import udfs

    big = F.lit(2**53)
    df = spark.range(count)
    ux = (F.abs(F.xxhash64(F.col("id") * 2, F.lit(seed))) % big) / big
    uy = (F.abs(F.xxhash64(F.col("id") * 2 + 1, F.lit(seed))) % big) / big
    x = F.lit(float(min_x)) + ux * (float(max_x) - float(min_x))
    y = F.lit(float(min_y)) + uy * (float(max_y) - float(min_y))
    return df.select(
        "id", x.alias("x"), y.alias("y"), udfs.st_point(x, y).alias("geom")
    )
