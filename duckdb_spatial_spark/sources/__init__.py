"""Sources & sinks (ST_Read / COPY TO analogs)."""

from __future__ import annotations

import os
import re


_GEOM_COL_NAMES = ("geom", "geometry", "wkb_geometry")


def _geom_col(df):
    return next((c for c in _GEOM_COL_NAMES if c in df.columns), None)


def _apply_read_filters(df, bbox, columns):
    """Uniform ST_Read option semantics across every format
    (``st_read.cpp:681-682``: ``spatial_filter_box`` + ``columns``):

      * ``bbox=(min_x, min_y, max_x, max_y)`` keeps rows whose geometry
        EXTENT intersects the window (inclusive — GDAL's
        SetSpatialFilterRect envelope test). Formats with native pruning
        (FlatGeobuf packed R-tree, GeoParquet bbox sidecars) prune before
        this recheck, so the recheck only normalizes semantics.
      * ``columns=[...]`` projects the listed attribute columns; the
        geometry column is always kept unless explicitly excluded by
        naming no geometry and passing ``keep_geom=False``-style layout
        (not part of the GDAL contract, so geometry always survives).
    """
    from pyspark.sql import functions as F

    gcol = _geom_col(df)
    if bbox is not None:
        if gcol is None:
            raise ValueError("bbox= filter needs a geometry column")
        from ..functions import udfs
        from ..geo import geom as G
        from ..geo import wkb as WKB

        x0, y0, x1, y1 = (float(v) for v in bbox)
        env = F.lit(WKB.to_wkb(
            G.polygon([[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]])
        ))
        df = df.filter(udfs.st_intersects_extent(F.col(gcol), env))
    if columns is not None:
        keep = [c for c in columns]
        if gcol is not None and gcol not in keep:
            keep.append(gcol)
        missing = [c for c in keep if c not in df.columns]
        if missing:
            raise ValueError(
                f"columns= names not in the source: {missing} "
                f"(available: {df.columns})"
            )
        df = df.select(*keep)
    return df


# format key -> (aliases incl. the GDAL driver short/long name) for the
# allowed_drivers check; compared case-insensitively
_DRIVER_ALIASES = {
    "shapefile": {"shapefile", "shp", "esri shapefile"},
    "flatgeobuf": {"flatgeobuf", "fgb"},
    "geopackage": {"geopackage", "gpkg"},
    "geojson": {"geojson", "json", "ndjson"},
    "geojsonseq": {"geojsonseq", "geojsonl"},
    "osm": {"osm", "osm.pbf"},
    "geoparquet": {"geoparquet", "parquet"},
    "wkt_csv": {"wkt_csv", "csv"},
    "kml": {"kml"}, "gpx": {"gpx"}, "gml": {"gml"},
    "topojson": {"topojson"}, "dxf": {"dxf"}, "xlsx": {"xlsx"},
    "ods": {"ods"},
    "mapinfo": {"mapinfo", "mif", "mapinfo file"},
    "mapinfo_tab": {"mapinfo_tab", "tab", "mapinfo file"},
    "filegdb": {"filegdb", "gdb", "openfilegdb"},
    "arrow": {"arrow", "feather", "ipc"},
    "georss": {"georss"}, "pgdump": {"pgdump", "pgdump (sql)"},
    "spatialite": {"spatialite", "sqlite"},
    "esrijson": {"esrijson"}, "netcdf": {"netcdf", "nc"},
    "mvt": {"mvt", "mvt (mapbox vector tile)"},
    "vrt": {"vrt", "ogr_vrt"}, "gmt": {"gmt", "ogr_gmt"},
    "sosi": {"sosi"},
    "interlis": {"interlis", "interlis 1", "ili", "itf"},
    "sdts": {"sdts"},
    "dgn": {"dgn"},
    "s57": {"s57", "iho s-57 (enc)", "enc"},
}

# formats with a layer/sheet concept + their enumeration functions; used
# by sequential_layer_scan to union EVERY layer when no layer= is given
_LAYERED = {
    "geopackage": ("layer", lambda p: [r["table"] for r in gpkg_layers(p)]),
    "spatialite": ("layer", lambda p: [r["table"] for r in spatialite_layers(p)]),
    "filegdb": ("layer", lambda p: list(gdb_layers(p))),
    "xlsx": ("sheet", lambda p: list(xlsx_sheets(p))),
    "ods": ("sheet", lambda p: list(ods_sheets(p))),
    "vrt": ("layer", lambda p: list(vrt_layers(p))),
}


def st_read(
    spark,
    path: str,
    format: str | None = None,
    open_options: list | None = None,
    allowed_drivers: list | None = None,
    sibling_files: list | None = None,
    sequential_layer_scan: bool = False,
    max_batch_size: int | None = None,
    keep_wkb: bool = False,
    **options,
):
    """Generic ST_Read: dispatch on format (or sniff the extension), return
    a DataFrame with a WKB ``geom``/``geometry`` column. The reference's
    ``ST_Read`` does the same via GDAL driver sniffing
    (``spatial/src/spatial/gdal/functions/st_read.cpp``).

    Every format accepts the GDAL option contract uniformly:
    ``bbox=(min_x, min_y, max_x, max_y)`` (alias ``spatial_filter_box``)
    keeps features whose extent intersects the window — pushed into the
    codec where the format carries an index (FlatGeobuf R-tree, GeoParquet
    bbox-sidecar row-group stats), a JVM/Arrow filter elsewhere — and
    ``columns=[...]`` projects attributes (geometry always kept).

    GDAL named-parameter parity (``st_read.cpp:684-692``), uniform here:
      * ``open_options=['KEY=VALUE', ...]`` — driver options in GDAL's
        string form; keys lowercase-map onto the reader's own keyword
        arguments (an explicit Python kwarg wins on conflict; a key no
        reader parameter matches raises the reader's own TypeError —
        loud, unlike GDAL's silent-warn);
      * ``allowed_drivers=['GPKG', ...]`` — restricts dispatch: if the
        resolved format (by name or GDAL driver alias) is not in the
        list, the read fails with the GDAL-style not-recognized error;
      * ``sibling_files=[...]`` — restricts sidecar discovery to the
        listed files (honored by the sidecar-carrying formats, e.g.
        shapefile .dbf; formats without sidecars ignore it);
      * ``sequential_layer_scan=True`` — for multi-layer containers
        (GeoPackage, SpatiaLite, FileGDB, XLSX) with no ``layer=``:
        scan EVERY layer sequentially and union the results
        (allowMissingColumns), instead of the default first/single
        layer;
      * ``max_batch_size=N`` — caps rows per scan batch (GDAL
        MAX_FEATURES_IN_BATCH; ``st_read.cpp:275-283``). Must be
        positive (binder parity). Formats with driver-side row-range
        partitioning (GeoPackage) honor it as a per-partition row cap;
        for the rest, batch sizing is governed by Spark's Arrow batch
        size (``spark.sql.execution.arrow.maxRecordsPerBatch``), which
        already bounds worker memory the way MAX_FEATURES_IN_BATCH
        bounds GDAL's;
      * ``keep_wkb=True`` — the reference returns the raw WKB_BLOB
        column instead of parsing into GEOMETRY (``st_read.cpp:285-287``).
        This engine's GEOMETRY representation IS standard WKB bytes, so
        the distinction collapses: the flag is accepted for call-site
        parity and validated, and the returned geometry is byte-for-byte
        the raw WKB either way."""
    if max_batch_size is not None:
        if int(max_batch_size) <= 0:
            raise ValueError("st_read: 'max_batch_size' parameter must be positive")
    if keep_wkb not in (True, False):
        raise ValueError("st_read: 'keep_wkb' parameter must be a boolean")
    if open_options:
        for kv in open_options:
            k, _, v = str(kv).partition("=")
            options.setdefault(k.lower(), v)
    # GDAL addressing convention for remote feature services:
    # ST_Read('WFS:https://host/wfs', layer='ns:type') — the layer (or a
    # typename= option) names the feature type; bbox pushes server-side
    if isinstance(path, str) and path[:4].upper() == "WFS:":
        typename = options.pop("typename", None) or options.pop("layer", None)
        if not typename:
            raise ValueError(
                "st_read: WFS paths need the feature type — pass "
                "layer='ns:typename' (or typename=)"
            )
        if allowed_drivers is not None and not (
            {"wfs"} & {str(a).lower() for a in allowed_drivers}
        ):
            raise ValueError(
                f"st_read: {path!r} was recognized as 'wfs', which is "
                f"not in allowed_drivers={sorted(allowed_drivers)!r}"
            )
        # pop BOTH aliases unconditionally (mirroring the non-WFS path):
        # a short-circuit here left spatial_filter_box in options and
        # forwarded it to read_wfs as an unknown kwarg
        _bb = options.pop("bbox", None)
        _sfb = options.pop("spatial_filter_box", None)
        bbox = _bb if _bb is not None else _sfb
        columns = options.pop("columns", None)
        df = read_wfs(spark, path[4:], typename, bbox=bbox, **options)
        return _apply_read_filters(df, bbox, columns)
    bbox = options.pop("bbox", None)
    sfb = options.pop("spatial_filter_box", None)
    if bbox is None:
        bbox = sfb
    columns = options.pop("columns", None)
    fmt = _resolve_format(path, format)
    if allowed_drivers is not None:
        allowed = {str(a).lower() for a in allowed_drivers}
        if fmt is None:
            raise ValueError(
                f"st_read: cannot verify allowed_drivers for {path!r} "
                "(format not sniffable) — pass format= explicitly"
            )
        if not (_DRIVER_ALIASES.get(fmt, {fmt}) & allowed):
            raise ValueError(
                f"st_read: {path!r} was recognized as {fmt!r}, which is "
                f"not in allowed_drivers={sorted(allowed)!r}"
            )
    if sibling_files is not None and fmt in ("shapefile", "shp"):
        options["sibling_files"] = list(sibling_files)
    if max_batch_size is not None and fmt in ("gpkg", "geopackage"):
        options.setdefault("max_rows_per_batch", int(max_batch_size))
    if sequential_layer_scan and fmt in _LAYERED:
        key, enum = _LAYERED[fmt]
        if key not in options:
            from functools import reduce

            names = enum(path)
            if not names:
                raise ValueError(f"st_read: {path!r} exposes no layers")
            dfs = [
                _apply_read_filters(
                    _st_read_dispatch(spark, path, fmt, bbox,
                                      **{**options, key: n}),
                    bbox, columns,
                )
                for n in names
            ]
            return reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
            )
    df = _st_read_dispatch(spark, path, fmt, bbox, **options)
    return _apply_read_filters(df, bbox, columns)


def _resolve_format(path, format):
    """Format key for a path (explicit format= wins; else extension sniff
    using the dispatcher's own table). Archives resolve inside dispatch —
    this pre-resolution only feeds allowed_drivers / layer handling, so a
    non-sniffable path returns None and dispatch decides."""
    if format:
        return format.lower()
    try:
        return _st_read_sniff(path if isinstance(path, str) else path[0])
    except Exception:  # noqa: BLE001 - let dispatch raise its own error
        return None


def _st_read_sniff(p: str):
    p = p.lower()
    for ext, f in (
            (".shp", "shapefile"), (".fgb", "flatgeobuf"), (".gpkg", "geopackage"),
            (".geojsonl.gz", "geojsonseq"), (".geojsons.gz", "geojsonseq"),
            (".geojsonl", "geojsonseq"), (".geojsons", "geojsonseq"),
            (".geojson", "geojson"), (".ndjson", "geojson"), (".json", "geojson"),
            (".osm.pbf", "osm"), (".pbf", "osm"), (".parquet", "geoparquet"),
            (".csv", "wkt_csv"), (".kml", "kml"), (".gpx", "gpx"), (".gml", "gml"),
            (".topojson", "topojson"), (".dxf", "dxf"), (".xlsx", "xlsx"),
            (".ods", "ods"),
            (".mif", "mapinfo"), (".tab", "mapinfo_tab"), (".gdb", "filegdb"),
            (".gdbtable", "filegdb"),
            (".arrow", "arrow"), (".feather", "arrow"), (".arrows", "arrow"),
            (".rss", "georss"), (".georss", "georss"), (".atom", "georss"),
            (".sql", "pgdump"), (".sqlite", "spatialite"), (".splite", "spatialite"),
            (".esrijson", "esrijson"), (".nc", "netcdf"), (".cdf", "netcdf"),
            (".mvt", "mvt"),
            (".vrt", "vrt"), (".gmt", "gmt"), (".dgn", "dgn"), (".000", "s57"),
            (".031", "s57"),  # exchange-set CATALOG.031 (r16)
            (".sos", "sosi"), (".itf", "interlis"), (".ddf", "sdts"),
    ):
        if p.endswith(ext):
            return f
    return None


def _st_read_dispatch(spark, path: str, format: str | None, bbox, **options):
    from .vfs import localize

    local = localize(path)
    if local is not None:
        if not local:
            raise FileNotFoundError(f"{path!r}: archive matched no files")
        path = local[0] if len(local) == 1 else local

    fmt = (format or "").lower()
    if not fmt:
        cands = path if isinstance(path, list) else [path]
        for c in cands:
            fmt = _st_read_sniff(c)
            if fmt:
                break
        if not fmt:
            raise ValueError(f"cannot sniff format from {path!r}; pass format=")
    if isinstance(path, list):
        # multi-member archive: keep members of the dispatched format; the
        # per-format readers accept a single path, so recurse + union
        keep = [p for p in path if _st_read_sniff(p) == fmt]
        if not keep:
            raise ValueError(f"no archive member matches format {fmt!r}")
        if len(keep) > 1:
            from functools import reduce

            dfs = [_st_read_dispatch(spark, p, fmt, bbox, **options) for p in keep]
            return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
        path = keep[0]
    if fmt in ("shapefile", "shp"):
        return read_shapefile(spark, path, **options)
    if fmt in ("flatgeobuf", "fgb"):
        # native pushdown: the file's packed Hilbert R-tree prunes to
        # bbox-overlap candidates before the uniform recheck
        return read_flatgeobuf(spark, path, bbox=bbox, **options)
    if fmt in ("geopackage", "gpkg"):
        return read_gpkg(spark, path, **options)
    if fmt == "geojson":
        return read_geojson(spark, path, **options)
    if fmt == "geojsonseq":
        # native early-skip on raw coordinates pre-WKB; the uniform
        # recheck above normalizes the semantics
        return read_geojsonseq(spark, path, bbox=bbox, **options)
    if fmt == "osm":
        return read_osm(spark, path, **options)
    if fmt in ("geoparquet", "parquet"):
        df = spark.read.parquet(path)
        from .geoparquet import read_geo_key

        gk = read_geo_key(path)
        if gk:
            # spec GeoParquet: honor the footer's primary_column — a
            # non-standard name gets aliased so the uniform geometry
            # contract (geom/geometry) holds downstream
            prim = gk.get("primary_column")
            gcol = prim or "geom"
            if prim and prim in df.columns and prim not in _GEOM_COL_NAMES:
                df = df.withColumnRenamed(prim, "geom")
                gcol = "geom"
            # CRS tag (r13, same convention as read_shapefile/.prj and
            # read_gpkg/srs): the footer's per-column crs — a WKT/proj
            # string as written, or spec-GeoParquet PROJJSON reduced to
            # its EPSG authority code — lands in the geom StructField
            # metadata for functions.crs.st_transform_tagged
            cmeta = (gk.get("columns") or {}).get(prim or "geom") or {}
            crs = cmeta.get("crs")
            if isinstance(crs, dict):
                cid = crs.get("id") or {}
                crs = (
                    f"{cid.get('authority')}:{cid.get('code')}"
                    if cid.get("authority") and cid.get("code") is not None
                    else None
                )
            if crs and gcol in df.columns:
                df = df.withMetadata(gcol, {"crs": str(crs)})
        if bbox is not None:
            from pyspark.sql import functions as F

            from ..plans.pruning import BBOX_COLS

            if all(c in df.columns for c in BBOX_COLS):
                # native pushdown: bbox-sidecar conjuncts reach the scan's
                # PushedFilters -> row-group skipping before the recheck
                x0, y0, x1, y1 = (float(v) for v in bbox)
                df = df.filter(
                    (F.col(BBOX_COLS[0]) <= x1) & (F.col(BBOX_COLS[2]) >= x0)
                    & (F.col(BBOX_COLS[1]) <= y1) & (F.col(BBOX_COLS[3]) >= y0)
                )
        return df
    if fmt in ("wkt_csv", "csv"):
        return read_wkt_csv(spark, path, **options)
    if fmt == "kml":
        return read_kml(spark, path, **options)
    if fmt == "gpx":
        return read_gpx(spark, path, **options)
    if fmt == "gml":
        return read_gml(spark, path, **options)
    if fmt == "vrt":
        return read_vrt(spark, path, **options)
    if fmt == "gmt":
        return read_gmt(spark, path, **options)
    if fmt == "sosi":
        return read_sosi(spark, path, **options)
    if fmt == "interlis":
        return read_interlis(spark, path, **options)
    if fmt == "sdts":
        return read_sdts(spark, path, **options)
    if fmt == "dgn":
        return read_dgn(spark, path, **options)
    if fmt == "s57":
        return read_s57(spark, path, **options)
    if fmt == "topojson":
        return read_topojson(spark, path, **options)
    if fmt == "dxf":
        return read_dxf(spark, path, **options)
    if fmt == "xlsx":
        return read_xlsx(spark, path, **options)
    if fmt == "ods":
        return read_ods(spark, path, **options)
    if fmt in ("mapinfo", "mif"):
        return read_mif(spark, path, **options)
    if fmt in ("mapinfo_tab", "tab"):
        return read_tab(spark, path, **options)
    if fmt in ("filegdb", "gdb", "openfilegdb"):
        return read_gdb(spark, path, **options)
    if fmt in ("arrow", "feather", "ipc"):
        return read_arrow_ipc(spark, path, **options)
    if fmt == "georss":
        return read_georss(spark, path, **options)
    if fmt == "pgdump":
        return read_pgdump(spark, path, **options)
    if fmt in ("spatialite", "sqlite"):
        return read_spatialite(spark, path, **options)
    if fmt == "esrijson":
        return read_esrijson(spark, path, **options)
    if fmt in ("netcdf", "nc", "cdf"):
        from .netcdf3 import read_netcdf

        return read_netcdf(spark, path, **options)
    if fmt == "mvt":
        from .mvt import read_mvt

        # tile georeference (world bounds) is `tile_bounds=`; the uniform
        # `bbox=` option stays a FILTER like every other format
        return read_mvt(spark, path, bbox=options.pop("tile_bounds", None), **options)
    raise ValueError(f"unsupported format {format!r}")


def register_geo_read(spark, path: str, format: str | None = None, name: str | None = None, **options) -> str:
    """``FROM ST_Read('...')`` call-site analog: PySpark cannot register
    Python table functions, so this loads the file with :func:`st_read` and
    registers the result as a temp view — ``spark.sql(f"SELECT * FROM
    {register_geo_read(spark, p)}")`` is the closest idiomatic spelling.
    Returns the view name (sanitized file stem by default)."""
    df = st_read(spark, path, format, **options)
    if name is None:
        stem = os.path.basename(path.rstrip("/")).split(".")[0] or "geo_read"
        name = "geo_" + re.sub(r"[^A-Za-z0-9_]", "_", stem)
    df.createOrReplaceTempView(name)
    return name


from .geojson import (  # noqa: F401
    read_geojson,
    read_geojsonseq,
    read_wkt_csv,
    st_drivers,
    st_generatepoints,
    st_read_meta,
    write_geojson,
    write_geojsonseq,
    write_wkt_csv,
)
from .flatgeobuf import read_flatgeobuf  # noqa: F401
from .gpkg import gpkg_layers, read_gpkg, write_gpkg  # noqa: F401
from .osm import read_osm  # noqa: F401
from .shapefile import read_shapefile, write_shapefile  # noqa: F401
from .topojson import read_topojson  # noqa: F401
from .xmlgeo import (  # noqa: F401
    read_georss,
    read_gml,
    read_gpx,
    read_kml,
    write_georss,
    write_gml,
    write_kml,
)
from .dxf import read_dxf, write_dxf  # noqa: F401
from .tabular import read_xlsx, write_xlsx, xlsx_sheets  # noqa: F401
from .dgn import read_dgn, write_dgn  # noqa: F401
from .s57 import read_s57, write_s57  # noqa: F401
from .gmt import read_gmt, write_gmt  # noqa: F401
from .sosi import read_sosi, write_sosi  # noqa: F401
from .interlis import read_interlis, write_interlis  # noqa: F401
from .sdts import read_sdts, write_sdts  # noqa: F401
from .vrt import read_vrt, vrt_layers  # noqa: F401
from .ods import ods_sheets, read_ods, write_ods  # noqa: F401
from .mapinfo import read_mif, write_mif  # noqa: F401
from .mapinfo_tab import read_tab, write_tab  # noqa: F401
from .pgdump import read_pgdump, write_pgdump  # noqa: F401
from .jdbc_spatial import read_mssql, read_oracle  # noqa: F401
from .postgis import read_postgis, write_postgis  # noqa: F401
from .spatialite import read_spatialite, spatialite_layers, write_spatialite  # noqa: F401
from .filegdb import gdb_layers, read_gdb, write_gdb  # noqa: F401
from .arrowipc import read_arrow_ipc, write_arrow_ipc  # noqa: F401
from .esrijson import read_esrijson, write_esrijson  # noqa: F401
from .wfs import (  # noqa: F401
    read_wfs,
    wfs_getcapabilities_url,
    wfs_getfeature_url,
)


_FGB_GTYPE = {0: "Unknown", 1: "Point", 2: "LineString", 3: "Polygon",
              4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon",
              7: "GeometryCollection"}
_GDB_GTYPE = {0: "None", 1: "Point", 2: "MultiPoint", 3: "LineString", 4: "Polygon"}
_SHP_GTYPE = {0: "Null", 1: "Point", 3: "LineString", 5: "Polygon", 8: "MultiPoint",
              11: "Point Z", 13: "LineString Z", 15: "Polygon Z", 18: "MultiPoint Z",
              21: "Point M", 23: "LineString M", 25: "Polygon M", 28: "MultiPoint M"}


def st_read_meta(spark, path: str, format: str | None = None):
    """Dataset metadata for any readable format (ST_Read_Meta analog,
    ``st_read_meta.cpp:26-56``; the reference's nested layers-list schema
    is flattened to one row per file/layer here). Formats with metadata in
    their headers answer WITHOUT scanning features: FlatGeobuf (header
    feature count + geometry type), GeoPackage (gpkg_contents), Shapefile
    (.shp header type + .shx record count), FileGDB (.gdbtable header).
    Everything else falls back to one distributed scan via st_read."""
    import os as _os
    import struct as _struct

    p = path.lower()
    rows = []
    if format == "flatgeobuf" or p.endswith(".fgb"):
        from .flatgeobuf import read_header

        h = read_header(path)
        rows.append((path, "FlatGeobuf", int(h["features_count"]),
                     _FGB_GTYPE.get(h["geometry_type"] & 0xFF, "Unknown"), "EPSG:4326"))
    elif format in ("geopackage", "gpkg") or p.endswith(".gpkg"):
        from .gpkg import _ro_connect, gpkg_layers

        con = _ro_connect(path)
        try:
            for lay in gpkg_layers(path):
                n = con.execute(f'SELECT count(*) FROM "{lay["table"]}"').fetchone()[0]
                rows.append((f"{path}:{lay['table']}", "GPKG", int(n),
                             lay["geometry_type"].title().replace(" ", ""),
                             f"EPSG:{lay['srs_id']}"))
        finally:
            con.close()
    elif format in ("shapefile", "shp") or p.endswith(".shp"):
        with open(path, "rb") as f:
            head = f.read(100)
        gtype = _struct.unpack_from("<i", head, 32)[0]
        shx = _os.path.splitext(path)[0] + ".shx"
        n = (_os.path.getsize(shx) - 100) // 8 if _os.path.exists(shx) else -1
        rows.append((path, "ESRI Shapefile", int(n),
                     _SHP_GTYPE.get(gtype, str(gtype)), ""))
    elif format in ("filegdb", "gdb") or p.endswith(".gdb") or p.endswith(".gdbtable"):
        from .filegdb import _read_gdbtable_header

        if p.endswith(".gdbtable"):
            tables = [("", path)]
        else:
            from .filegdb import gdb_layers as _layers

            tables = []
            for i, nm in enumerate(_layers(path)):
                tables.append((nm, _os.path.join(path, f"a{9 + i:08x}.gdbtable")))
        for nm, t in tables:
            nrows, _fields, gt, _grid = _read_gdbtable_header(t)
            rows.append((f"{path}:{nm}" if nm else path, "OpenFileGDB",
                         int(nrows), _GDB_GTYPE.get(gt, str(gt)), ""))
    elif format in ("arrow", "feather", "ipc") or p.endswith((".arrow", ".feather")):
        import json as _json

        import pyarrow as pa

        # memory-map + footer walk: row counts come from the batch headers
        # without materializing data buffers in heap
        try:
            with pa.memory_map(path, "rb") as f:
                r = pa.ipc.open_file(f)
                n = sum(r.get_batch(i).num_rows for i in range(r.num_record_batches))
                meta = r.schema.metadata or {}
        except pa.ArrowInvalid:
            # stream-format IPC (no footer) — same fallback as read_arrow_ipc
            with pa.OSFile(path, "rb") as f:
                t = pa.ipc.open_stream(f).read_all()
            n = t.num_rows
            meta = t.schema.metadata or {}
        geo = _json.loads(meta.get(b"geo", b"{}") or b"{}")
        gcol = geo.get("primary_column")
        rows.append((path, "Arrow", int(n), "WKB" if gcol else "", ""))
    elif format in ("mapinfo_tab", "tab") or p.endswith(".tab"):
        # the .map header carries per-class object counts (no scan)
        from .mapinfo_tab import _sibling

        base = _os.path.splitext(path)[0]
        mp = _sibling(base, ".map")
        n = -1
        kinds = []
        if mp is not None:
            with open(mp, "rb") as f:
                hdr = f.read(512)
            counts = _struct.unpack_from("<4i", hdr, 0x12C)
            n = _struct.unpack_from("<i", hdr, 0x13C)[0]
            for nm, c in zip(("Point", "Line", "Polygon", "Text"), counts):
                if c:
                    kinds.append(nm)
        dat = _sibling(base, ".dat")
        if dat is not None:
            with open(dat, "rb") as f:
                n_dat = _struct.unpack_from("<I", f.read(8), 4)[0]
            n = n_dat  # .dat record count includes geometry-less rows
        elif mp is None:
            raise FileNotFoundError(
                f"{path}: neither .dat nor .map sibling found"
            )
        rows.append((path, "MapInfo File", int(n), ",".join(kinds), ""))
    elif format in ("spatialite", "sqlite") or p.endswith((".sqlite", ".splite")):
        from .gpkg import _ro_connect as _sl_connect
        from .spatialite import spatialite_layers

        con = _sl_connect(path)
        try:
            for lay in spatialite_layers(path):
                n = con.execute(f'SELECT count(*) FROM "{lay["table"]}"').fetchone()[0]
                rows.append((f"{path}:{lay['table']}", "SQLite", int(n), "",
                             f"EPSG:{lay['srid']}"))
        finally:
            con.close()
    elif format == "esrijson" or p.endswith(".esrijson"):
        # header-only: FeatureSet documents carry the type + srid up front
        import json as _json

        with open(path, encoding="utf-8") as f:
            doc = _json.load(f)
        gt = (doc.get("geometryType") or "").replace("esriGeometry", "")
        wkid = (doc.get("spatialReference") or {}).get("wkid")
        rows.append((
            path, "ESRIJSON", len(doc.get("features", [])), gt,
            f"EPSG:{wkid}" if wkid else "",
        ))
    elif format == "gmt" or p.endswith(".gmt"):
        # driver-side single pass through the ASCII parser (no Spark job)
        from .gmt import parse_gmt

        gtype, _fields, feats = parse_gmt(path)
        rows.append((path, "OGR_GMT", len(feats), gtype.title(), ""))
    elif format == "dgn" or p.endswith(".dgn"):
        from .dgn import parse_dgn

        feats = parse_dgn(path)
        kinds = sorted({
            {1: "Point", 2: "LineString", 3: "Polygon"}.get(g.tag, "?")
            for _, _, _, _, _txt, g in feats
        })
        rows.append((path, "DGN", len(feats), ",".join(kinds), ""))
    elif format == "s57" or p.endswith(".000"):
        from .s57 import parse_s57, s57_meta

        feats = parse_s57(path)
        kinds = sorted({{1: "Point", 2: "LineString", 3: "Polygon"}.get(pr, "?")
                       for _, _, pr, *_ in feats})
        rows.append((path, "S57", len(feats), ",".join(kinds), "EPSG:4326"))
        # DSID dataset-identification row (GDAL's S57 driver exposes the
        # same through its DSID layer / metadata domain)
        m = s57_meta(path)
        dsid = ";".join(f"{k}={m[k]}" for k in ("dsnm", "edtn", "updn")
                        if m.get(k))
        if dsid:
            rows.append((f"{path}:DSID", "S57", len(m.get("updates", [])),
                         dsid, ""))
    elif format == "sosi" or p.endswith(".sos"):
        # driver-side single pass through the dot-hierarchy parser
        from .sosi import parse_sosi

        meta, feats = parse_sosi(path)
        kinds = sorted({{1: "Point", 2: "LineString", 3: "Polygon"}.get(
            f["geom"].tag, "?") for f in feats})
        rows.append((path, "SOSI", len(feats), ",".join(kinds),
                     f"EPSG:{meta['epsg']}" if meta.get("epsg") else ""))
    elif format == "interlis" or p.endswith(".itf"):
        from .interlis import parse_itf

        _meta, feats = parse_itf(path)
        kinds = sorted({
            {1: "Point", 2: "LineString", 5: "MultiLineString"}.get(
                f["geom"].tag, "?")
            for f in feats if f.get("geom") is not None
        })
        rows.append((path, "Interlis 1", len(feats), ",".join(kinds), ""))
    elif format == "sdts" or p.endswith(".ddf"):
        from .sdts import parse_sdts

        _meta, feats = parse_sdts(path)
        kinds = sorted({{1: "Point", 2: "LineString"}.get(
            f["geom"].tag, "?") for f in feats})
        rows.append((path, "SDTS", len(feats), ",".join(kinds), ""))
    elif (
        (format in ("geoparquet", "parquet") or p.endswith(".parquet"))
        and __import__("os").path.isfile(path)
    ):
        # header-only for single GeoParquet files: row count from the
        # footer, geometry types/crs from the spec 'geo' key (directories
        # fall through to the distributed-scan fallback below)
        import pyarrow.parquet as _pq

        from .geoparquet import read_geo_key

        n = _pq.ParquetFile(path).metadata.num_rows
        gk = read_geo_key(path) or {}
        prim = gk.get("primary_column", "")
        colm = (gk.get("columns") or {}).get(prim, {})
        rows.append((
            path, "GeoParquet", int(n),
            ",".join(colm.get("geometry_types", [])),
            str(colm.get("crs", "")),
        ))
    elif format == "mvt" or p.endswith(".mvt"):
        # header-only: one protobuf parse, feature count per layer without
        # decoding any geometry
        from .mvt import _parse_layer, _read_uvarint

        with open(path, "rb") as f:
            buf = f.read()
        pos = 0
        while pos < len(buf):
            key, pos = _read_uvarint(buf, pos)
            if (key >> 3) != 3 or (key & 7) != 2:
                raise ValueError(f"{path}: not an MVT tile")
            n, pos = _read_uvarint(buf, pos)
            lay = _parse_layer(buf[pos : pos + n])
            pos += n
            rows.append((f"{path}:{lay['name']}", "MVT",
                         len(lay["features"]), "", ""))
    elif format in ("netcdf", "nc") or p.endswith((".nc", ".cdf")):
        # header-only: feature count from the coordinate-variable dims
        # (point series -> shared dim length; grid -> nlat * nlon)
        from .netcdf3 import _find_coords, parse_header

        h = parse_header(path)
        lat_v, lon_v = _find_coords(h)

        def _dlen(v):
            d = v["dimids"][0]
            ln = h["dims"][d][1]
            return h["numrecs"] if ln == 0 else ln

        if lat_v["dimids"] == lon_v["dimids"]:
            n = _dlen(lat_v)
        else:
            n = _dlen(lat_v) * _dlen(lon_v)
        rows.append((path, "netCDF", int(n), "Point", "EPSG:4326"))
    else:
        from .geojson import st_read_meta as _gj_meta

        if format in (None, "geojson") and (p.endswith(".geojson") or p.endswith(".json")
                                            or p.endswith(".ndjson")):
            return _gj_meta(spark, path)
        # generic fallback: one distributed scan
        from pyspark.sql import functions as F

        df = st_read(spark, path, format)
        gcol = "geom" if "geom" in df.columns else None
        if gcol:
            agg = df.agg(
                F.count("*").alias("n"),
                F.array_sort(F.collect_set(F.expr(f"ST_GeometryType({gcol})"))).alias("t"),
            ).collect()[0]
            gtypes = ",".join(x.title().replace("_", "") for x in (agg["t"] or []))
            rows.append((path, (format or "").upper() or "AUTO", int(agg["n"]), gtypes, ""))
        else:
            rows.append((path, (format or "").upper() or "AUTO", df.count(), "", ""))
    return spark.createDataFrame(
        rows, "file string, driver string, feature_count long, geometry_types string, crs string"
    )


def st_write(df, path: str, format: str | None = None, **options):
    """Generic COPY TO sink: dispatch on format (or sniff the target
    extension) to the per-format writer — the reference's ``COPY ... TO
    'file.x' (FORMAT GDAL, DRIVER ...)`` surface (``st_write.cpp:58-170``)
    re-expressed as one entry point over the pure-Python writers. Options
    pass through to the writer (``geom_col``, ``max_rows``, ``srid``/
    ``srs_id``, ``layer``/``table``, ...)."""
    ext_map = {
        ".geojsonl": "geojsonseq", ".geojsons": "geojsonseq",
        ".geojson": "geojson", ".ndjson": "geojson", ".json": "geojson",
        ".csv": "wkt_csv", ".shp": "shapefile", ".gpkg": "geopackage",
        ".kml": "kml", ".gml": "gml", ".dxf": "dxf", ".xlsx": "xlsx",
        ".mif": "mapinfo", ".tab": "mapinfo_tab", ".gdbtable": "filegdb",
        ".arrow": "arrow", ".feather": "arrow", ".rss": "georss",
        ".georss": "georss", ".sql": "pgdump", ".sqlite": "spatialite",
        ".splite": "spatialite", ".parquet": "geoparquet",
        ".esrijson": "esrijson", ".nc": "netcdf", ".cdf": "netcdf",
        ".mvt": "mvt",
        ".gmt": "gmt", ".dgn": "dgn", ".000": "s57", ".sos": "sosi",
        ".itf": "interlis", ".ddf": "sdts",
    }
    fmt = (format or "").lower()
    if not fmt:
        low = path.lower()
        for ext, f in ext_map.items():
            if low.endswith(ext):
                fmt = f
                break
        if not fmt:
            raise ValueError(f"cannot sniff sink format from {path!r}; pass format=")
    writers = {
        "geojson": write_geojson,
        "geojsonseq": write_geojsonseq,
        "wkt_csv": write_wkt_csv, "csv": write_wkt_csv,
        "shapefile": write_shapefile, "shp": write_shapefile,
        "geopackage": write_gpkg, "gpkg": write_gpkg,
        "kml": write_kml, "gml": write_gml, "dxf": write_dxf,
        "xlsx": write_xlsx, "mapinfo": write_mif, "mif": write_mif,
        "mapinfo_tab": write_tab, "tab": write_tab,
        "filegdb": write_gdb, "gdb": write_gdb,
        "arrow": write_arrow_ipc, "feather": write_arrow_ipc,
        "georss": write_georss, "pgdump": write_pgdump,
        "spatialite": write_spatialite, "sqlite": write_spatialite,
        "esrijson": write_esrijson, "gmt": write_gmt, "dgn": write_dgn,
        "sosi": write_sosi,
        "interlis": write_interlis,
        "sdts": write_sdts,
        "s57": write_s57,
    }
    if fmt in ("netcdf", "nc", "cdf"):
        from .netcdf3 import write_netcdf

        return write_netcdf(df, path, **options)
    if fmt == "mvt":
        from .mvt import write_mvt

        return write_mvt(df, path, bbox=options.pop("tile_bounds", None), **options)
    if fmt in ("geoparquet", "parquet"):
        if options.pop("file", False):
            # one spec-1.0 GeoParquet FILE with the 'geo' footer key
            # (interop sink); the default stays the sharded layout
            from .geoparquet import write_geoparquet_file

            return write_geoparquet_file(df, path, **options)
        from ..plans.pruning import write_geo_parquet

        return write_geo_parquet(df, path, **options)
    if fmt == "geojson":
        # every other st_write target is ONE file at `path`; match that
        # here (write_geojson's own default is the sharded "lines" style)
        options.setdefault("style", "collection")
    w = writers.get(fmt)
    if w is None:
        raise ValueError(f"unsupported sink format {format!r}")
    return w(df, path, **options)
