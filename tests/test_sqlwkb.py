"""The SQL-text WKB kernel (``plans/sqlwkb.py``) that decides
``filter_bbox``'s boundary band in the JVM, checked against the exact UDF
lane it replaces, and the window checks ``scan_geo_parquet`` shares with
``filter_bbox``."""

import functools
import math
import struct

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_spatial_spark.geo import geom as G
from duckdb_spatial_spark.geo import wkb as WKB
from duckdb_spatial_spark.plans import filter_bbox, scan_geo_parquet, sqlwkb, write_geo_parquet
from duckdb_spatial_spark.plans.pruning import BBOX_COLS, _EXACT, _window


# ---------------------------------------------------------------- encoders
def _encode(node, rng) -> bytes:
    """WKB for a geometry tree ``(kind, data)`` — kind ``pt`` / ``ln`` /
    ``pg`` or a Multi*/collection type code with child nodes — with a random
    byte order, Z/M dimension and ISO or EWKB (with or without SRID) type
    code at every node. ``pt`` data None is POINT EMPTY."""
    bo = "<" if rng.random() < 0.5 else ">"
    z, m = bool(rng.random() < 0.3), bool(rng.random() < 0.2)
    ewkb = rng.random() < 0.3
    srid = ewkb and rng.random() < 0.5
    kind, data = node
    base = {"pt": 1, "ln": 2, "pg": 3}.get(kind, kind)
    if ewkb:
        code = base | (0x80000000 if z else 0) | (0x40000000 if m else 0) | (0x20000000 if srid else 0)
    else:
        code = base + 1000 * z + 2000 * m
    out = [struct.pack(bo + "BI", 1 if bo == "<" else 0, code)]
    if srid:
        out.append(struct.pack(bo + "I", 4326))

    def coords(seq):
        return b"".join(
            struct.pack(bo + "d" * (2 + z + m), x, y, *([float(rng.integers(-5, 5))] * z), *([1.0] * m))
            for x, y in seq
        )

    if kind == "pt":
        out.append(coords([data]) if data is not None else struct.pack(bo + "d" * (2 + z + m), *[math.nan] * (2 + z + m)))
    elif kind == "ln":
        out += [struct.pack(bo + "I", len(data)), coords(data)]
    elif kind == "pg":
        out.append(struct.pack(bo + "I", len(data)))
        out += [struct.pack(bo + "I", len(r)) + coords(r) for r in data]
    else:
        out.append(struct.pack(bo + "I", len(data)))
        out += [_encode(c, rng) for c in data]
    return b"".join(out)


def _rect(x, y, w, h):
    return [(x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y)]


def _leaf(rng, kind=None):
    """A random point, line or polygon (integer coordinates, so vertices
    and edges land on window boundaries often)."""
    x, y = int(rng.integers(0, 40)), int(rng.integers(0, 40))
    w, h = int(rng.integers(1, 9)), int(rng.integers(1, 9))
    kind = kind or ("pt", "ln", "pg")[int(rng.integers(0, 3))]
    if kind == "pt":
        return ("pt", (x, y))
    if kind == "ln":
        n = int(rng.integers(1, 5))
        return ("ln", [(x + int(rng.integers(0, w + 1)), y + int(rng.integers(0, h + 1))) for _ in range(n)])
    shape = int(rng.integers(0, 3))
    if shape == 0:
        return ("pg", [_rect(x, y, w, h)])
    if shape == 1 and w > 2 and h > 2:  # with a hole
        return ("pg", [_rect(x, y, w, h), _rect(x + 1, y + 1, w - 2, h - 2)[::-1]])
    return ("pg", [[(x, y), (x + w, y), (x, y + h), (x, y)]])


def _geometry(rng, depth=0):
    r = rng.random()
    if depth < 2 and r < 0.15:
        return (7, [_geometry(rng, depth + 1) for _ in range(int(rng.integers(0, 4)))])
    if r < 0.3:
        code = int(rng.integers(4, 7))
        return (code, [_leaf(rng, {4: "pt", 5: "ln", 6: "pg"}[code]) for _ in range(int(rng.integers(0, 4)))])
    if r < 0.33:
        return ("pt", None)
    if r < 0.35:
        return (("ln", []), ("pg", []))[int(rng.integers(0, 2))]
    return _leaf(rng)


def _vertices(node):
    kind, data = node
    if kind == "pt":
        return [] if data is None else [data]
    if kind == "ln":
        return list(data)
    if kind == "pg":
        return [v for ring in data for v in ring]
    return [v for c in data for v in _vertices(c)]


# ---------------------------------------------------------------- decode
def test_double_decode_bit_exact_both_byte_orders(spark):
    """Every double the kernel reads equals ``struct.unpack`` of its bytes,
    bit for bit (NaN as NaN), in both byte orders: ±0, ±inf, NaN, the
    smallest subnormal, the largest double and 10k random bit patterns."""
    rng = np.random.default_rng(11)
    special = [0.0, -0.0, math.inf, -math.inf, math.nan, 5e-324, -5e-324, 1.7976931348623157e308,
               -1.7976931348623157e308, 2.2250738585072014e-308, 1.0, -1.5]
    bits = rng.integers(0, 2**64, size=10_000, dtype=np.uint64)
    values = special + bits.view(np.float64).tolist()
    if len(values) % 2:
        values.append(0.5)
    rows = []
    for i in range(0, len(values), 2):
        a, b = values[i], values[i + 1]
        rows.append((len(rows), bytearray(struct.pack("<BIdd", 1, 1, a, b)), a, b))
        rows.append((len(rows), bytearray(struct.pack(">BIdd", 0, 1, a, b)), a, b))
    df = spark.createDataFrame(rows, "id long, geom binary, a double, b double")
    # the kernel's own fold, collecting every vertex it decodes
    collect = sqlwkb._fold(
        "geom",
        {"r": "false", "c": "CAST(array() AS ARRAY<DOUBLE>)"},
        {"r": "false", "c": "_w.z.c"},
        {"r": "false", "c": f"IF({sqlwkb._ODD}, concat(_b.c, array(_b.u, _b.v)), _b.c)"},
        {"r": "false", "c": "_b.c"},
        "_w.z.c",
    )
    got = {r.id: r.xy for r in df.selectExpr("id", f"{collect} AS xy").collect()}
    bad = []
    for i, _, a, b in rows:
        xy = got[i]
        # a point is one vertex, read as the zero-length segment at it
        assert len(xy) == 4, (i, xy)
        for want, have in zip((a, b, a, b), xy):
            same = math.isnan(have) if math.isnan(want) else struct.pack("<d", have) == struct.pack("<d", want)
            if not same:
                bad.append((i, want, have))
    assert not bad, bad[:5]


# ---------------------------------------------------------------- decisions
def _envelope(win):
    x0, y0, x1, y1 = win
    return WKB.to_wkb(G.polygon([[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]))


@pytest.mark.parametrize("seed", [3, 17])
def test_sql_lane_matches_udf_lane_randomized(spark, tmp_path, seed):
    """Random geometries — integer coordinates, holes, Multi* types, nested
    collections, both byte orders, Z/M, ISO and EWKB codes, NULL, EMPTY
    and NaN-vertex rows — through a bbox-sidecar layout: the SQL lane
    (``filter_bbox`` on the layout) equals the exact UDF on the same
    prefiltered rows, and the sidecar-less UDF lane on every row whose
    bbox is finite, for intersects and within on random, inverted,
    zero-width and zero-area windows and on windows with a corner or an
    edge on a vertex. Every case runs in one union job per lane."""
    rng = np.random.default_rng(seed)
    nodes = [_geometry(rng) for _ in range(360)]
    rows = [(i, bytearray(_encode(n, rng))) for i, n in enumerate(nodes)]
    nan_ids = set()
    for wkb in (
        struct.pack("<BII", 1, 2, 2) + struct.pack("<4d", math.nan, math.nan, 3.0, 3.0),
        struct.pack("<BIII", 1, 3, 1, 4) + struct.pack("<8d", 1, 1, 9, math.nan, 9, 9, 1, 1),
        struct.pack("<BIdd", 1, 1, 5.0, math.nan),
    ):
        nan_ids.add(len(rows))
        rows.append((len(rows), bytearray(wkb)))
    rows.append((len(rows), None))
    df = spark.createDataFrame(rows, "id long, geom binary")
    path = str(tmp_path / f"sweep{seed}")
    write_geo_parquet(df, path, num_partitions=2)
    clustered = spark.read.parquet(path)

    wins = []
    for _ in range(6):
        x0, y0 = int(rng.integers(0, 35)), int(rng.integers(0, 35))
        wins.append((x0, y0, x0 + int(rng.integers(1, 14)), y0 + int(rng.integers(1, 14))))
    wins += [(wins[0][2], wins[0][3], wins[0][0], wins[0][1]),  # inverted
             (wins[1][0], wins[1][1], wins[1][0], wins[1][3]),  # zero width
             (wins[2][0], wins[2][1], wins[2][0], wins[2][1])]  # zero area
    verts = [v for n in nodes for v in _vertices(n)]
    for _ in range(4):  # a corner, then an edge, on a vertex
        vx, vy = verts[int(rng.integers(0, len(verts)))]
        wins.append((vx, vy, vx + int(rng.integers(1, 9)), vy + int(rng.integers(1, 9))))
        ux, uy = verts[int(rng.integers(0, len(verts)))]
        wins.append((ux - 3.5, uy, ux + 2.25, uy + 4))
    cases = [(w, e) for w in wins for e in ("intersects", "within")]

    def union(parts):
        out = {k: set() for k in range(len(cases))}
        for r in functools.reduce(DataFrame.unionAll, parts).collect():
            out[r.k].add(r.id)
        return out

    def tag(frame, k):
        return frame.select(F.lit(k).alias("k"), "id")

    sql_parts = [filter_bbox(clustered.coalesce(1), *w, exact=e) for w, e in cases]
    for part in sql_parts[:2]:
        plan = part._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    sql = union([tag(p, k) for k, p in enumerate(sql_parts)])
    same_rows = union([
        tag(filter_bbox(clustered.coalesce(1), *w, exact=None).filter(
            _EXACT[e](F.col("geom"), F.lit(_envelope(_window(*w))))), k)
        for k, (w, e) in enumerate(cases)
    ])
    plain = union([tag(filter_bbox(df.coalesce(1), *w, exact=e), k) for k, (w, e) in enumerate(cases)])
    for k, case in enumerate(cases):
        assert sql[k] == same_rows[k], (seed, case, sql[k] ^ same_rows[k])
        assert sql[k] - nan_ids == plain[k] - nan_ids, (seed, case, sql[k] ^ plain[k])
    # the sweep is not vacuous: for both predicates the kernel keeps some
    # band rows (kept, yet not decided by the bbox alone) and drops others
    boxes = {r.id: r[1:] for r in clustered.select("id", *BBOX_COLS).collect() if r[1] is not None}
    for exact in ("intersects", "within"):
        kept = dropped = 0
        for k, (w, e) in enumerate(cases):
            x0, y0, x1, y1 = _window(*w)
            if e != exact:
                continue
            for i, (a, b, c, d) in boxes.items():
                overlap = a <= x1 and c >= x0 and b <= y1 and d >= y0
                closed = a >= x0 and c <= x1 and b >= y0 and d <= y1
                sure = (a > x0 and c < x1 and b > y0 and d < y1) if e == "within" else closed
                if overlap and (closed or e == "intersects") and not sure:
                    kept += i in sql[k]
                    dropped += i not in sql[k]
        assert kept and dropped, (seed, exact, kept, dropped)


def _band_frame(spark, wkb: bytes, bbox):
    """One row whose sidecars ``bbox`` put it in the boundary band of a
    window."""
    return spark.createDataFrame(
        [(1, bytearray(wkb), *bbox)],
        "id long, geom binary, " + ", ".join(f"{c} double" for c in BBOX_COLS),
    )


@pytest.mark.parametrize("wkb, message", [
    (struct.pack("<BIII", 1, 3, 1, 5) + struct.pack("<6d", -1, 2, 3, 2, 3, 4), "malformed WKB"),
    (struct.pack("<BII", 1, 2, 9) + struct.pack("<4d", -1, 2, 3, 4), "malformed WKB"),
    (struct.pack("<BI", 1, 9) + struct.pack("<2d", -1, 2), "unknown WKB geometry type code 9"),
    (struct.pack("<B", 1), "malformed WKB"),
])
def test_unparseable_band_row_fails_the_query(spark, wkb, message):
    """Bytes the kernel cannot parse fail the query, as the UDF's
    ``WKBParseError`` does; they never give an answer."""
    # band rows of (0, 0, 10, 10): a bbox across its edge for intersects,
    # one inside it and touching the edge for within
    for exact, bbox in (("intersects", (-1.0, 2.0, 3.0, 4.0)), ("within", (0.0, 2.0, 3.0, 4.0))):
        with pytest.raises(Exception, match=message):
            filter_bbox(_band_frame(spark, wkb, bbox), 0, 0, 10, 10, exact=exact).collect()
        with pytest.raises(Exception, match="WKB"):
            filter_bbox(_band_frame(spark, wkb, bbox).drop(*BBOX_COLS), 0, 0, 10, 10, exact=exact).collect()


# ---------------------------------------------------------------- windows
def _polygon_layout(spark, tmp_path):
    rows = [(i, f"POLYGON (({x} {y}, {x + 2} {y}, {x + 2} {y + 1}, {x} {y + 1}, {x} {y}))")
            for i, (x, y) in enumerate((x, y) for x in range(0, 40, 3) for y in range(0, 40, 3))]
    df = spark.createDataFrame(rows, "id long, wkt string").selectExpr("id", "ST_GeomFromText(wkt) AS geom")
    path = str(tmp_path / "polys")
    write_geo_parquet(df, path, num_partitions=4)
    return path


def test_scan_geo_parquet_inverted_window_matches_plain_read(spark, tmp_path):
    """An inverted window (bounds given max-first) is the same window for
    the manifest pruning as for the bbox filter: the pruned scan keeps the
    rows a plain read keeps (it used to compare the files against the
    unsorted bounds and keep none)."""
    path = _polygon_layout(spark, tmp_path)
    for win in ((16, 16, 9, 9), (9, 16, 16, 9), (16, 9, 9, 16)):
        pruned = {r.id for r in filter_bbox(scan_geo_parquet(spark, path, bbox=win), *win, exact=None).collect()}
        plain = {r.id for r in filter_bbox(spark.read.parquet(path), *win, exact=None).collect()}
        assert pruned == plain and plain, win
    with pytest.raises(ValueError, match="window bound max_x="):
        scan_geo_parquet(spark, path, bbox=(0, 0, math.nan, 1))


def test_contains_prefilter_reaches_the_parquet_scan(spark, tmp_path):
    """``ST_Contains(g, window)`` needs ``bbox(g) ⊇ window``: that conjunct
    is pushed to the parquet scan, so only such rows reach the UDF."""
    path = _polygon_layout(spark, tmp_path)
    frame = spark.read.parquet(path)
    q = filter_bbox(frame, 9.5, 9.25, 10.5, 9.75, exact="contains")
    key = "spark.sql.maxMetadataStringLength"  # the plan text shortens the filter list
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")
    try:
        plan = q._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    pushed = plan[plan.index("PushedFilters:"):].split("]")[0]
    for conjunct in ("LessThanOrEqual(bbox_min_x,9.5)", "GreaterThanOrEqual(bbox_max_x,10.5)",
                     "LessThanOrEqual(bbox_min_y,9.25)", "GreaterThanOrEqual(bbox_max_y,9.75)"):
        assert conjunct in pushed, (conjunct, pushed)
    assert {r.id for r in q.collect()} == {r.id for r in filter_bbox(frame.drop(*BBOX_COLS), 9.5, 9.25, 10.5, 9.75,
                                                                      exact="contains").collect()}
