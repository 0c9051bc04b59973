"""Spatial join: ``FROM a JOIN b ON ST_Predicate(a.geom, b.geom)``.

The reference rewrites such joins into a bbox range-join plus an exact
re-check filter (``spatial/src/spatial/core/optimizer_rules.cpp:33-279``:
``a.xmin<=b.xmax AND a.xmax>=b.xmin AND ...`` + LogicalFilter). OSS Spark has
no IEJoin physical operator, so the bbox phase is re-expressed as a
**grid-tessellation equi-join** (the published SpatialSpark/Sedona approach,
see PAPERS.md):

  1. bbox per row (sidecar struct column, the reference's cached-bbox analog)
  2. explode each side onto the fixed grid cells its bbox overlaps —
     pure-Column ``explode(sequence(...))``, stays JVM-side
  3. shuffle equi-join on cell id (hash-partitioned both sides — scales
     linearly with executors; no broadcast of the big side)
  4. bbox-overlap conjuncts (cheap, codegen'd)
  5. de-duplicate multi-cell pairs with the *reference-point* trick: a pair
     is emitted only in the cell containing the top-left corner of the two
     bboxes' intersection — no dropDuplicates shuffle needed
  6. exact predicate re-check (pandas UDF over WKB) — same two-phase
     exactness argument as the reference (bbox overlap is implied by all
     supported predicates, ``optimizer_rules.cpp:30-31``)

This is the only plan, as in the reference. A small right side is
broadcast by Spark's own ``autoBroadcastJoinThreshold``; a dense cell on a
shuffled join is split by AQE's skew-join handling
(``spark.sql.adaptive.skewJoin.enabled``), so the operator does no salting.

All 10 reference predicates are supported; ``ST_Disjoint`` is NOT eligible
(same exclusion as ``optimizer_rules.cpp:95``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import algorithms as A
from ..functions import udfs

_PREDICATES = {
    "intersects": A.intersects,
    "contains": A.contains,
    "contains_properly": A.contains_properly,
    "within": A.within,
    "covers": lambda a, b: A.covers(a, b),
    "covered_by": A.covered_by,
    "touches": A.touches,
    "crosses": A.crosses,
    "overlaps": A.overlaps,
    "equals": A.equals,
    "dwithin": None,  # handled specially (distance arg)
}

_CELL_SHIFT = 1 << 22  # pack (cx, cy) into one bigint cell id
_SJ_ID = "__sj_left_id"  # surrogate key for left/semi/anti reconciliation


def _with_bbox(df: DataFrame, geom_col: str, prefix: str, with_isbox: bool = False) -> DataFrame:
    """Attach a bbox struct computed in ONE Python pass per row.

    A plain ``withColumn(bb, st_extent(geom))`` gets re-expanded by Catalyst
    into every downstream operator that references the struct (audited: 6
    Python evals per grid join in round 1). mapInPandas is a hard barrier —
    the bbox fields come out as materialized attributes, so the decode runs
    exactly once however many times the plan references them. Point WKB
    decodes vectorized (fastpath.bbox_arrays).

    ``with_isbox=True`` additionally emits ``{prefix}_is_box`` (the row's
    geometry IS the solid rectangle of its bbox — detected in the same
    pass, ``fastpath.box_flags``) so downstream predicates can decide
    within/intersects from bboxes alone for rectangle rows."""
    from pyspark.sql import types as T

    from ..functions import fastpath

    flat = [f"{prefix}_bb_mnx", f"{prefix}_bb_mny", f"{prefix}_bb_mxx", f"{prefix}_bb_mxy"]
    extra = [T.StructField(c, T.DoubleType()) for c in flat]
    if with_isbox:
        extra.append(T.StructField(f"{prefix}_is_box", T.BooleanType()))
    schema = T.StructType(list(df.schema.fields) + extra)
    gi = df.columns.index(geom_col)

    def gen(batches):
        for pdf in batches:
            mnx, mny, mxx, mxy = fastpath.bbox_arrays(pdf.iloc[:, gi])
            keep = ~np.isnan(mnx)
            out = pdf[keep] if not keep.all() else pdf
            cols = dict(zip(flat, (mnx[keep], mny[keep], mxx[keep], mxy[keep])))
            if with_isbox:
                ib = fastpath.box_flags(pdf.iloc[:, gi], mnx, mny, mxx, mxy)
                cols[f"{prefix}_is_box"] = ib[keep]
            yield out.assign(**cols)

    bb = f"{prefix}_bbox"
    out = df.mapInPandas(gen, schema=schema)
    return out.withColumn(
        bb,
        F.struct(
            F.col(flat[0]).alias("min_x"),
            F.col(flat[1]).alias("min_y"),
            F.col(flat[2]).alias("max_x"),
            F.col(flat[3]).alias("max_y"),
        ),
    ).drop(*flat)


def _grid_params(left_b: DataFrame, right_b: DataFrame, lp: str, rp: str, cell_size, pad=0.0):
    """Grid origin + cell size. With an explicit ``cell_size`` this is
    free (fixed origin, no job). Without one, a bounded ``limit()`` sample
    per side estimates the average bbox size — no full-table pass (the
    reference sizes from bind-time stats; at 100 TB a full stats pass per
    join would be two extra scans). Returns None when either side has no
    non-null geometry."""
    if cell_size is not None:
        return 0.0, 0.0, float(cell_size)
    parts = []
    for side, (df, p) in enumerate(((left_b, lp), (right_b, rp))):
        bb = f"{p}_bbox"
        parts.append(
            df.select(
                F.lit(side).alias("side"),
                F.col(f"{bb}.min_x").alias("mnx"),
                F.col(f"{bb}.min_y").alias("mny"),
                F.col(f"{bb}.max_x").alias("mxx"),
                F.col(f"{bb}.max_y").alias("mxy"),
            ).limit(10_000)
        )
    rows = parts[0].unionAll(parts[1]).collect()  # one job for both samples
    stats = []
    for side in (0, 1):
        a = np.asarray([[r.mnx, r.mny, r.mxx, r.mxy] for r in rows if r.side == side])
        if len(a) == 0:
            return None
        stats.append(a)
    min_x = min(float(a[:, 0].min()) for a in stats)
    min_y = min(float(a[:, 1].min()) for a in stats)
    max_x = max(float(a[:, 2].max()) for a in stats)
    max_y = max(float(a[:, 3].max()) for a in stats)
    avg_dim = max(max(float((a[:, 2] - a[:, 0]).mean()), float((a[:, 3] - a[:, 1]).mean())) for a in stats)
    extent = max(max_x - min_x, max_y - min_y, 1e-9)
    # ~2 cells per avg (pad-expanded) geometry; degenerate (point) data
    # falls back to a 1024^2 grid; never more than 2^20 cells per axis
    # (keeps packed cell ids collision-free)
    base = avg_dim * 2.0 + pad * 2.0
    if base <= 0:
        base = extent / 1024.0
    cell_size = max(base, extent / float(1 << 20))
    return float(min_x), float(min_y), float(cell_size)


def _cells(df: DataFrame, p: str, origin_x, origin_y, cs, pad) -> DataFrame:
    """Explode rows onto overlapped grid cells — sequence() keeps it JVM-side."""
    bb = f"{p}_bbox"
    cx0 = F.floor((F.col(f"{bb}.min_x") - pad - origin_x) / cs).cast("long")
    cx1 = F.floor((F.col(f"{bb}.max_x") + pad - origin_x) / cs).cast("long")
    cy0 = F.floor((F.col(f"{bb}.min_y") - pad - origin_y) / cs).cast("long")
    cy1 = F.floor((F.col(f"{bb}.max_y") + pad - origin_y) / cs).cast("long")
    return (
        df.withColumn(f"{p}_cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn(f"{p}_cy", F.explode(F.sequence(cy0, cy1)))
        .withColumn(f"{p}_cell", F.col(f"{p}_cx") * _CELL_SHIFT + F.col(f"{p}_cy"))
    )


def _make_recheck_udf(predicate: str, distance):
    from pyspark.sql import types as T

    pred_fn = _PREDICATES[predicate]

    @F.pandas_udf(T.BooleanType())
    def recheck(a: pd.Series, b: pd.Series) -> pd.Series:
        # vectorized lane: left side all 2D-point WKBs (the dominant join
        # shape) -> group rows by the right geometry and run one numpy
        # point-in-polygon per distinct geometry instead of per pair
        if predicate in ("within", "intersects", "covered_by"):
            from ..functions import fastpath

            pa = fastpath.points_xy(a)
            if pa is not None:
                xs, ys, mask = pa
                out = np.zeros(len(a), dtype=bool)
                groups: dict = {}
                bvals = b.to_numpy(dtype=object)
                for i, bv in enumerate(bvals):
                    if bv is None or not mask[i]:
                        continue
                    groups.setdefault(bytes(bv), []).append(i)
                vectorized = True
                results = {}
                for bb, idxs in groups.items():
                    g = udfs._g(bb)
                    ii = np.asarray(idxs)
                    st_arr = fastpath._poly_state_or_none((xs[ii], ys[ii], None), g)
                    if st_arr is None:
                        vectorized = False
                        break
                    if predicate == "within":
                        results[bb] = (ii, st_arr == 2)
                    else:
                        results[bb] = (ii, st_arr >= 1)
                if vectorized:
                    for ii, vals in results.values():
                        out[ii] = vals
                    return pd.Series(out)
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(False)
                continue
            ga, gb = udfs._g(x), udfs._g(y)
            if predicate == "dwithin":
                out.append(A.dwithin(ga, gb, distance))
            else:
                out.append(pred_fn(ga, gb))
        return pd.Series(out)

    return recheck


def st_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    left_geom: str = "geom",
    right_geom: str = "geom",
    how: str = "inner",
    strategy: str = "grid",
    cell_size: float | None = None,
    distance: float | None = None,
    left_point: tuple | None = None,
    left_bbox: tuple | None = None,
    right_bbox: tuple | None = None,
    right_is_box: bool = False,
) -> DataFrame:
    """Spatial join of two DataFrames on a spatial predicate.

    how: inner | left_semi | left_anti | left. Column name clashes on the
    right side get a ``_right`` suffix (geometry columns included).

    Native fast lane (the 100-TB path): pass ``left_point=("x", "y")``,
    ``left_bbox=(...)`` and/or ``right_bbox=("mnx", "mny", "mxx", "mxy")``
    to build the bbox sidecars from plain columns (no Python). A layout
    written by ``write_geo_parquet`` already persists
    ``bbox_min_x..bbox_max_y`` sidecars — pass those as ``left_bbox`` /
    ``right_bbox`` and the grid phase never decodes WKB (the reference's
    cached-RTree-bbox analog). With ``right_is_box=True`` and a point left
    side, within/intersects/covered_by/dwithin joins skip the
    exact-recheck UDF entirely — the whole join is JVM-side (bbox test IS
    the exact test for point×box).

    ``strategy`` accepts only ``"grid"``, the one plan."""
    if predicate == "disjoint":
        raise ValueError("disjoint joins are not accelerable (reference excludes them too)")
    if predicate not in _PREDICATES:
        raise ValueError(f"unsupported predicate {predicate!r}; supported: {sorted(_PREDICATES)}")
    if predicate == "dwithin" and distance is None:
        raise ValueError("dwithin requires distance=")
    if strategy != "grid":
        raise ValueError(
            f"unsupported strategy {strategy!r}: st_join has one plan, 'grid' "
            "(the 'broadcast' and 'auto' strategies were removed)"
        )

    # left/semi/anti reconciliation joins back on a surrogate row id, never on
    # the left columns themselves: plain equality drops NULL-bearing rows,
    # collapses duplicate rows, and would compare full WKB blobs in the
    # shuffle. The id is assigned before the spatial join so it rides through
    # it; both reconciliation branches derive from this same tagged plan.
    if how != "inner":
        left = left.withColumn(_SJ_ID, F.monotonically_increasing_id())

    # disambiguate clashing column names (right gets _right suffix)
    clash = set(left.columns) & set(right.columns)
    renames = {c: f"{c}_right" for c in clash}
    for old, new in renames.items():
        right = right.withColumnRenamed(old, new)
    if right_geom in renames:
        right_geom = renames[right_geom]
    if right_bbox is not None:
        right_bbox = tuple(renames.get(c, c) for c in right_bbox)

    if left_point is not None:
        px, py = (F.col(c) for c in left_point)
        lb = left.withColumn(
            "l_bbox",
            F.struct(px.alias("min_x"), py.alias("min_y"), px.alias("max_x"), py.alias("max_y")),
        ).filter(px.isNotNull() & py.isNotNull())
    elif left_bbox is not None:
        b0, b1, b2, b3 = (F.col(c) for c in left_bbox)
        lb = left.withColumn(
            "l_bbox",
            F.struct(b0.alias("min_x"), b1.alias("min_y"), b2.alias("max_x"), b3.alias("max_y")),
        ).filter(
            b0.isNotNull() & b1.isNotNull() & b2.isNotNull() & b3.isNotNull()
        )
    else:
        # symmetric box detection for contains/covers: a solid-rectangle
        # LEFT decides those predicates from bboxes alone in _grid_join
        lb = _with_bbox(
            left, left_geom, "l",
            with_isbox=predicate in ("contains", "covers"),
        )
    if right_bbox is not None:
        c0, c1, c2, c3 = (F.col(c) for c in right_bbox)
        rb = right.withColumn(
            "r_bbox",
            F.struct(c0.alias("min_x"), c1.alias("min_y"), c2.alias("max_x"), c3.alias("max_y")),
        ).filter(
            c0.isNotNull() & c1.isNotNull() & c2.isNotNull() & c3.isNotNull()
        )
        if right_is_box:
            # the caller vouches every right row is the solid rectangle of
            # its bbox — the grid recheck can then decide rows JVM-side
            # even when the LEFT side is general WKB (no left_point)
            rb = rb.withColumn("r_is_box", F.lit(True))
    else:
        # detect rectangle rights in the same decode pass that builds the
        # bbox: for predicates where a box right decides from bboxes alone,
        # sure-true pairs never cross into the recheck UDF (_grid_join)
        rb = _with_bbox(
            right, right_geom, "r",
            with_isbox=predicate in ("within", "intersects", "covered_by"),
        )

    # point x box: the bbox comparison IS the exact predicate -> no UDF
    native_exact = None
    if left_point is not None and right_is_box:
        if predicate == "within":
            native_exact = (
                (F.col("l_bbox.min_x") > F.col("r_bbox.min_x"))
                & (F.col("l_bbox.min_x") < F.col("r_bbox.max_x"))
                & (F.col("l_bbox.min_y") > F.col("r_bbox.min_y"))
                & (F.col("l_bbox.min_y") < F.col("r_bbox.max_y"))
            )
        elif predicate in ("intersects", "covered_by"):
            native_exact = F.lit(True)  # bbox-overlap prefilter already exact
        elif predicate == "dwithin":
            dx = F.greatest(
                F.col("r_bbox.min_x") - F.col("l_bbox.min_x"),
                F.col("l_bbox.min_x") - F.col("r_bbox.max_x"),
                F.lit(0.0),
            )
            dy = F.greatest(
                F.col("r_bbox.min_y") - F.col("l_bbox.min_y"),
                F.col("l_bbox.min_y") - F.col("r_bbox.max_y"),
                F.lit(0.0),
            )
            native_exact = F.sqrt(dx * dx + dy * dy) <= F.lit(float(distance))

    joined = _grid_join(
        lb, rb, predicate, left_geom, right_geom, cell_size, distance, native_exact
    )

    if how == "inner":
        return joined
    matched_ids = joined.select(_SJ_ID).distinct()
    if how in ("left_semi", "left_anti"):
        return left.join(matched_ids, on=_SJ_ID, how=how).drop(_SJ_ID)
    if how == "left":
        unmatched = left.join(matched_ids, on=_SJ_ID, how="left_anti")
        for c in [c for c in joined.columns if c not in left.columns]:
            unmatched = unmatched.withColumn(c, F.lit(None).cast(joined.schema[c].dataType))
        return joined.unionByName(unmatched).drop(_SJ_ID)
    raise ValueError(f"unsupported how={how!r}")


def _grid_join(lb, rb, predicate, left_geom, right_geom, cell_size, distance, native_exact=None):
    pad = float(distance or 0.0)
    params = _grid_params(lb, rb, "l", "r", cell_size, pad)
    aux = {"l_bbox", "r_bbox", "l_is_box", "r_is_box"}
    out_cols = [c for c in lb.columns if c not in aux] + [c for c in rb.columns if c not in aux]
    if params is None:  # one side has no non-null geometry
        return lb.limit(0).crossJoin(rb.limit(0)).select(*out_cols)
    ox, oy, cs = params

    lc = _cells(lb, "l", ox, oy, cs, pad)
    rc = _cells(rb, "r", ox, oy, cs, 0.0)

    bbox_overlap = (
        (F.col("l_bbox.min_x") - pad <= F.col("r_bbox.max_x"))
        & (F.col("l_bbox.max_x") + pad >= F.col("r_bbox.min_x"))
        & (F.col("l_bbox.min_y") - pad <= F.col("r_bbox.max_y"))
        & (F.col("l_bbox.max_y") + pad >= F.col("r_bbox.min_y"))
    )
    # reference-point dedup: count the pair only in the cell that contains the
    # lower-left corner of the bbox intersection
    ref_x = F.greatest(F.col("l_bbox.min_x") - pad, F.col("r_bbox.min_x"))
    ref_y = F.greatest(F.col("l_bbox.min_y") - pad, F.col("r_bbox.min_y"))
    ref_cell = (
        F.floor((ref_x - ox) / cs).cast("long") * _CELL_SHIFT + F.floor((ref_y - oy) / cs).cast("long")
    )

    pairs = (
        lc.join(rc, on=lc["l_cell"] == rc["r_cell"], how="inner")
        .filter(bbox_overlap)
        .filter(F.col("l_cell") == ref_cell)
    )
    if native_exact is not None:
        pairs = pairs.filter(native_exact)  # pure Column — whole join JVM-side
    else:
        # JVM-side sure-false: containment predicates REQUIRE bbox
        # containment whatever the geometries are — cut those pairs
        # before any Python
        def _bbox_inside(a, b, strict):  # bbox(a) inside bbox(b)
            if strict:
                return (
                    (F.col(f"{a}_bbox.min_x") > F.col(f"{b}_bbox.min_x"))
                    & (F.col(f"{a}_bbox.max_x") < F.col(f"{b}_bbox.max_x"))
                    & (F.col(f"{a}_bbox.min_y") > F.col(f"{b}_bbox.min_y"))
                    & (F.col(f"{a}_bbox.max_y") < F.col(f"{b}_bbox.max_y"))
                )
            return (
                (F.col(f"{a}_bbox.min_x") >= F.col(f"{b}_bbox.min_x"))
                & (F.col(f"{a}_bbox.max_x") <= F.col(f"{b}_bbox.max_x"))
                & (F.col(f"{a}_bbox.min_y") >= F.col(f"{b}_bbox.min_y"))
                & (F.col(f"{a}_bbox.max_y") <= F.col(f"{b}_bbox.max_y"))
            )

        if predicate in ("within", "covered_by"):
            pairs = pairs.filter(_bbox_inside("l", "r", strict=False))
        elif predicate in ("contains", "contains_properly", "covers"):
            pairs = pairs.filter(_bbox_inside("r", "l", strict=False))
        recheck = _make_recheck_udf(predicate, distance)
        sure = None
        if "r_is_box" in pairs.columns and predicate in ("within", "intersects", "covered_by"):
            # sure-true against a solid-rectangle right: geom ⊆ bbox(geom),
            # so bbox(l) inside the box decides. within needs the OPEN box
            # (l entirely on the boundary is not within); intersects /
            # covered_by are decided by the closed box. Only boundary-band
            # and non-box pairs cross into Python — their inputs are masked
            # to NULL for sure rows, so no WKB even transfers.
            inside = _bbox_inside("l", "r", strict=predicate == "within")
            sure = F.coalesce(F.col("r_is_box") & inside, F.lit(False))
        elif "l_is_box" in pairs.columns and predicate in ("contains", "covers"):
            # symmetric: a solid-rectangle LEFT containing bbox(r) decides
            # contains (open box) / covers (closed box)
            inside = _bbox_inside("r", "l", strict=predicate == "contains")
            sure = F.coalesce(F.col("l_is_box") & inside, F.lit(False))
        if sure is not None:
            pairs = pairs.filter(
                sure
                | F.coalesce(
                    recheck(
                        F.when(~sure, F.col(left_geom)),
                        F.when(~sure, F.col(right_geom)),
                    ),
                    F.lit(False),
                )
            )
        else:
            pairs = pairs.filter(recheck(F.col(left_geom), F.col(right_geom)))
    return pairs.select(*out_cols)


def zonal_stats(
    cells: DataFrame,
    zones: DataFrame,
    value_cols,
    zone_cols=("zone_id",),
    predicate: str = "within",
    cell_geom: str = "geom",
    zone_geom: str = "geom",
    **join_kwargs,
):
    """Per-zone aggregates of cell/point values — the raster
    zonal-statistics shape (GDAL's zonal workflows over netCDF/raster
    grids) flattened onto the vector engine: grid cells arrive as POINT
    rows (e.g. from ``sources.netcdf3.read_netcdf``), zones as polygons.

    One spatial join (st_join's grid plan with all its input forms —
    native point/bbox sidecars and the box short-circuit included) followed by one map-side-combinable
    aggregate: n_cells + sum/avg/min/max per value column. No other
    shuffle; at 100 TB the join's grid exchange dominates and the agg
    combines map-side."""
    value_cols = [value_cols] if isinstance(value_cols, str) else list(value_cols)
    zone_cols = list(zone_cols)
    j = st_join(
        cells, zones, predicate=predicate,
        left_geom=cell_geom, right_geom=zone_geom, **join_kwargs,
    )
    aggs = [F.count("*").alias("n_cells")]
    for c in value_cols:
        aggs += [
            F.sum(c).alias(f"sum_{c}"),
            F.avg(c).alias(f"avg_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    return j.groupBy(*zone_cols).agg(*aggs)
