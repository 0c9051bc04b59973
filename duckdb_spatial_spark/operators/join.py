"""Spatial join: ``FROM a JOIN b ON ST_Predicate(a.geom, b.geom)``.

The reference rewrites such joins into a bbox range-join plus an exact
re-check filter (``spatial/src/spatial/core/optimizer_rules.cpp:33-279``:
``a.xmin<=b.xmax AND a.xmax>=b.xmin AND ...`` + LogicalFilter). OSS Spark has
no IEJoin physical operator, so the bbox phase is re-expressed as a
**grid-tessellation equi-join** (the published SpatialSpark/Sedona approach,
see PAPERS.md):

  1. bbox per row as four flat double columns — taken from plain columns
     for the point/bbox sidecar forms, else from ONE mapInPandas WKB pass
     (the reference's cached-bbox analog)
  2. grid sizing: a point side is never sampled (its bboxes have zero
     size); a non-point side costs one ``take`` job of its first 10k
     bboxes; ``cell_size=`` is job-free. The join is exact on any grid,
     only its speed depends on the sizing
  3. a point side keeps its one cell; a non-point side explodes onto the
     cells its bbox overlaps — one ``explode_outer`` over a linear cell
     index, pure Column, stays JVM-side
  4. ONE equi-join on the cell (cx, cy) (hash-partitioned both sides —
     scales linearly with executors; no broadcast of the big side) whose
     condition also carries the bbox-overlap terms (cheap, codegen'd), the
     containment terms of the containment predicates and, for a point left
     against solid boxes, the exact predicate itself
  5. de-duplicate multi-cell pairs with the *reference-point* trick: a pair
     is emitted only in the cell containing the lower-left corner of the
     two bboxes' intersection — no dropDuplicates shuffle needed (a point
     left meets each right row in one cell, so it needs no such term)
  6. exact predicate re-check as one filter through the predicate's own
     ``ST_*`` UDF (``st_within``, ``st_dwithin`` ...), the kernel SQL and
     filters call too — same two-phase exactness argument as the
     reference (bbox overlap is implied by all supported predicates,
     ``optimizer_rules.cpp:30-31``)

This is the only plan, as in the reference. A small right side is
broadcast by Spark's own ``autoBroadcastJoinThreshold``; a dense cell on a
shuffled join is split by AQE's skew-join handling
(``spark.sql.adaptive.skewJoin.enabled``), so the operator does no salting.

All 10 reference predicates are supported; ``ST_Disjoint`` is NOT eligible
(same exclusion as ``optimizer_rules.cpp:95``).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import udfs
from ..plans.pruning import _BOX_SURE, _dbl, _finite, _ident, _inside, _sure, job_description

_PREDICATES = (
    "intersects", "contains", "contains_properly", "within", "covers", "covered_by",
    "touches", "crosses", "overlaps", "equals", "dwithin",
)

_SJ_ID = "__sj_left_id"  # surrogate key for left/semi/anti reconciliation
_BOX = ("mnx", "mny", "mxx", "mxy")  # a side's flat bbox columns: {side}_mnx ...
# ST_<pred>(box, g) for a solid-rectangle LEFT is ST_<converse>(g, box)
_CONVERSE = {"contains": "within", "covers": "covered_by"}


def _with_bbox(df: DataFrame, geom_col: str, p: str, with_isbox: bool = False) -> DataFrame:
    """Attach the bbox as four flat double columns ``{p}_mnx .. {p}_mxy``,
    computed in ONE Python pass per row; NULL/EMPTY geometries are dropped.

    A plain ``st_extent(geom)`` column gets re-expanded by Catalyst into
    every downstream operator that references it (audited: 6 Python evals
    per grid join in round 1). mapInPandas is a hard barrier — the bbox
    fields come out as materialized attributes, so the decode runs exactly
    once however many times the plan references them. Point WKB decodes
    vectorized (fastpath.bbox_arrays).

    ``with_isbox=True`` additionally emits ``{p}_is_box`` (the row's
    geometry IS the solid rectangle of its bbox — detected in the same
    pass, ``fastpath.box_flags``) so downstream predicates can decide
    within/intersects from bboxes alone for rectangle rows."""
    from pyspark.sql import types as T

    from ..functions import fastpath

    flat = [f"{p}_{f}" for f in _BOX]
    extra = [T.StructField(c, T.DoubleType()) for c in flat]
    if with_isbox:
        extra.append(T.StructField(f"{p}_is_box", T.BooleanType()))
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
                cols[f"{p}_is_box"] = ib[keep]
            yield out.assign(**cols)

    return df.mapInPandas(gen, schema=schema)


def _sidecar(df: DataFrame, cols, p: str, extra=()) -> DataFrame:
    """The bbox from plain columns — ``cols`` is ``(x, y)`` for a point
    side, else ``(mnx, mny, mxx, mxy)`` — in one select and one filter.
    A row with a NULL, NaN or infinite coordinate matches nothing and has
    no grid cell, so it is dropped before the sizing sample and the cell
    arithmetic (``abs(NaN) < inf`` is false in Spark)."""
    names = [f"{p}_{f}" for f in _BOX[: len(cols)]]
    return df.selectExpr(
        "*", *(f"{_ident(c)} AS {n}" for c, n in zip(cols, names)), *extra
    ).filter(_finite(*names))


def _grid_params(sized, cell_size, pad=0.0):
    """Grid origin + cell size, from the ``(frame, prefix)`` sides in
    ``sized``.

    Sizing rule: an explicit ``cell_size`` is free (fixed origin, no job).
    Otherwise only the non-point sides are sampled — a point side's bboxes
    have zero size, so it is never read — and each costs one ``take`` of
    its first 10k bboxes: one job, one task (``coalesce(1)``), no shuffle,
    reading only the first partitions. No full-table pass (the reference
    sizes from bind-time stats; at 100 TB a stats pass per join would be a
    full scan). Rows with a NULL, NaN or infinite field are dropped from
    the sample. The job runs under the description "st_join: grid sizing
    sample"; the caller's own description is restored afterwards.

    Only performance depends on the sizing: the join is exact on any grid.
    Returns None when a sampled side has no finite bbox."""
    if cell_size is not None:
        return 0.0, 0.0, float(cell_size)
    stats = []
    with job_description(sized[0][0].sparkSession.sparkContext, "st_join: grid sizing sample"):
        for df, p in sized:
            rows = df.select(*(f"{p}_{f}" for f in _BOX)).coalesce(1).take(10_000)
            a = np.array([tuple(r) for r in rows], dtype=np.float64).reshape(-1, 4)
            a = a[np.isfinite(a).all(axis=1)]
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
    # over the sampled extent
    base = avg_dim * 2.0 + pad * 2.0
    if base <= 0:
        base = extent / 1024.0
    cell_size = max(base, extent / float(1 << 20))
    return float(min_x), float(min_y), float(cell_size)


def _grid_join(lb, rb, point, native, predicate, left_geom, right_geom, cell_size, distance):
    """The whole bbox phase as ONE equi-join on the cell ``(cx, cy)``: its
    condition carries the bbox-overlap, reference-cell, containment and
    native-exact terms. The exact recheck follows as one filter. The
    dwithin pad goes on the right side, so a point left keeps its one cell.

    A solid-rectangle side (``r_is_box`` / ``l_is_box``) is decided by
    ``filter_bbox``'s cached-bbox rule: ``_inside`` and ``_sure`` in
    ``plans.pruning``, with :func:`_masked_recheck` below.

    Expressions are SQL text, parsed once on the JVM: each PySpark Column
    operator costs several py4j round trips (about 1,700 per join when
    this plan was built from Columns)."""
    pad = float(distance or 0.0)
    params = _grid_params([(rb, "r")] if point else [(lb, "l"), (rb, "r")], cell_size, pad)
    if params is None:  # a sampled side has no finite bbox
        return lb.limit(0).crossJoin(rb.limit(0))
    ox, oy, cs = (_dbl(v) for v in params)
    L = ("l_mnx", "l_mny") * 2 if point else tuple(f"l_{f}" for f in _BOX)
    R = tuple(f"r_{f}" for f in _BOX)
    Rp = tuple(f"({c} {s} {_dbl(pad)})" for c, s in zip(R, "--++")) if pad else R

    def cx(e):
        return f"floor(({e} - {ox}) / {cs})"

    def cy(e):
        return f"floor(({e} - {oy}) / {cs})"

    def grid(df, p, b):
        # one row per overlapped cell: a linear index k over the nx*ny
        # range, cell k = (cx0 + k div ny, cy0 + k % ny). explode_outer,
        # because a plain explode makes Catalyst infer a filter that
        # evaluates the sequence a second time
        k, ny = f"{p}_k", f"({cy(b[3])} - {cy(b[1])} + 1)"
        n = f"({cx(b[2])} - {cx(b[0])} + 1) * {ny}"
        cells = df.selectExpr("*", f"explode_outer(sequence(0, {n} - 1)) AS {k}")
        return cells, (f"{cx(b[0])} + {k} div {ny}", f"{cy(b[1])} + {k} % {ny}")

    # a cell is two join keys, never one packed id: no two cells share a key
    rc, (rcx, rcy) = grid(rb, "r", Rp)
    lc, (lcx, lcy) = (lb, (cx(L[0]), cy(L[1]))) if point else grid(lb, "l", L)
    terms = [f"{lcx} = {rcx}", f"{lcy} = {rcy}", f"{L[0]} <= {Rp[2]}", f"{L[2]} >= {Rp[0]}",
             f"{L[1]} <= {Rp[3]}", f"{L[3]} >= {Rp[1]}"]
    if not point:
        # reference-point dedup: a pair that meets in several cells is kept
        # only in the cell holding the lower-left corner of the bboxes'
        # intersection (a point left has one cell, so its pairs meet once)
        ref_x, ref_y = f"greatest({L[0]}, {Rp[0]})", f"greatest({L[1]}, {Rp[1]})"
        terms += [f"{lcx} = {cx(ref_x)}", f"{lcy} = {cy(ref_y)}"]
    # point x box: the bbox comparison IS the exact predicate -> no UDF
    exact = native and predicate in (*_BOX_SURE, "dwithin")
    if exact:  # intersects / covered_by: the overlap terms are already exact
        if predicate == "within":
            terms.append(_sure("within", L, R))
        elif predicate == "dwithin":
            dx = f"greatest({R[0]} - {L[0]}, {L[0]} - {R[2]}, 0D)"
            dy = f"greatest({R[1]} - {L[1]}, {L[1]} - {R[3]}, 0D)"
            terms.append(f"sqrt({dx} * {dx} + {dy} * {dy}) <= {_dbl(pad)}")
    elif predicate in ("within", "covered_by"):
        # JVM-side sure-false: containment predicates REQUIRE bbox
        # containment whatever the geometries are
        terms.append(_inside(L, R, strict=False))
    elif predicate in ("contains", "contains_properly", "covers"):
        terms.append(_inside(R, L, strict=False))
    pairs = lc.join(rc, F.expr(" AND ".join(terms)), "inner")
    if exact:
        return pairs  # pure SQL expressions — the whole join is JVM-side
    udf, args = _recheck(predicate), ((F.lit(pad),) if predicate == "dwithin" else ())
    lg, rg = _ident(left_geom), _ident(right_geom)
    # a box right decides within / intersects / covered_by from bbox(l), a
    # box left contains / covers from bbox(r); only the rest reach Python
    sure = None
    if "r_is_box" in rb.columns and (s := _sure(predicate, L, R)):
        sure = f"coalesce(r_is_box AND {s}, false)"
    elif "l_is_box" in lb.columns and (s := _sure(_CONVERSE.get(predicate), R, L)):
        sure = f"coalesce(l_is_box AND {s}, false)"
    if sure is None:
        return pairs.filter(udf(F.expr(lg), F.expr(rg), *args))
    return pairs.filter(_masked_recheck(sure, udf, (lg, rg), *args))


def _masked_recheck(sure: str, udf, masked, *rest):
    """``sure OR coalesce(udf(CASE WHEN NOT sure THEN m END ..., *rest),
    false)``: sure rows pass outright and only the rest reach the exact
    UDF. Catalyst evaluates an extracted Python UDF on every row, so the
    lever is the NULL mask on the ``masked`` SQL arguments — decided rows
    ship a null bitmap, not WKB, and the kernel skips them."""
    args = (F.expr(f"CASE WHEN NOT {sure} THEN {m} END") for m in masked)
    return F.expr(sure) | F.coalesce(udf(*args, *rest), F.lit(False))


def _recheck(predicate: str):
    """The exact recheck of ``predicate``: its module-level ``ST_*`` UDF,
    the one SQL and filters call (``dwithin`` takes the distance as a
    third argument). Its NULL result on a NULL input filters as no match."""
    return getattr(udfs, "st_" + predicate.replace("_", ""))


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
    cached-RTree-bbox analog).

    ``right_is_box=True`` declares every ``right_bbox`` row a solid
    rectangle: the one way to join x/y points to bbox-only rectangles with
    no geometry column. With ``left_point=``, within / intersects /
    covered_by / dwithin then run no recheck UDF (the bbox test IS the
    exact test for point×box) and never read ``right_geom``. A WKB side's
    rectangles are detected in its bbox pass (``fastpath.box_flags``).

    Building the plan runs at most one Spark job per non-point side (the
    grid sizing sample, see ``_grid_params``); with ``cell_size=`` none.

    ``cell_size`` must be finite and > 0 and ``distance`` finite, else
    ``ValueError`` before any plan is built; a negative distance matches
    nothing, as in ST_DWithin.

    ``strategy`` accepts only ``"grid"``, the one plan."""
    if predicate == "disjoint":
        raise ValueError("disjoint joins are not accelerable (reference excludes them too)")
    if predicate not in _PREDICATES:
        raise ValueError(f"unsupported predicate {predicate!r}; supported: {sorted(_PREDICATES)}")
    if predicate == "dwithin" and distance is None:
        raise ValueError("dwithin requires distance=")
    if cell_size is not None and not 0 < float(cell_size) < math.inf:
        raise ValueError(f"cell_size must be finite and > 0, got {cell_size!r}")
    if distance is not None and not math.isfinite(float(distance)):
        raise ValueError(f"distance must be finite, got {distance!r}")
    if strategy != "grid":
        raise ValueError(
            f"unsupported strategy {strategy!r}: st_join has one plan, 'grid' "
            "(the 'broadcast' and 'auto' strategies were removed)"
        )
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(f"unsupported how={how!r}")

    # left/semi/anti reconciliation joins back on a surrogate row id, never on
    # the left columns themselves: plain equality drops NULL-bearing rows,
    # collapses duplicate rows, and would compare full WKB blobs in the
    # shuffle. The id is assigned before the spatial join so it rides through
    # it; both reconciliation branches derive from this same tagged plan.
    if how != "inner":
        left = left.withColumn(_SJ_ID, F.monotonically_increasing_id())

    # disambiguate clashing column names (right gets _right suffix)
    clash = set(left.columns) & set(right.columns)
    if clash:
        renames = {c: f"{c}_right" for c in clash}
        right = right.toDF(*(renames.get(c, c) for c in right.columns))
        right_geom = renames.get(right_geom, right_geom)
        if right_bbox is not None:
            right_bbox = tuple(renames.get(c, c) for c in right_bbox)

    point = left_point is not None
    if point or left_bbox is not None:
        lb = _sidecar(left, left_point if point else left_bbox, "l")
    else:
        # symmetric box detection for contains/covers: a solid-rectangle
        # LEFT decides those predicates from bboxes alone in _grid_join
        lb = _with_bbox(left, left_geom, "l", with_isbox=predicate in _CONVERSE)
    if right_bbox is not None:
        # right_is_box: the caller vouches every right row is the solid
        # rectangle of its bbox — the grid recheck can then decide rows
        # JVM-side even when the LEFT side is general WKB (no left_point)
        rb = _sidecar(right, right_bbox, "r", ["true AS r_is_box"] if right_is_box else ())
    else:
        # detect rectangle rights in the same decode pass that builds the
        # bbox: for predicates where a box right decides from bboxes alone,
        # sure-true pairs never cross into the recheck UDF (_grid_join)
        rb = _with_bbox(
            right, right_geom, "r",
            with_isbox=predicate in _BOX_SURE,
        )

    joined = _grid_join(
        lb, rb, point, point and right_is_box, predicate, left_geom, right_geom, cell_size, distance
    ).select(*left.columns, *right.columns)
    if how == "inner":
        return joined
    matched_ids = joined.select(_SJ_ID).distinct()
    if how in ("left_semi", "left_anti"):
        return left.join(matched_ids, on=_SJ_ID, how=how).drop(_SJ_ID)
    nulls = (F.lit(None).cast(f.dataType).alias(f.name) for f in right.schema.fields)
    unmatched = left.join(matched_ids, on=_SJ_ID, how="left_anti").select("*", *nulls)
    return joined.unionByName(unmatched).drop(_SJ_ID)


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
