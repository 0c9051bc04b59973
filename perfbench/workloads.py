"""The benchmark's workloads.

Each workload class has
  * ``generate(dir, seed)`` — write every input file and the oracle's
    expected answers into ``dir`` (plain numpy, no package import);
  * ``build(out)`` — the timed set-up (layout build, or binding the inputs);
  * ``rounds()`` — an endless iterator of rounds; a round is a list of
    ``Op`` that the closed loop runs one after another;
  * ``generate`` also saves a sample of the workload's own polygons and
    points for the in-process kernel timings of the traced run.

An ``Op`` returns a result; its ``check`` compares the result with the
oracle outside the timed region.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
from duckdb_spatial_spark.operators.join import st_join
from duckdb_spatial_spark.plans.pruning import filter_bbox, scan_geo_parquet, write_geo_parquet
from duckdb_spatial_spark.sources import st_read

import gen as G
import oracle as O


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    rows: int
    tags: dict = field(default_factory=dict)


def _save(d, name, **arrays):
    np.savez(os.path.join(d, name), **arrays)


def _load(d, name):
    with np.load(os.path.join(d, name + ".npz")) as z:
        return {k: z[k] for k in z.files}


def _polys_npz(offsets, x, y):
    return {"off": offsets, "x": x, "y": y}


def _window(centre, side):
    x0, y0, x1, y1 = G.DOMAIN
    half = side / 2.0
    cx = np.clip(centre[0], x0 + half, x1 - half)
    cy = np.clip(centre[1], y0 + half, y1 - half)
    return (float(cx - half), float(cy - half), float(cx + half), float(cy + half))


class Workload:
    name = ""

    def __init__(self, spark, inputs: str, tracer):
        self.spark = spark
        self.inputs = inputs
        self.tr = tracer
        self.layout = None

    def side_metrics(self) -> dict:
        return {}

    def trace_extras(self) -> dict:
        return {}

    def geo_sample(self) -> dict:
        return _load(self.inputs, "sample")

    def _action(self, fn):
        with self.tr.span("spark.action"):
            return fn()


# ------------------------------------------------------------------ window
class WindowQuery(Workload):
    """Seeded windowed counts and id fetches over two Hilbert-clustered
    layouts: points (``point_xy`` lane, JVM-side within) and convex
    polygons (generic lane, boundary-band recheck in Python)."""

    name = "window_query"
    N_POINTS = 100_000
    N_POLYS = 5_000
    N_QUERIES = 160
    KINDS = ("pt_count", "poly_count", "pt_ids", "poly_ids")

    @staticmethod
    def generate(d, seed):
        rng = np.random.default_rng([seed, 1])
        x0, y0, x1, y1 = G.DOMAIN
        lake = (x0 + rng.uniform(1, 6), y0 + rng.uniform(1, 6))
        lake = (lake[0], lake[1], lake[0] + 2.0, lake[1] + 2.0)
        px, py = G.point_mixture(rng, WindowQuery.N_POINTS * 5 // 4, 0.4, 6, 0.15)
        dry = ~O.points_in_window(px, py, lake, strict=False)
        px, py = px[dry][: WindowQuery.N_POINTS], py[dry][: WindowQuery.N_POINTS]
        pid = np.arange(len(px), dtype=np.int64)
        G.write_parquet(os.path.join(d, "points.parquet"),
                        pa.table({"id": pid, "x": px, "y": py}))
        cx, cy = G.point_mixture(rng, WindowQuery.N_POLYS * 5 // 4, 0.4, 6, 0.3)
        dry = ~O.points_in_window(cx, cy, lake, strict=False)
        cx, cy = cx[dry][: WindowQuery.N_POLYS], cy[dry][: WindowQuery.N_POLYS]
        cx = np.clip(cx, x0 + 0.05, x1 - 0.05)
        cy = np.clip(cy, y0 + 0.05, y1 - 0.05)
        off, x, y = G.convex_ngons(rng, cx, cy, 0.002, 0.02, 5, 64)
        qid = np.arange(len(cx), dtype=np.int64)
        G.write_lines(os.path.join(d, "polygons.geojsonl"), G.geojson_polygon_lines(
            qid, off, x, y, G.quantize(rng.uniform(0, 100, len(qid)))))
        bb = O.bboxes(off, x, y)
        hot = np.column_stack(G.point_mixture(rng, 64, 1.0, 6, 0.15))
        rects, kinds, counts, ids = [], [], [], []
        for i in range(WindowQuery.N_QUERIES):
            # round k = i // 4 takes its place and selectivity class from k,
            # so every run meets the same mix whatever the seed
            kind, k = i % 4, i // 4
            where = k % 3  # hotspot | anywhere | lake
            if where == 0:
                c = hot[rng.integers(0, len(hot))]
            elif where == 1:
                c = (rng.uniform(x0, x1), rng.uniform(y0, y1))
            else:
                c = (rng.uniform(lake[0], lake[2]), rng.uniform(lake[1], lake[3]))
            # window side 0.01..1 of a 10-unit domain (area shares 1e-6..1e-2),
            # one of four decade-wide classes per round; id fetches stay in
            # the two smallest classes
            classes = 2 if kind >= 2 else 4
            side = 10.0 * 10 ** -(3.0 - 0.5 * ((k % classes) + rng.uniform(0.0, 1.0)))
            r = _window(c, side)
            if kind in (0, 2):
                m = O.points_in_window(px, py, r, strict=True)
                sel = pid[m]
            else:
                m = O.convex_intersects_convex(off, x, y, bb, *O.rect_ring(r))
                sel = qid[m]
            rects.append(r)
            kinds.append(kind)
            counts.append(len(sel))
            ids.append(np.sort(sel) if kind >= 2 else np.zeros(0, np.int64))
        id_off = np.zeros(len(ids) + 1, dtype=np.int64)
        np.cumsum([len(a) for a in ids], out=id_off[1:])
        _save(d, "queries", rects=np.array(rects), kinds=np.array(kinds),
              counts=np.array(counts), id_off=id_off, ids=np.concatenate(ids))
        _save(d, "sample", **_polys_npz(off[:201], x[: off[200]], y[: off[200]]),
              px=px[:2000], py=py[:2000])

    def build(self, out):
        pts, polys = os.path.join(out, "points"), os.path.join(out, "polygons")
        with self.tr.span("plans.write_geo_parquet"):
            write_geo_parquet(
                self.spark.read.parquet(os.path.join(self.inputs, "points.parquet")),
                pts, point_xy=("x", "y"), bounds=G.DOMAIN)
        with self.tr.span("sources.st_read"):
            df = st_read(self.spark, os.path.join(self.inputs, "polygons.geojsonl"))
        with self.tr.span("plans.write_geo_parquet"):
            write_geo_parquet(df.select(df["fid"].alias("id"), "geom"), polys, bounds=G.DOMAIN)
        self.layout = {"pt": pts, "poly": polys}
        self.n_files = {k: sum(f.endswith(".parquet") for f in os.listdir(p))
                        for k, p in self.layout.items()}

    def rounds(self):
        q = _load(self.inputs, "queries")
        i = 0
        while True:
            batch = []
            for _ in range(len(self.KINDS)):
                batch.append(self._op(q, i % len(q["kinds"])))
                i += 1
            yield batch

    def _op(self, q, i):
        kind = self.KINDS[int(q["kinds"][i])]
        r = tuple(float(v) for v in q["rects"][i])
        target = "pt" if kind.startswith("pt") else "poly"
        path = self.layout[target]
        spark = self.spark
        expected_n = int(q["counts"][i])
        expected_ids = q["ids"][q["id_off"][i]:q["id_off"][i + 1]]
        n_rows = WindowQuery.N_POINTS if target == "pt" else WindowQuery.N_POLYS

        def run():
            with self.tr.span("plans.scan_geo_parquet"):
                df = scan_geo_parquet(spark, path, bbox=r)
            with self.tr.span("plans.filter_bbox"):
                if target == "pt":
                    df = filter_bbox(df, *r, exact="within", points=True)
                else:
                    df = filter_bbox(df, *r, exact="intersects")
            if kind.endswith("count"):
                return self._action(df.count)
            return self._action(lambda: sorted(row[0] for row in df.select("id").collect()))

        def check(res):
            if kind.endswith("count"):
                return res == expected_n
            return len(res) == len(expected_ids) and bool(np.all(np.asarray(res) == expected_ids))

        return Op(kind, run, check, n_rows,
                  {"result_rows": expected_n, "layout_files": self.n_files[target]})

    def side_metrics(self):
        if self.layout is None:
            return {}
        stored = sum(os.path.getsize(os.path.join(p, f)) for p in self.layout.values()
                     for f in os.listdir(p) if f.endswith(".parquet"))
        given = sum(os.path.getsize(os.path.join(self.inputs, f))
                    for f in ("points.parquet", "polygons.geojsonl"))
        return {"layout_bytes_per_row": stored / (self.N_POINTS + self.N_POLYS),
                "stored_bytes_per_input_byte": stored / given}

    def trace_extras(self):
        """GeoJSONSeq parse rate: st_read is lazy, so its parse is timed
        on its own through a no-op sink."""
        src = os.path.join(self.inputs, "polygons.geojsonl")
        t = time.perf_counter()
        st_read(self.spark, src).write.format("noop").mode("overwrite").save()
        return {"sources.st_read_rows_per_s": self.N_POLYS / (time.perf_counter() - t)}


# ------------------------------------------------------------------ join
class PipJoin(Workload):
    """Point-in-polygon grid join of skewed points (uniform background +
    Gaussian hotspots) against a grid of disjoint convex polygons, then a
    count per polygon. Each operation joins the next point batch."""

    name = "pip_join"
    N_SIDE = 50  # polygons: N_SIDE² cells, one convex polygon per cell
    N_BATCHES = 4
    BATCH = 25_000

    @staticmethod
    def generate(d, seed):
        rng = np.random.default_rng([seed, 2])
        cx, cy, cell = G.grid_centres(PipJoin.N_SIDE, 0.05, rng)
        off, x, y = G.convex_ngons(rng, cx, cy, 0.3 * cell, 0.44 * cell, 5, 12)
        pid = np.arange(len(cx), dtype=np.int64)
        # polygons carry bbox sidecar columns, as a clustered layout does
        t = G.polygon_table(pid, off, x, y)
        for name, col in zip(("mnx", "mny", "mxx", "mxy"), O.bboxes(off, x, y)):
            t = t.append_column(name, pa.array(col))
        G.write_parquet(os.path.join(d, "polygons.parquet"), t)
        x0, y0 = G.DOMAIN[0], G.DOMAIN[1]
        counts = []
        for b in range(PipJoin.N_BATCHES):
            px, py = G.point_mixture(rng, PipJoin.BATCH, 0.5, 5, 0.05)
            ids = np.arange(b * PipJoin.BATCH, (b + 1) * PipJoin.BATCH, dtype=np.int64)
            G.write_parquet(os.path.join(d, f"points-{b}.parquet"),
                            pa.table({"id": ids, "x": px, "y": py,
                                      "geom": G.wkb_points(px, py)}))
            ci = np.clip(((px - x0) / cell).astype(np.int64), 0, PipJoin.N_SIDE - 1)
            cj = np.clip(((py - y0) / cell).astype(np.int64), 0, PipJoin.N_SIDE - 1)
            inside = O.points_strictly_in_convex(px, py, ci * PipJoin.N_SIDE + cj, off, x, y)
            counts.append(np.bincount((ci * PipJoin.N_SIDE + cj)[inside], minlength=len(pid)))
            if b == 0:
                spx, spy = px[:2000], py[:2000]
        _save(d, "truth", counts=np.array(counts))
        _save(d, "sample", **_polys_npz(off[:201], x[: off[200]], y[: off[200]]),
              px=spx, py=spy)

    def build(self, out):
        # no layout: binding the inputs is the whole set-up
        self.polys = self.spark.read.parquet(os.path.join(self.inputs, "polygons.parquet"))
        self.batches = [self.spark.read.parquet(os.path.join(self.inputs, f"points-{b}.parquet"))
                        for b in range(self.N_BATCHES)]

    def rounds(self):
        truth = _load(self.inputs, "truth")["counts"]
        b = 0
        while True:  # one join per round, batches in turn
            yield [self._op(b, truth[b])]
            b = (b + 1) % self.N_BATCHES

    def _op(self, b, expected):
        pts = self.batches[b]

        def run():
            with self.tr.span("operators.st_join"):
                j = st_join(pts, self.polys, predicate="within", strategy="grid",
                                     left_point=("x", "y"),
                                     right_bbox=("mnx", "mny", "mxx", "mxy"))
            agg = j.groupBy("id_right").count()
            return self._action(lambda: {r[0]: r[1] for r in agg.collect()})

        def check(res):
            nz = np.nonzero(expected)[0]
            return len(res) == len(nz) and all(res.get(int(k)) == int(expected[k]) for k in nz)

        return Op("join", run, check, self.BATCH, {"result_rows": int(expected.sum())})


WORKLOADS = {c.name: c for c in (WindowQuery, PipJoin)}
