"""Spatial benchmark: one closed-loop client runs one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed`` (and
cached per seed under ``perfbench/.cache``); every result is checked
against a numpy oracle that does not import the package. The last line
of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The full results (every
metric with its sample count, the host canary) and, for a traced run,
the spans and harvested Spark metrics are written to
``perfbench/out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
PACKAGE = "duckdb_spatial_spark"

# fixed session settings: local mode with four task slots
SPARK_CONF = {
    "spark.master": "local[4]",
    "spark.app.name": "perfbench",
    "spark.driver.memory": "1g",
    "spark.sql.shuffle.partitions": "4",
    "spark.default.parallelism": "4",
    "spark.sql.adaptive.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class RssMonitor:
    """Samples the resident memory of this process and all descendants
    (Spark JVM, Python workers) and keeps the peak of their sum. The
    process tree is re-listed every tenth sample; reading only the known
    members in between keeps the sampler's own cost small."""

    def __init__(self, interval=0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tree = {os.getpid()}

    def _list_tree(self):
        me = os.getpid()
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    st = f.read()
            except OSError:
                continue
            parent[int(d)] = int(st[st.rindex(b")") + 2:].split()[1])
        tree, frontier = {me}, [me]
        children = {}
        for pid, pp in parent.items():
            children.setdefault(pp, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), []):
                if c not in tree:
                    tree.add(c)
                    frontier.append(c)
        self._tree = tree

    def _tree_rss(self):
        total = 0
        for pid in self._tree:
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self):
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:
                self._list_tree()
            n += 1
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self):
        self._t.start()

    def stop(self):
        self._stop.set()
        self._t.join(timeout=5)
        self.peak = max(self.peak, self._tree_rss())


def _inputs(cls, seed):
    """Generated inputs for (workload, seed), made once and cached."""
    d = os.path.join(CACHE, f"{cls.name}-{seed}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    tmp = d + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cls.generate(tmp, seed)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def _start_spark():
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in SPARK_CONF.items():
        b = b.config(k, v)
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    b = b.config("spark.local.dir", local)
    b = b.config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark):
    """Stop the session, then the gateway JVM, and wait until it exits
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)


def _canary(spark):
    """Host speed beside the results: a no-op Spark job and a fixed numpy
    loop. Not gated; they make session-to-session host swings visible."""
    import numpy as np

    noop = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(1).count()
        noop.append(1e3 * (time.perf_counter() - t))
    a = np.random.default_rng(0).standard_normal((256, 256))
    cpu = []
    for _ in range(5):
        t = time.perf_counter()
        for _ in range(20):
            a = np.tanh(a @ a.T * 1e-3)
        cpu.append(1e3 * (time.perf_counter() - t))
    return {"spark.noop_job_ms": statistics.median(noop),
            "host.cpu_loop_ms": statistics.median(cpu)}


def _warm_python_workers(spark):
    """One pandas-UDF query over four partitions: starts the four Python
    workers and imports the package in each, as any session's first ST_*
    query would."""
    spark.range(0, 4000, 1, 4).selectExpr(
        "sum(ST_X(ST_Point(CAST(id AS DOUBLE), 0.0)))").collect()


def _pct(values, q):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _warm_up(rounds):
    """Run the first round, untimed and unchecked: the first query of
    each shape pays for plan code generation and class loading that
    later ones reuse. A failure here is left to the timed loop to count."""
    for op in next(rounds):
        try:
            op.run()
        except Exception:  # noqa: BLE001 - counted when the loop repeats it
            pass


def _loop(rounds, seconds, tracer, harvest, ops_log, alternate):
    """Closed loop, one client: run whole rounds until ``seconds`` pass.
    With ``alternate`` the odd rounds are traced."""
    t_end = time.perf_counter() + seconds
    r = 0
    while True:
        batch = next(rounds)
        traced = alternate and r % 2 == 1
        for op in batch:
            _run_op(op, tracer, harvest, ops_log, traced)
        r += 1
        # an alternating run needs a traced and an untraced round at least
        if time.perf_counter() >= t_end and (not alternate or r >= 2):
            return


def _run_op(op, tracer, harvest, ops_log, traced):
    op_id = len(ops_log)
    rec = {"id": op_id, "kind": op.kind, "rows": op.rows, "traced": traced, **op.tags}
    was = tracer.enabled
    tracer.enabled = traced
    tracer.op = op_id
    if traced and harvest:
        harvest.begin(op_id)
    t = time.perf_counter()
    try:
        with tracer.span(f"op.{op.kind}"):
            res = op.run()
        rec["ms"] = 1e3 * (time.perf_counter() - t)
        rec["ok"] = bool(op.check(res))
    except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
        rec["ms"] = 1e3 * (time.perf_counter() - t)
        rec["ok"] = False
        rec["error"] = f"{type(e).__name__}: {e}"[:500]
    if traced and harvest:
        rec["spark"] = harvest.end()
    tracer.enabled = was
    tracer.op = None
    ops_log.append(rec)
    return rec


def _geo_timings(sample):
    """In-process kernel timings (median microseconds per call) on a
    seeded sample of the workload's own geometries."""
    import numpy as np
    from duckdb_spatial_spark.geo import algorithms as A
    from duckdb_spatial_spark.geo import geom as GG
    from duckdb_spatial_spark.geo import wkb, wkt

    import gen as G

    off, x, y = sample["off"], sample["x"], sample["y"]
    blobs = G.wkb_polygons(off, x, y).to_pylist()
    texts = G.wkt_polygons(off, x, y)
    geoms = [wkb.from_wkb(b) for b in blobs]
    small = sorted(geoms, key=lambda g: len(g.data[0]))
    clip = GG.box_polygon(float(np.median(x)) - 0.005, float(np.median(y)) - 0.005,
                          float(np.median(x)) + 0.005, float(np.median(y)) + 0.005)
    px, py = sample["px"], sample["py"]

    def per_call(fn, items, reps=3):
        best = []
        for _ in range(reps):
            t = time.perf_counter()
            for it in items:
                fn(it)
            best.append(1e6 * (time.perf_counter() - t) / max(len(items), 1))
        return statistics.median(best)

    pairs = [(float(a), float(b), geoms[i % len(geoms)]) for i, (a, b) in enumerate(zip(px, py))]
    return {
        "geo.wkb_decode_us": per_call(wkb.from_wkb, blobs),
        "geo.wkb_encode_us": per_call(wkb.to_wkb, geoms),
        "geo.wkt_parse_us": per_call(wkt.from_wkt, texts),
        "geo.pip_us_per_point": per_call(lambda p: A.point_in_polygon(*p), pairs),
        "geo.intersection_us": per_call(lambda g: A.intersection(g, clip), geoms[:100]),
        "geo.union_us": per_call(lambda g: A.union(g, clip), geoms[:20]),
        "geo.is_valid_us": per_call(A.is_valid, small[:20]),
        "geo.buffer_us": per_call(lambda g: A.buffer(g, 0.001), small[:1], reps=1),
    }


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _kind_p50(ops, traced):
    """Mean over operation kinds of each kind's median latency: kinds
    differ several-fold in cost, so one median over the mix would sit in
    the gap between two kinds and jump between runs."""
    kinds = {}
    for o in ops:
        if o["ok"] and o["traced"] == traced:
            kinds.setdefault(o["kind"], []).append(o["ms"])
    return statistics.fmean(_median(v) for v in kinds.values()) if kinds else 0.0


def _layer_metrics(wl, ops_log, tracer):
    """Per-layer metrics of the traced rounds. A layer the workload never
    calls reports 0."""
    traced = [o for o in ops_log if o["traced"] and "spark" in o]
    n = max(len(traced), 1)
    tot = {}

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + v

    task_ms, skews = 0.0, []
    for o in traced:
        sp = o["spark"]
        add("jobs", sp["jobs"])
        add("tasks", sp["tasks"])
        add("shuffle", sp["shuffle_bytes"])
        for runs in sp["stage_task_ms"]:
            task_ms += sum(runs)
        for nd in sp["nodes"]:
            name, m = nd["node"], nd["metrics"]
            if name.startswith("Scan parquet") or name.startswith("Scan "):
                add("scan_files", m.get("number of files read", 0.0))
                add("scan_rows", m.get("number of output rows", 0.0))
                add("scan_ms", m.get("scan time", 0.0))
            elif "Python" in name or "Pandas" in name or "Arrow" in name:
                add("py_run", m.get("time to run Python workers", 0.0))
                add("py_boot", m.get("time to start Python workers", 0.0)
                    + m.get("time to initialize Python workers", 0.0))
                add("py_rows", m.get("number of output rows", 0.0))
                add("py_sent", m.get("data sent to Python workers", 0.0))
                add("py_recv", m.get("data returned from Python workers", 0.0))
            elif name.endswith("Join"):
                add("join_rows", m.get("number of output rows", 0.0))
        if o["kind"] == "join":
            add("join_points", o["rows"])
            add("matches", o.get("result_rows", 0))
            stages = [r for r in sp["stage_task_ms"] if r]
            if stages:
                big = max(stages, key=sum)
                med = statistics.median(big)
                skews.append(max(big) / med if med > 0 else 1.0)
        if "layout_files" in o:
            add("layout_files", o["layout_files"])
        add("results", max(o.get("result_rows", 0), 1))

    def ratio(a, b):
        return tot.get(a, 0.0) / tot[b] if tot.get(b) else 0.0

    side = wl.side_metrics()
    m = {
        "plans.scan_geo_parquet_ms": _median(tracer.durations_ms("plans.scan_geo_parquet")),
        "plans.files_kept_ratio": ratio("scan_files", "layout_files"),
        "plans.rows_scanned_per_result": ratio("scan_rows", "results"),
        "plans.recheck_rows_ratio": ratio("py_rows", "scan_rows"),
        "plans.write_geo_parquet_s": 1e-3 * _median(
            tracer.durations_ms("plans.write_geo_parquet")),
        "plans.layout_bytes_per_row": float(side.get("layout_bytes_per_row", 0.0)),
        "operators.st_join_plan_ms": _median(tracer.durations_ms("operators.st_join")),
        "operators.candidates_per_match": ratio("join_rows", "matches"),
        "operators.shuffle_bytes_per_point": ratio("shuffle", "join_points"),
        "operators.task_skew": _median(skews),
        "functions.python_total_ms": tot.get("py_run", 0.0) / n,
        "functions.python_boot_init_ms": tot.get("py_boot", 0.0) / n,
        "functions.python_rows": tot.get("py_rows", 0.0) / n,
        "functions.bytes_to_python_per_row": ratio("py_sent", "py_rows"),
        "functions.bytes_from_python_per_row": ratio("py_recv", "py_rows"),
        "functions.python_share": tot.get("py_run", 0.0) / task_ms if task_ms else 0.0,
        "sources.st_read_rows_per_s": 0.0,
        "spark.jobs_per_op": tot.get("jobs", 0.0) / n,
        "spark.tasks_per_op": tot.get("tasks", 0.0) / n,
        "spark.scan_ms": tot.get("scan_ms", 0.0) / n,
    }
    return m


def main(argv=None):
    args = _args(argv)
    # the program under test must be importable from the checkout root;
    # without it there is nothing to measure
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    cls = W.WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{cls.name}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (the launcher and Spark itself) keeps its temp files in the checkout
    # and writes no perf-data file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    t_gen = time.perf_counter()
    inputs = _inputs(cls, args.seed)
    gen_s = time.perf_counter() - t_gen

    from spans import SparkHarvest, Tracer

    import duckdb_spatial_spark as D

    mon = RssMonitor()
    mon.start()
    spark = None
    tracer = Tracer(bool(args.trace))
    try:
        t0 = time.perf_counter()
        spark = _start_spark()
        t1 = time.perf_counter()
        D.register_all(spark)
        t2 = time.perf_counter()
        _warm_python_workers(spark)
        t3 = time.perf_counter()
        canary = _canary(spark)
        wl = cls(spark, inputs, tracer)
        out = os.path.join(run_dir, "build")
        os.makedirs(out)
        t = time.perf_counter()
        wl.build(out)
        t4 = time.perf_counter()
        setup = {
            "session_start_s": t1 - t0, "register_all_s": t2 - t1,
            "python_worker_warmup_s": t3 - t2, "build_s": t4 - t,
        }
        setup_s = (t3 - t0) + (t4 - t)
        harvest = SparkHarvest(spark) if args.trace else None
        ops_log: list[dict] = []
        rounds = wl.rounds()
        tracer.enabled = False  # warm-up and untraced rounds record no spans
        _warm_up(rounds)
        # a traced run alternates untraced and traced rounds of the same
        # mix, so the difference of their latencies is the tracing overhead
        _loop(rounds, args.seconds, tracer, harvest, ops_log,
              alternate=bool(args.trace))
        extra = {}
        if args.trace:
            extra = _geo_timings(wl.geo_sample())
            extra.update(wl.trace_extras())
    finally:
        if spark is not None:
            _stop_spark(spark)
        mon.stop()

    lat = [o["ms"] for o in ops_log if o["ok"] and not o["traced"]]
    timed_s = 1e-3 * sum(o["ms"] for o in ops_log)
    rows = sum(o["rows"] for o in ops_log if o["ok"])
    failed = sum(not o["ok"] for o in ops_log)
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (_kind_p50(ops_log, traced=False), "ms"),
        "rows_per_s": (rows / timed_s if timed_s else 0.0, "rows/s"),
        "peak_rss_mb": (mon.peak / 2 ** 20, "MB"),
    }
    side = {
        "latency_p90_ms": _pct(lat, 0.90) if len(lat) >= 100 else None,
        "latency_samples": len(lat),
        "ops_per_s": len(ops_log) / timed_s if timed_s else 0.0,
        "error_rate": failed / max(len(ops_log), 1),
        "input_generation_s": gen_s,
        **wl.side_metrics(),
    }
    result = {"workload": cls.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "spark_conf": SPARK_CONF, "setup": setup,
              "canary": canary, "end_to_end": {k: v[0] for k, v in e2e.items()},
              "side": side, "ops": [{k: v for k, v in o.items() if k != "spark"} for o in ops_log]}
    if args.trace:
        layers = _layer_metrics(wl, ops_log, tracer)
        layers.update(extra)
        layers["trace.overhead_ms"] = (_kind_p50(ops_log, traced=True)
                                       - _kind_p50(ops_log, traced=False))
        result["per_layer"] = layers
        stem = os.path.join(OUT, f"{cls.name}-seed{args.seed}-trace")
        with open(stem + ".spans.json", "w", encoding="utf-8") as f:
            json.dump({"spans": tracer.self_times(),
                       "spark": {o["id"]: o["spark"] for o in ops_log if "spark" in o},
                       "overhead_ms": layers["trace.overhead_ms"]}, f)
        metrics = {k: {"value": v, "unit": _LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(OUT, f"{cls.name}-seed{args.seed}-trace{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops_log),
                      "failed": failed, "metrics": metrics}))
    return 0


_LAYER_UNITS = {
    "plans.scan_geo_parquet_ms": "ms", "plans.files_kept_ratio": "ratio",
    "plans.rows_scanned_per_result": "ratio", "plans.recheck_rows_ratio": "ratio",
    "plans.write_geo_parquet_s": "s", "plans.layout_bytes_per_row": "B/row",
    "operators.st_join_plan_ms": "ms", "operators.candidates_per_match": "ratio",
    "operators.shuffle_bytes_per_point": "B/row", "operators.task_skew": "ratio",
    "functions.python_total_ms": "ms", "functions.python_boot_init_ms": "ms",
    "functions.python_rows": "count", "functions.bytes_to_python_per_row": "B/row",
    "functions.bytes_from_python_per_row": "B/row", "functions.python_share": "ratio",
    "geo.wkb_decode_us": "us", "geo.wkb_encode_us": "us", "geo.wkt_parse_us": "us",
    "geo.pip_us_per_point": "us", "geo.buffer_us": "us", "geo.intersection_us": "us",
    "geo.union_us": "us", "geo.is_valid_us": "us",
    "sources.st_read_rows_per_s": "rows/s",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count", "spark.scan_ms": "ms",
    "trace.overhead_ms": "ms",
}


if __name__ == "__main__":
    sys.exit(main())
