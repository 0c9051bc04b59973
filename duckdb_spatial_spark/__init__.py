"""duckdb_spatial_spark — PySpark-native spatial analytics engine.

Re-expresses the capability surface of the duckdb/duckdb_spatial extension
(reference snapshot at /root/reference, 2024-10-16) Spark-first:

* GEOMETRY = WKB bytes in a BinaryType column (canonical form)
* columnar POINT_2D / BOX_2D / LINESTRING_2D / POLYGON_2D = struct/array
  columns with pure Column-expression kernels (no Python cost)
* ~110 ST_* functions registered as Spark SQL functions
* spatial join, Hilbert clustering + bbox pruning (R-tree analog)
* ST_Read-style format readers and writers
"""

__version__ = "0.1.0"

# glibc mmaps every malloc >= 4 MiB by default and munmaps it on free, so
# an Arrow kernel that allocates N-sized scratch arrays per batch faults
# every page of every array on every batch. On hosts with slow page
# faults (VM/microVM sandboxes measure 30-45 ms/MB here — 250x a bare
# fault) that tax dominates the kernel: the same 5000-doc gram-hash pass
# costs 0.37 s in sub-4MiB batches and 4.0 s in 8 MiB ones. Raising the
# mmap/trim thresholds keeps big scratch chunks on the recycled brk heap
# so pages fault once per worker, not once per batch. Parsed by ld.so at
# exec, so it must ride the PYTHON WORKER's exec-time environment (Spark
# launches the worker daemon with ``sc.environment``); post-exec
# ``os.environ`` writes cannot do this. Retention is bounded by the
# worker's peak scratch (≤ threshold-sized chunks). Override or disable
# with SPARK_GRAFT_WORKER_GLIBC_TUNABLES (empty string = leave unset).
_WORKER_GLIBC_TUNABLES = (
    "glibc.malloc.mmap_threshold=268435456:glibc.malloc.trim_threshold=268435456"
)


def _ensure_worker_alloc_tunables(spark):
    """Inject allocator tunables into the Python-worker exec environment.

    ``sc.environment`` feeds PythonFunction.envVars, which Spark applies
    to the worker daemon's ProcessBuilder environment — i.e. exec-time,
    early enough for ld.so to parse GLIBC_TUNABLES. setdefault keeps any
    value the operator already configured."""
    import os

    val = os.environ.get("SPARK_GRAFT_WORKER_GLIBC_TUNABLES", _WORKER_GLIBC_TUNABLES)
    if not val:
        return
    try:
        spark.sparkContext.environment.setdefault("GLIBC_TUNABLES", val)
    except Exception:  # noqa: BLE001 - e.g. Spark Connect: no local sc
        pass


def register_all(spark):
    """Register every ST_* function on the session."""
    from .functions import register_all as _reg

    _ensure_worker_alloc_tunables(spark)
    return _reg(spark)
