"""The allocator tunables must ride the Python-worker EXEC environment.

glibc parses GLIBC_TUNABLES in ld.so at process start; Spark launches
worker daemons with ``sc.environment`` in the ProcessBuilder env, so the
injection in ``register_all`` is the one place early enough. These tests
pin the injection contract; the perf effect itself (page-fault tax once
per worker instead of once per batch): the same 5000-doc gram-hash pass
costs 0.37 s in sub-4MiB batches and 4.0 s in 8 MiB ones.
"""

import os

import duckdb_spatial_spark


def test_register_all_injects_glibc_tunables(spark):
    env = spark.sparkContext.environment
    assert "GLIBC_TUNABLES" in env  # conftest session ran register_all
    assert "glibc.malloc.mmap_threshold=" in env["GLIBC_TUNABLES"]
    assert "glibc.malloc.trim_threshold=" in env["GLIBC_TUNABLES"]


def test_injection_respects_existing_value(spark):
    env = spark.sparkContext.environment
    before = env["GLIBC_TUNABLES"]
    try:
        env["GLIBC_TUNABLES"] = "glibc.malloc.mmap_threshold=1"
        duckdb_spatial_spark._ensure_worker_alloc_tunables(spark)
        assert env["GLIBC_TUNABLES"] == "glibc.malloc.mmap_threshold=1"
    finally:
        env["GLIBC_TUNABLES"] = before


def test_injection_override_and_disable(spark, monkeypatch):
    env = spark.sparkContext.environment
    before = env.pop("GLIBC_TUNABLES")
    try:
        # empty override = leave the worker environment untouched
        monkeypatch.setenv("SPARK_GRAFT_WORKER_GLIBC_TUNABLES", "")
        duckdb_spatial_spark._ensure_worker_alloc_tunables(spark)
        assert "GLIBC_TUNABLES" not in env
        # a custom value wins over the built-in default
        monkeypatch.setenv(
            "SPARK_GRAFT_WORKER_GLIBC_TUNABLES", "glibc.malloc.mmap_threshold=2"
        )
        duckdb_spatial_spark._ensure_worker_alloc_tunables(spark)
        assert env["GLIBC_TUNABLES"] == "glibc.malloc.mmap_threshold=2"
    finally:
        env["GLIBC_TUNABLES"] = before


def test_worker_exec_env_carries_tunables(spark):
    """The var must be present in /proc/self/environ (exec-time env) of
    the python worker — not merely os.environ, which Spark also updates
    post-exec (too late for ld.so)."""
    import pandas as pd
    import pyspark.sql.types as T

    def probe(batches):
        raw = open("/proc/self/environ", "rb").read().decode(errors="replace")
        ok = "GLIBC_TUNABLES=glibc.malloc.mmap_threshold=" in raw
        for _ in batches:
            yield pd.DataFrame({"ok": [bool(ok)]})

    schema = T.StructType([T.StructField("ok", T.BooleanType())])
    rows = spark.range(1).mapInPandas(probe, schema).collect()
    assert rows and rows[0]["ok"] is True
