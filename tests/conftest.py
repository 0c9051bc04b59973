import os

import pytest
from pyspark.sql import SparkSession


def _cores() -> int:
    """Local cores for the test session: ``SPARK_GRAFT_CPUS`` when set
    (the test command in ROADMAP.md exports the host's core count), else
    ``os.cpu_count()``. More local slots than cores only add Python
    workers that compete for the same CPUs."""
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "")))
    except ValueError:
        return os.cpu_count() or 1


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master(f"local[{_cores()}]")
        .appName("duckdb_spatial_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    import duckdb_spatial_spark

    duckdb_spatial_spark.register_all(s)
    yield s
    s.stop()
