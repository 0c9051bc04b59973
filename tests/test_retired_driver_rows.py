"""Pytest tier for retired driver rows (r16, docs/RETIRED_QUERIES.md).

Every row in ``__spark_entry__.retired_queries()`` was green against its
DuckDB value oracle across 6+ driver rounds without a code change; this
suite runs the SAME row-count / column / value compare the driver gate
uses (via scripts/check_oracle.py's norm_rows) so retiring a row from
the driver window never weakens its correctness pin. Runs at sf0.001 —
most retired rows are fixture-driven and the rest only need a small
table to diverge if broken.
"""

import importlib.util
import math
import os
import pathlib

import pytest

_REPO = pathlib.Path(__file__).resolve().parents[1]
_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_spec = importlib.util.spec_from_file_location(
    "check_oracle", _REPO / "scripts" / "check_oracle.py"
)
_co = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_co)
norm_rows = _co.norm_rows

import __spark_entry__ as E  # noqa: E402


@pytest.fixture(scope="module")
def duck_con():
    import duckdb

    con = duckdb.connect()
    for t in E.TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{_SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(E.retired_queries()))
def test_retired_row(spark, duck_con, name):
    if not os.path.isdir(_SF_DIR):
        pytest.skip(f"{_SF_DIR} missing")
    fn = E.retired_queries()[name]
    sdf = fn(spark, _SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck_con.execute(E.oracle_sql()[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    sc, sr = norm_rows(scols, srows)
    oc, orr = norm_rows(ocols, orows)
    assert sc == oc, f"{name}: columns {sc} vs oracle {oc}"
    assert len(sr) == len(orr), f"{name}: rowcount {len(sr)} vs {len(orr)}"
    for a, b in zip(sr, orr):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                assert abs(x - y) < 1e-9 or (math.isnan(x) and math.isnan(y)), (
                    f"{name}: {a} vs {b}")
            else:
                assert x == y, f"{name}: {a} vs {b}"
