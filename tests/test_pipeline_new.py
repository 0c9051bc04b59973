"""Arrow IPC source and sink: file-format roundtrip, the row-count
guard, and the IPC stream format."""

import os
import tempfile

import pytest


def test_arrow_ipc_roundtrip(spark):
    from duckdb_spatial_spark.sources import st_read, write_arrow_ipc

    df = spark.range(1000).selectExpr(
        "id", "ST_AsWKB(ST_Point(CAST(id AS DOUBLE), CAST(id * 2 AS DOUBLE))) AS geom",
        "CAST(id AS DOUBLE) / 7 AS v", "concat('r', id) AS name",
    )
    path = tempfile.mktemp(suffix=".arrow")
    try:
        write_arrow_ipc(df, path, batch_rows=100)
        back = st_read(spark, path)
        assert back.count() == 1000
        assert set(back.columns) == {"id", "geom", "v", "name"}
        # geometry survives byte-exact; batch-parallel read covers all rows
        chk = back.selectExpr("id", "ST_X(ST_GeomFromWKB(geom)) AS x").filter(
            "x <> CAST(id AS DOUBLE)"
        )
        assert chk.count() == 0
        # column pruning path
        # uniform ST_Read contract: columns= restricts ATTRIBUTES, the
        # geometry column is always kept (GDAL semantics)
        pruned = st_read(spark, path, columns=["id", "v"])
        assert pruned.columns == ["id", "v", "geom"]
        import pyarrow as pa

        with pa.OSFile(path, "rb") as f:
            r = pa.ipc.open_file(f)
            # upstream partition chunks may split batches further; the
            # point is the file is multi-batch (=> parallel read)
            assert r.num_record_batches >= 10
            assert b"geo" in (r.schema.metadata or {})
    finally:
        if os.path.exists(path):
            os.unlink(path)


def test_arrow_ipc_max_rows_guard(spark):
    from duckdb_spatial_spark.sources import write_arrow_ipc

    df = spark.range(100)
    with pytest.raises(ValueError, match="max_rows"):
        write_arrow_ipc(df, tempfile.mktemp(suffix=".arrow"), max_rows=50)


def test_arrow_ipc_stream_format(spark, tmp_path):
    """.arrows (IPC STREAM format, no footer) reads via the streaming
    reader fallback."""
    import pyarrow as pa

    from duckdb_spatial_spark.sources import st_read

    t = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    p = str(tmp_path / "s.arrows")
    with pa.OSFile(p, "wb") as f:
        with pa.ipc.new_stream(f, t.schema) as w:
            w.write_table(t)
    df = st_read(spark, p)
    assert df.count() == 3 and df.columns == ["a", "b"]
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]
