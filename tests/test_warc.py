"""WARC (ISO 28500) codec: roundtrips plain + per-record-gzip, HTTP
payload splitting, record-type filtering, header-only metadata."""


def _mk(spark, n=12):
    return spark.range(n).selectExpr(
        "id",
        "concat('http://w', CAST(id % 4 AS STRING), '.com/p', CAST(id AS STRING)) AS url",
        "concat('<html><head><title>T', CAST(id AS STRING),"
        " '</title></head><body><p>body ', CAST(id AS STRING),"
        " '</p></body></html>') AS payload",
    )


def test_warc_roundtrip_plain_and_gzip(spark, tmp_path):
    from duckdb_spatial_spark.sources import st_read, st_write

    df = _mk(spark)
    for fname in ("a.warc", "a.warc.gz"):
        p = str(tmp_path / fname)
        st_write(df, p)
        back = st_read(spark, p)
        rows = sorted(back.collect(), key=lambda r: r.target_uri)
        assert len(rows) == 12
        for r in rows:
            assert r.warc_type == "response" and r.http_status == 200
            assert r.content_type == "text/html"
            i = int(r.target_uri.rsplit("p", 1)[1])
            assert bytes(r.payload).decode() == (
                f"<html><head><title>T{i}</title></head>"
                f"<body><p>body {i}</p></body></html>"
            )


def test_warc_meta_and_type_filter(spark, tmp_path):
    from duckdb_spatial_spark.sources import st_read_meta, st_write
    from duckdb_spatial_spark.sources.warc import parse_warc, read_warc

    p = str(tmp_path / "m.warc")
    st_write(_mk(spark, 5), p)
    # append a non-response record by hand; the default read filters it out
    with open(p, "ab") as f:
        body = b"software: test"
        f.write(
            b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Type: application/warc-fields\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body + b"\r\n\r\n"
        )
    assert len(list(parse_warc(open(p, "rb").read()))) == 6
    assert read_warc(spark, p).count() == 5
    assert read_warc(spark, p, record_types=None).count() == 6
    meta = {r.file.rsplit(":", 1)[1]: r.feature_count
            for r in st_read_meta(spark, p).collect()}
    assert meta == {"response": 5, "warcinfo": 1}
