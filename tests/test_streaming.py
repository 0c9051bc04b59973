"""Structured Streaming: stream-static spatial join."""


def test_streaming_spatial_join(spark, tmp_path):
    """Stream-static spatial join: streamed points against static rects."""
    import random

    from duckdb_spatial_spark.operators.join import st_join_stream_static

    rng = random.Random(21)
    src = str(tmp_path / "pts_stream")
    pts_rows = [(i, rng.uniform(0, 1000), rng.uniform(0, 1000)) for i in range(2000)]
    spark.createDataFrame(pts_rows, "pid long, x double, y double").write.mode(
        "overwrite"
    ).parquet(src)

    from duckdb_spatial_spark.functions import udfs

    rect_rows = []
    for i in range(30):
        x1, y1 = rng.uniform(0, 900), rng.uniform(0, 900)
        rect_rows.append((i, x1, y1, x1 + rng.uniform(5, 80), y1 + rng.uniform(5, 80)))
    rects = spark.createDataFrame(
        rect_rows, "rid long, mnx double, mny double, mxx double, mxy double"
    ).select("rid", udfs.st_makeenvelope("mnx", "mny", "mxx", "mxy").alias("geom"))

    stream = spark.readStream.schema("pid long, x double, y double").parquet(src)
    joined = st_join_stream_static(stream, rects, predicate="within", cell_size=100.0)
    q = (
        joined.select("pid", "rid")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sj_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r.pid, r.rid) for r in spark.sql("SELECT * FROM sj_out").collect()}

    # batch oracle
    from duckdb_spatial_spark.operators import st_join

    batch_pts = spark.read.parquet(src)
    expected = {
        (r.pid, r.rid)
        for r in st_join(
            batch_pts, rects, predicate="within", left_point=("x", "y")
        ).select("pid", "rid").collect()
    }
    assert got == expected and len(expected) > 20
