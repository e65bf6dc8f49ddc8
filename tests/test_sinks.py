"""Time-series sink tests: point normalization, line protocol, epoch writes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_streaming_twitter_spark.streaming.sinks import (
    as_points,
    parquet_point_writer,
    to_influx_line,
)


def _result_df(spark):
    return spark.createDataFrame(
        [("2024-01-01 10:00:00", "spark", 7, 3.5)],
        ["window_end", "hashtag", "n", "score"],
    ).withColumn("window_end", F.col("window_end").cast("timestamp"))


def test_as_points_schema_and_values(spark):
    pts = as_points(
        _result_df(spark),
        measurement="TrendingHashTagSpark",
        time_col="window_end",
        tag_cols=["hashtag"],
        field_cols=["n", "score"],
    )
    assert [f.name for f in pts.schema.fields] == [
        "time",
        "measurement",
        "tags",
        "fields",
    ]
    r = pts.collect()[0]
    assert r.measurement == "TrendingHashTagSpark"
    assert r.tags == {"hashtag": "spark"}
    assert r.fields == {"n": 7.0, "score": 3.5}


def test_influx_line_protocol_deterministic(spark):
    pts = as_points(
        _result_df(spark),
        measurement="m",
        time_col="window_end",
        tag_cols=["hashtag"],
        field_cols=["score", "n"],  # declaration order must not matter
    )
    line = pts.select(to_influx_line().alias("l")).collect()[0].l
    assert line == "m,hashtag=spark n=7.0,score=3.5 1704103200"


def test_parquet_point_writer_appends_epochs(spark, tmp_path):
    out = os.path.join(str(tmp_path), "points")
    pts = as_points(
        _result_df(spark), "m", "window_end", ["hashtag"], ["n"]
    )
    writer = parquet_point_writer(out)
    writer(pts, 0)
    writer(pts, 1)
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert sorted(r.epoch for r in back.select("epoch").collect()) == [0, 1]


def test_influx_http_writer_posts_line_protocol(spark):
    """Wire-level sink test against an in-process HTTP server: lines arrive
    chunked, in line-protocol shape, at the /write endpoint with db and
    precision params — no live InfluxDB needed."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from spark_streaming_twitter_spark.streaming.sinks import (
        as_points,
        influx_http_writer,
    )

    received: list[tuple[str, str]] = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((self.path, body.decode()))
            self.send_response(204)
            self.end_headers()

        def log_message(self, *a):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        df = spark.createDataFrame(
            [("2024-01-01 10:00:00", "#spark", 7), ("2024-01-01 10:05:00", "#sql", 3)],
            ["ts", "hashtag", "n"],
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        points = as_points(
            df, "TrendingHashTagSpark", "ts", ["hashtag"], ["n"]
        ).coalesce(1)
        writer = influx_http_writer(
            f"http://127.0.0.1:{server.server_port}", db="tweets", chunk=1
        )
        writer(points, epoch_id=0)
    finally:
        server.shutdown()

    assert len(received) == 2  # chunk=1 -> one POST per line
    path, body = received[0]
    assert path == "/write?db=tweets&precision=s"
    lines = sorted(b for _, b in received)
    assert lines == [
        "TrendingHashTagSpark,hashtag=#spark n=7.0 1704103200",
        "TrendingHashTagSpark,hashtag=#sql n=3.0 1704103500",
    ]


def test_epoch_overwrite_writer_replaces_partial_attempt(spark, tmp_path):
    """The retry contract behind stream_exactly_once_sink_replay, phase by
    phase: a partial epoch attempt on disk, then the replay. The overwrite
    writer must leave EXACTLY the full batch; the append writer (the
    at-least-once baseline) provably leaves duplicates under the same
    replay — the guard is load-bearing, not decorative."""
    from spark_streaming_twitter_spark.streaming.sinks import (
        parquet_epoch_overwrite_writer,
    )

    batch = spark.range(100).select(F.col("id").alias("v"))
    sink_o = str(tmp_path / "overwrite")
    sink_a = str(tmp_path / "append")

    # attempt 1: partial write (sink failed mid-epoch, batch uncommitted)
    batch.limit(40).write.mode("overwrite").parquet(f"{sink_o}/epoch=7")
    batch.limit(40).withColumn("epoch", F.lit(7)).write.mode(
        "append"
    ).parquet(sink_a)
    # replay of epoch 7 through both writers
    parquet_epoch_overwrite_writer(sink_o)(batch, 7)
    from spark_streaming_twitter_spark.streaming.sinks import (
        parquet_point_writer,
    )

    parquet_point_writer(sink_a)(batch, 7)

    got = spark.read.option("basePath", sink_o).parquet(sink_o)
    assert got.count() == 100, "overwrite replay must REPLACE the partial"
    assert got.select("v").distinct().count() == 100
    appended = spark.read.parquet(sink_a)
    assert appended.count() == 140, (
        "append replay keeps the partial attempt — the duplicate mode "
        "the overwrite writer exists to prevent"
    )


def _points(spark):
    df = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "#spark", 7, 3.5),
            ("2024-01-01 10:05:00", "#sql", 3, 0.25),
        ],
        ["ts", "hashtag", "n", "score"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return as_points(df, "TrendingHashTagSpark", "ts", ["hashtag"], ["n", "score"])


def _epoch_files(sink: str, epoch_id: int) -> list[str]:
    return sorted(os.listdir(os.path.join(sink, f"epoch={epoch_id}")))


def test_epoch_overwrite_writer_empty_batch_has_point_schema(spark, tmp_path):
    from spark_streaming_twitter_spark.streaming.sinks import (
        POINT_SCHEMA,
        parquet_epoch_overwrite_writer,
    )

    sink = str(tmp_path / "sink")
    parquet_epoch_overwrite_writer(sink)(spark.createDataFrame([], POINT_SCHEMA), 3)
    back = spark.read.parquet(f"{sink}/epoch=3")
    assert back.count() == 0
    want = spark.createDataFrame([], POINT_SCHEMA).schema
    assert back.schema.simpleString() == want.simpleString()


def test_epoch_overwrite_writer_round_trips_points(spark, tmp_path):
    """What the writer lands reads back equal through Spark and through
    DuckDB's ``read_parquet('<sink>/*/*.parquet')``, the reader the
    trending benchmark checks the sink with."""
    import duckdb

    from spark_streaming_twitter_spark.streaming.sinks import (
        parquet_epoch_overwrite_writer,
    )

    pts = _points(spark)
    sink = str(tmp_path / "sink")
    parquet_epoch_overwrite_writer(sink)(pts, 0)

    def key(r):
        return (r.time, r.measurement, sorted(r.tags.items()), sorted(r.fields.items()))

    want = sorted(map(key, pts.collect()))
    back = spark.read.parquet(sink)
    assert sorted(map(key, back.drop("epoch").collect())) == want
    assert {r.epoch for r in back.select("epoch").collect()} == {0}

    con = duckdb.connect()
    try:
        got = con.execute(
            "SELECT epoch_ms(time), measurement, map_extract(tags, 'hashtag')[1],"
            " map_extract(fields, 'n')[1], map_extract(fields, 'score')[1]"
            f" FROM read_parquet('{sink}/*/*.parquet') ORDER BY 1"
        ).fetchall()
    finally:
        con.close()
    assert got == [
        (1704103200000, "TrendingHashTagSpark", "#spark", 7.0, 3.5),
        (1704103500000, "TrendingHashTagSpark", "#sql", 3.0, 0.25),
    ]


def test_epoch_overwrite_writer_replay_leaves_one_file(spark, tmp_path):
    from spark_streaming_twitter_spark.streaming.sinks import (
        parquet_epoch_overwrite_writer,
    )

    sink = str(tmp_path / "sink")
    write = parquet_epoch_overwrite_writer(sink)
    write(_points(spark), 5)
    write(_points(spark), 5)
    assert _epoch_files(sink, 5) == ["part-00000.snappy.parquet"]
    assert sorted(os.listdir(sink)) == [".staging", "epoch=5"]
    assert os.listdir(os.path.join(sink, ".staging")) == []
    assert spark.read.parquet(sink).count() == 2


def test_epoch_overwrite_writer_staging_leftover_is_invisible(spark, tmp_path):
    """A crash between the staged write and the swap leaves a staging
    directory under ``.staging/``; Spark and the ``*/*.parquet`` glob the
    trending benchmark reads with must both skip it."""
    import shutil

    import duckdb

    from spark_streaming_twitter_spark.streaming.sinks import (
        parquet_epoch_overwrite_writer,
    )

    sink = str(tmp_path / "sink")
    parquet_epoch_overwrite_writer(sink)(_points(spark), 0)
    shutil.copytree(f"{sink}/epoch=0", f"{sink}/.staging/1.0123abcd")
    assert spark.read.parquet(sink).count() == 2
    con = duckdb.connect()
    try:
        n = con.execute(f"SELECT count(*) FROM read_parquet('{sink}/*/*.parquet')").fetchone()
    finally:
        con.close()
    assert n == (2,)


def test_epoch_overwrite_writer_accepts_file_uri(spark, tmp_path):
    from spark_streaming_twitter_spark.streaming.sinks import (
        parquet_epoch_overwrite_writer,
    )

    sink = tmp_path / "sink"
    parquet_epoch_overwrite_writer(sink.as_uri())(_points(spark), 2)
    assert _epoch_files(str(sink), 2) == ["part-00000.snappy.parquet"]
    assert spark.read.parquet(str(sink)).count() == 2


def test_epoch_overwrite_writer_runs_one_job_and_no_write_command(spark, tmp_path):
    """The cost the writer exists to save: an epoch is ONE Spark job (the
    collect), and no SQL execution of it plans a file-write command with
    its committer, ``_temporary`` dirs and job-commit renames."""
    import uuid

    from spark_streaming_twitter_spark.streaming.sinks import (
        parquet_epoch_overwrite_writer,
    )

    pts = _points(spark)
    write = parquet_epoch_overwrite_writer(str(tmp_path / "sink"))
    sc = spark.sparkContext
    group = f"sink-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one epoch write")
    try:
        write(pts, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert len(jobs) == 1, jobs

    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        ex.physicalPlanDescription()
        for ex in (executions.apply(i) for i in range(executions.size()))
        if any(ex.jobs().contains(j) for j in jobs)
    ]
    assert plans, "the epoch's job ran outside any SQL execution"
    for plan in plans:
        assert "InsertIntoHadoopFsRelationCommand" not in plan, plan
        assert "WriteFiles" not in plan, plan
