"""Spark 4 Python DataSource: the custom-connector extension point, proven.

The reference's ingest is a packaged connector (Kafka); when no packaged
connector exists for a system, Spark 4's Python DataSource API
(pyspark.sql.datasource) is how a team ships one without JVM code: the
driver plans ``partitions()`` (the unit of parallelism — at 100 TB this is
where a real connector returns one split per file/offset-range/shard so
executors read concurrently), and each executor calls ``read(partition)``
for its split only.

``SyntheticEventsDataSource`` is a deterministic generator behind that
exact interface: N rows over S shards (options), row values derived from
the row id by fixed integer arithmetic — so a DuckDB ``generate_series``
oracle can replay the whole source and the ENTIRE path (option parsing,
partition planning, per-partition iteration, Arrow conversion, downstream
Catalyst aggregation) is value-checked, not just smoke-tested. Knuth's
multiplicative constant 2654435761 keeps values well-mixed while staying
exact in BIGINT on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from spark_streaming_twitter_spark.registry import query

PYSOURCE_ROWS = 50_000
PYSOURCE_SHARDS = 8
_MIX = 2654435761  # Knuth multiplicative hash constant; exact in int64 here


class _ShardPartition(InputPartition):
    def __init__(self, shard: int, start: int, end: int) -> None:
        self.shard = shard
        self.start = start
        self.end = end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n = int(options.get("rows", PYSOURCE_ROWS))
        self.shards = int(options.get("shards", PYSOURCE_SHARDS))

    def partitions(self) -> list[InputPartition]:
        # contiguous ranges, remainder spread over the first shards — the
        # planner-side split a real connector computes from file/offset
        # metadata. One partition = one executor task.
        per, rem = divmod(self.n, self.shards)
        parts, start = [], 0
        for s in range(self.shards):
            end = start + per + (1 if s < rem else 0)
            parts.append(_ShardPartition(s, start, end))
            start = end
        return parts

    def read(self, partition: _ShardPartition):
        for i in range(partition.start, partition.end):
            yield (i, partition.shard, (i * _MIX) % 1000)


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "event_id bigint, shard int, value bigint"

    def reader(self, schema) -> DataSourceReader:
        return SyntheticEventsReader(self.options)


@query(
    "python_datasource_shard_stats",
    oracle=f"""
WITH src AS (
  SELECT i AS event_id,
         CAST(CASE WHEN i < ({PYSOURCE_ROWS} // {PYSOURCE_SHARDS} + 1)
                        * ({PYSOURCE_ROWS} % {PYSOURCE_SHARDS})
              THEN i // ({PYSOURCE_ROWS} // {PYSOURCE_SHARDS} + 1)
              ELSE ({PYSOURCE_ROWS} % {PYSOURCE_SHARDS})
                   + (i - ({PYSOURCE_ROWS} // {PYSOURCE_SHARDS} + 1)
                          * ({PYSOURCE_ROWS} % {PYSOURCE_SHARDS}))
                     // ({PYSOURCE_ROWS} // {PYSOURCE_SHARDS})
              END AS INT) AS shard,
         (i * {_MIX}) % 1000 AS value
  FROM generate_series(0, {PYSOURCE_ROWS - 1}) t(i)
)
SELECT shard,
       count(*) AS n_rows,
       min(event_id) AS first_id,
       max(event_id) AS last_id,
       CAST(sum(value) AS BIGINT) AS value_sum
FROM src GROUP BY shard
""",
    doc="Spark 4 Python DataSource end-to-end: spark.dataSource.register + "
    "format('synthetic_events') with a planned partition per shard, "
    "aggregated per shard downstream by plain Catalyst. The oracle "
    "replays the generator AND the planner's contiguous-range shard "
    "arithmetic in SQL, so a wrong split boundary, a dropped partition, "
    "or a mis-typed Arrow column all fail the value hash. This is the "
    "template for ingesting a system with no packaged connector at "
    "scale: partitions() returns one split per offset-range and the "
    "cluster fans out.",
)
def python_datasource_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # registration is idempotent per session (re-register overwrites)
    spark.dataSource.register(SyntheticEventsDataSource)
    src = (
        spark.read.format("synthetic_events")
        .option("rows", str(PYSOURCE_ROWS))
        .option("shards", str(PYSOURCE_SHARDS))
        .load()
    )
    return src.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
        F.sum("value").alias("value_sum"),
    )


# --- Streaming variant: the same connector surface, micro-batch offsets ---

STREAM_ROWS = 5_000
STREAM_BATCH = 1_000  # rows advanced per trigger


class SyntheticEventsStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked synthetic stream: each trigger advances the offset by
    STREAM_BATCH rows until STREAM_ROWS, then reports no new data. The
    offset dict is the EXACTLY-ONCE contract a real connector implements
    against a broker (Kafka offsets, file positions): ``read(start)``
    returns rows plus the end offset, and ``readBetweenOffsets`` must be
    able to REPLAY any committed range after a failure — here both derive
    rows from the same pure function of the row id, so replay is trivially
    identical.
    """

    def __init__(self, options: dict) -> None:
        self.n = int(options.get("rows", STREAM_ROWS))
        self.batch = int(options.get("batch", STREAM_BATCH))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _rows(self, start: int, end: int):
        # a LIST iterator, not a generator: Spark's prefetch cache replays
        # the batch via copy.copy(iterator), which list_iterator supports
        # (__reduce__) and generators do not
        return iter([(i, (i * _MIX) % 1000) for i in range(start, end)])

    def read(self, start: dict):
        lo = start["pos"]
        hi = min(lo + self.batch, self.n)
        return self._rows(lo, hi), {"pos": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["pos"], end["pos"])


class SyntheticEventsStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events_stream"

    def schema(self) -> str:
        return "event_id bigint, value bigint"

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return SyntheticEventsStreamReader(self.options)


@query(
    "python_stream_datasource_totals",
    oracle=f"""
WITH src AS (
  SELECT i AS event_id, (i * {_MIX}) % 1000 AS value
  FROM generate_series(0, {STREAM_ROWS - 1}) t(i)
)
SELECT CAST(event_id // {STREAM_BATCH} AS INT) AS batch_idx,
       count(*) AS n_rows,
       CAST(sum(value) AS BIGINT) AS value_sum
FROM src GROUP BY 1
""",
    doc="Spark 4 Python STREAMING DataSource end-to-end: a "
    "SimpleDataSourceStreamReader advances a dict offset by a fixed rows "
    "per trigger (the exactly-once offset-range contract a real broker "
    "connector implements), the query runs to completion through the "
    "memory sink, and rows are grouped by the offset-range index they "
    "arrived in. The oracle replays generator + offset arithmetic in "
    "SQL: a skipped/duplicated/partially-replayed micro-batch shifts "
    "batch_idx membership or counts and fails the value hash. Together "
    "with python_datasource_shard_stats this proves both halves of the "
    "custom-connector surface (batch splits, streaming offsets) with no "
    "JVM code.",
)
def python_stream_datasource_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.streaming.harness import run_to_memory

    spark.dataSource.register(SyntheticEventsStreamDataSource)
    src = (
        spark.readStream.format("synthetic_events_stream")
        .option("rows", str(STREAM_ROWS))
        .option("batch", str(STREAM_BATCH))
        .load()
    )
    out = run_to_memory(src, output_mode="append")
    return out.groupBy(
        (F.col("event_id") / STREAM_BATCH).cast("int").alias("batch_idx")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("value_sum"),
    )


# --- Writer variant: the SINK half of the custom-connector surface ---


class _FileCommit(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int) -> None:
        self.path = path
        self.n_rows = n_rows


class ManifestSinkWriter(DataSourceWriter):
    """Two-phase-commit file sink: the write-side contract a real Python
    connector implements against an external store.

    Each executor task writes its partition to its OWN uniquely-named file
    and returns a commit message; only the driver's ``commit()`` publishes
    the batch, by writing a ``_MANIFEST`` listing exactly the committed
    files — readers resolve the manifest, so a file from a failed/ aborted
    task (``abort()`` deletes them, and an unlisted orphan is equally
    invisible) can never leak into results. This is the same
    task-attempt/manifest protocol as Hadoop output committers and
    Iceberg/Delta snapshot publishing, reduced to its observable core.
    On a cluster ``path`` is shared storage; the two-phase structure is
    identical.
    """

    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        self.fail_shard = int(options.get("fail_shard", "-1"))

    def write(self, iterator) -> _FileCommit:
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"part-{uuid.uuid4().hex}.csv")
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                if row[1] == self.fail_shard:
                    raise RuntimeError(
                        f"injected write failure on shard {self.fail_shard}"
                    )
                f.write(f"{row[0]},{row[1]},{row[2]}\n")
                n += 1
        return _FileCommit(tmp, n)

    def commit(self, messages) -> None:
        import os

        manifest = os.path.join(self.path, "_MANIFEST")
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            for m in messages:
                f.write(f"{m.path}\n")
        os.rename(tmp, manifest)  # atomic publish

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class ManifestSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifest_sink"

    def schema(self) -> str:
        return "event_id bigint, shard int, value bigint"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return ManifestSinkWriter(self.options)


def read_manifest_sink(spark: SparkSession, path: str) -> DataFrame:
    """Resolve the manifest and read EXACTLY the committed files."""
    import os

    with open(os.path.join(path, "_MANIFEST")) as f:
        files = [line.strip() for line in f if line.strip()]
    return spark.read.schema("event_id bigint, shard int, value bigint").csv(
        files
    )


@query(
    "python_datasource_writer_roundtrip",
    oracle=f"""
WITH src AS (
  SELECT i AS event_id,
         CAST(CASE WHEN i < ({PYSOURCE_ROWS} // {PYSOURCE_SHARDS} + 1)
                        * ({PYSOURCE_ROWS} % {PYSOURCE_SHARDS})
              THEN i // ({PYSOURCE_ROWS} // {PYSOURCE_SHARDS} + 1)
              ELSE ({PYSOURCE_ROWS} % {PYSOURCE_SHARDS})
                   + (i - ({PYSOURCE_ROWS} // {PYSOURCE_SHARDS} + 1)
                          * ({PYSOURCE_ROWS} % {PYSOURCE_SHARDS}))
                     // ({PYSOURCE_ROWS} // {PYSOURCE_SHARDS})
              END AS INT) AS shard,
         (i * {_MIX}) % 1000 AS value
  FROM generate_series(0, {PYSOURCE_ROWS - 1}) t(i)
)
SELECT shard,
       count(*) AS n_rows,
       min(event_id) AS first_id,
       max(event_id) AS last_id,
       CAST(sum(value) AS BIGINT) AS value_sum
FROM src GROUP BY shard
""",
    doc="The WRITER half of the Python DataSource surface, composed with "
    "the reader half into one round-trip: the synthetic source's planned "
    "shards stream through df.write.format('manifest_sink') — each task "
    "writes its own file and returns a commit message, the driver's "
    "commit() atomically publishes a _MANIFEST of exactly the committed "
    "files — and the result is read back VIA THE MANIFEST and "
    "re-aggregated. The oracle is the same generator SQL as the read "
    "path, so a dropped partition file, a duplicated task attempt, or a "
    "leaked uncommitted file all fail the value hash. The abort path "
    "(injected task failure -> no manifest -> nothing visible) is "
    "pinned by tests/test_pysource_writer.py.",
)
def python_datasource_writer_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    spark.dataSource.register(SyntheticEventsDataSource)
    spark.dataSource.register(ManifestSinkDataSource)
    src = (
        spark.read.format("synthetic_events")
        .option("rows", str(PYSOURCE_ROWS))
        .option("shards", str(PYSOURCE_SHARDS))
        .load()
    )
    with tempfile.TemporaryDirectory(
        prefix="manifest_sink_", ignore_cleanup_errors=True
    ) as out:
        src.write.format("manifest_sink").option("path", out).mode(
            "append"
        ).save()
        rows = (
            read_manifest_sink(spark, out)
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("event_id").alias("first_id"),
                F.max("event_id").alias("last_id"),
                F.sum("value").alias("value_sum"),
            )
            .collect()
        )
    return spark.createDataFrame(
        rows,
        "shard int, n_rows bigint, first_id bigint, last_id bigint, "
        "value_sum bigint",
    )
