"""Multi-micro-batch streaming semantics tests (SURVEY.md §2.5 W4/W5/W6).

The oracle suite checks final state; these tests check the PATH there:
late-data dropping past the watermark, update-mode re-emission, and
cross-batch stateful accumulation. Files written one-per-batch into a tmp
dir drive deterministic micro-batch boundaries (file source lists new files
each trigger).
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

SCHEMA = "user_id long, ts timestamp, event string"


def _write_batch(d: str, name: str, rows: list[dict]) -> None:
    with open(os.path.join(d, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _stream(spark, d):
    return spark.readStream.schema(SCHEMA).json(d)


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path)


def test_watermark_drops_late_rows(spark, stream_dir):
    src = _stream(spark, stream_dir)
    agg = (
        src.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .start()
    )
    try:
        _write_batch(
            stream_dir,
            "b1.json",
            [
                {"user_id": 1, "ts": "2024-01-01 10:00:10", "event": "a"},
                {"user_id": 1, "ts": "2024-01-01 10:00:40", "event": "a"},
                {"user_id": 1, "ts": "2024-01-01 10:05:00", "event": "a"},
            ],
        )
        q.processAllAvailable()  # watermark -> 10:03:00
        _write_batch(
            stream_dir,
            "b2.json",
            [
                # late: its window [10:00, 10:01) closed at watermark 10:03
                {"user_id": 1, "ts": "2024-01-01 10:00:50", "event": "late"},
                {"user_id": 1, "ts": "2024-01-01 10:10:00", "event": "a"},
            ],
        )
        q.processAllAvailable()
        _write_batch(
            stream_dir,
            "b3.json",
            [{"user_id": 1, "ts": "2024-01-01 10:20:00", "event": "a"}],
        )
        q.processAllAvailable()  # advance watermark so 10:00 + 10:05 windows emit
    finally:
        q.stop()
        q.awaitTermination()
    got = {
        r["start"].strftime("%H:%M"): r["n"]
        for r in spark.table("wm_test").select("w.start", "n").collect()
    }
    assert got["10:00"] == 2, f"late row must be dropped, got {got}"
    assert got["10:05"] == 1


def test_update_mode_reemits_changed_windows(spark, stream_dir):
    src = _stream(spark, stream_dir)
    agg = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("upd_test")
        .outputMode("update")
        .start()
    )
    try:
        _write_batch(
            stream_dir, "b1.json", [{"user_id": 1, "ts": "2024-01-01 10:00:10", "event": "a"}]
        )
        q.processAllAvailable()
        _write_batch(
            stream_dir, "b2.json", [{"user_id": 1, "ts": "2024-01-01 10:00:20", "event": "a"}]
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    ns = sorted(r.n for r in spark.table("upd_test").collect())
    assert ns == [1, 2], f"update mode re-emits the window per change: {ns}"


def test_stateful_counts_accumulate_across_batches(spark, stream_dir):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = _stream(spark, stream_dir).select("user_id")

    def update_counts(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    updates = src.groupBy("user_id").applyInPandasWithState(
        update_counts,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        updates.writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .start()
    )
    try:
        _write_batch(
            stream_dir,
            "b1.json",
            [
                {"user_id": 1, "ts": "2024-01-01 10:00:00", "event": "a"},
                {"user_id": 1, "ts": "2024-01-01 10:00:01", "event": "a"},
                {"user_id": 2, "ts": "2024-01-01 10:00:02", "event": "a"},
            ],
        )
        q.processAllAvailable()
        _write_batch(
            stream_dir,
            "b2.json",
            [{"user_id": 1, "ts": "2024-01-01 10:01:00", "event": "a"}],
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.table("state_test").collect()
    per_user_final = {}
    for r in rows:
        per_user_final[r.user_id] = max(per_user_final.get(r.user_id, 0), r.n_events)
    assert per_user_final == {1: 3, 2: 1}
    # user 1 must have been emitted twice: once per batch, cumulative
    u1 = sorted(r.n_events for r in rows if r.user_id == 1)
    assert u1 == [2, 3]


def test_foreach_batch_receives_epochs(spark, stream_dir):
    from spark_streaming_twitter_spark.streaming.harness import run_foreach_batch

    src = _stream(spark, stream_dir)
    _write_batch(
        stream_dir, "b1.json", [{"user_id": 1, "ts": "2024-01-01 10:00:00", "event": "a"}]
    )
    seen: list[tuple[int, int]] = []

    def sink(df, epoch_id):
        seen.append((epoch_id, df.count()))

    run_foreach_batch(src.select("user_id"), sink, output_mode="append")
    assert seen and seen[0][1] == 1


def test_checkpoint_restores_state_across_restart(spark, stream_dir, tmp_path):
    """The reference configures NO checkpointing (SURVEY.md §4); ours
    recovers aggregation state from the checkpoint across a stop/restart."""
    ckpt = str(tmp_path / "ckpt")

    def start_query():
        src = _stream(spark, stream_dir)
        agg = src.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        return (
            agg.writeStream.format("memory")
            .queryName("ckpt_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_batch(
        stream_dir,
        "b1.json",
        [
            {"user_id": 1, "ts": "2024-01-01 10:00:00", "event": "a"},
            {"user_id": 1, "ts": "2024-01-01 10:00:01", "event": "a"},
        ],
    )
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    _write_batch(
        stream_dir,
        "b2.json",
        [{"user_id": 1, "ts": "2024-01-01 10:01:00", "event": "a"}],
    )
    q = start_query()  # fresh query object, same checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    rows = {r.user_id: r.n for r in spark.table("ckpt_test").collect()}
    assert rows == {1: 3}, f"state must survive restart: {rows}"


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_transform_with_state_counts_or_documented_gate(spark):
    """transformWithStateInPandas: oracle-equal counts when protobuf is
    available; otherwise the documented missing-dependency failure (the
    Python state client imports google.protobuf in the worker)."""
    from spark_streaming_twitter_spark.streaming.queries import (
        user_event_counts_tws,
    )

    sf_dir = "/root/testdata/sf0.001"
    if _has_protobuf():
        got = {
            r.user_id: r.n_events
            for r in user_event_counts_tws(spark, sf_dir).collect()
        }
        from spark_streaming_twitter_spark.catalog import table

        want = {
            r.user_id: r.n
            for r in table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    else:
        # The worker dies on `from google.protobuf import ...`; Spark
        # surfaces it as a STREAM_FAILED crash of the TWS driver worker.
        from pyspark.errors import StreamingQueryException

        with pytest.raises(
            StreamingQueryException,
            match="TransformWithStateInPySpark|STREAM_FAILED",
        ):
            user_event_counts_tws(spark, sf_dir).collect()


def test_tws_registry_registration_matches_capability():
    """The TWS twins are registry-visible exactly when protobuf imports,
    so they earn driver CORRECTNESS rows the moment the environment
    allows (since round 9 the probe also finds the vendored pure-Python
    runtime, so on this host both register AND the helper records the
    vendor path for worker forwarding)."""
    from spark_streaming_twitter_spark.registry import load_all

    names = load_all()
    has = _has_protobuf()
    for name in (
        "stream_user_event_counts_tws",
        "stream_user_event_type_counts_tws",
        "stream_session_windows_tws",
        "stream_user_recent_events_tws",
        "stream_running_total_tws_bootstrap",
        "stream_text_minhash_self_dedup",
        "stream_text_minhash_ttl_dedup",
        "stream_media_phash_self_dedup",
        "stream_media_audio_self_dedup",
        "stream_media_video_self_dedup",
    ):
        assert (name in names) == has, name


def test_tws_degrades_to_gate_on_bare_host():
    """VERDICT r9 ask #7: the tws rows depend on the host's vendored
    protobuf runtime — prove the registry floor. A subprocess whose import
    machinery blocks google.protobuf entirely (simulating a host with
    neither a native install nor the Google Cloud SDK vendor dir — the
    block intercepts the probe's sys.path insertion too) must import the
    full registry WITHOUT errors and simply not register the six tws
    queries, i.e. the capability probe degrades, never raises."""
    import subprocess
    import sys

    code = """
import sys

class _BlockGoogle:
    def find_spec(self, name, path=None, target=None):
        if name == "google" or name.startswith("google."):
            raise ImportError("blocked: simulated bare host")
        return None

sys.meta_path.insert(0, _BlockGoogle())
for mod in [m for m in sys.modules if m == "google" or m.startswith("google.")]:
    del sys.modules[mod]

from spark_streaming_twitter_spark.registry import load_all

names = set(load_all())
gated = (
    "stream_text_minhash_self_dedup",
    "stream_text_minhash_ttl_dedup",
    "stream_media_phash_self_dedup",
    "stream_media_audio_self_dedup",
    "stream_media_video_self_dedup",
)
tws = sorted(n for n in names if n.endswith("_tws")) + [
    n for n in gated if n in names
]
assert not tws, f"tws queries registered on a bare host: {tws}"
assert "stream_events_per_minute" in names, "registry floor missing"
print("DEGRADED_OK", len(names))
"""
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, (
        f"bare-host registry import failed:\n{proc.stderr[-2000:]}"
    )
    assert "DEGRADED_OK" in proc.stdout, proc.stdout


def test_tws_mapstate_counts_match_batch(spark):
    """MapState tws: per-(user, event_type) final state must equal the
    batch group-by — point-updates accumulated across micro-batches."""
    import pytest as _pytest

    if not _has_protobuf():
        _pytest.skip("no protobuf runtime")
    from spark_streaming_twitter_spark.catalog import table
    from spark_streaming_twitter_spark.streaming.queries import (
        user_event_type_counts_tws,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r.user_id, r.event_type): r.n
        for r in user_event_type_counts_tws(spark, sf_dir).collect()
    }
    want = {
        (r.user_id, r.event_type): r.n
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_available_now_drains_backlog_in_bounded_batches(spark, stream_dir):
    """Trigger.AvailableNow: a pre-existing multi-file backlog drains as
    several rate-limited micro-batches, then the query terminates ITSELF
    (the cron-style catch-up contract stream_events_availablenow relies on).
    """
    for i in range(3):
        _write_batch(
            stream_dir,
            f"b{i}.json",
            [
                {"user_id": i, "ts": f"2024-01-01 10:0{i}:00", "event": "a"},
                {"user_id": i, "ts": f"2024-01-01 10:0{i}:30", "event": "a"},
            ],
        )
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").json(
        stream_dir
    )
    agg = (
        src.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("an_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "AvailableNow query must self-terminate"
        # one micro-batch per file: the rate limit held under catch-up
        data_batches = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
        assert len(data_batches) == 3, [
            (p["batchId"], p["numInputRows"]) for p in q.recentProgress
        ]
    finally:
        q.stop()
    got = {r["w"].start.minute: r["n"] for r in spark.table("an_test").collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_stream_events_parity_with_batch_catalog(spark):
    """Pin: the streaming and batch views of the events fixture agree.

    Guards the fixture-schema-drift class of bug (round-4 regression: the
    driver regenerated events.ts from TIMESTAMP(NANOS) to TIMESTAMP(MICROS)
    and the stream source kept dividing by 1000). stream_events must yield
    the same row count and the same min/max event time as catalog.table,
    whatever physical ts encoding the parquet carries.
    """
    from spark_streaming_twitter_spark.catalog import table
    from spark_streaming_twitter_spark.streaming.harness import (
        run_to_memory,
        stream_events,
    )

    sf_dir = "/root/testdata/sf0.001"
    agg = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
    )
    stream_row = run_to_memory(agg(stream_events(spark, sf_dir))).collect()[0]
    batch_row = agg(table(spark, sf_dir, "events")).collect()[0]
    assert stream_row["n"] == batch_row["n"]
    assert stream_row["lo"] == batch_row["lo"]
    assert stream_row["hi"] == batch_row["hi"]


def test_processing_time_trigger_drains_backlog_multi_batch(spark, stream_dir):
    """Trigger.ProcessingTime + maxFilesPerTrigger=1: a 3-file backlog takes
    >= 3 clock-driven data micro-batches (the reference's 500 ms DStream
    cadence, made deterministic by the source rate limit), and the final
    state equals the batch answer.
    """
    from spark_streaming_twitter_spark.streaming.harness import (
        run_processing_time,
    )

    for i in range(3):
        _write_batch(
            stream_dir,
            f"b{i}.json",
            [
                {"user_id": i, "ts": f"2024-01-01 10:0{i}:00", "event": "a"},
                {"user_id": i, "ts": f"2024-01-01 10:0{i}:30", "event": "a"},
            ],
        )
    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(stream_dir)
    )
    agg = (
        src.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_processing_time(
        agg, interval="500 milliseconds", min_data_batches=3
    )
    got = {r["w"].start.minute: r["n"] for r in out.collect()}
    assert got == {0: 2, 1: 2, 2: 2}


def test_streaming_query_listener_observes_progress(spark, stream_dir):
    """The ops surface: a StreamingQueryListener receives start/progress/
    terminated callbacks with row counts — what a production deployment
    wires to its metrics system (the reference has no observability at
    all; SURVEY.md §6). Asserts the listener sees every input row the
    sink processed.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    seen = {"started": 0, "rows": 0, "terminated": 0}

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            seen["started"] += 1

        def onQueryProgress(self, event):
            seen["rows"] += event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            seen["terminated"] += 1

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        _write_batch(
            stream_dir,
            "b0.json",
            [
                {"user_id": 1, "ts": "2024-01-01 10:00:00", "event": "a"},
                {"user_id": 2, "ts": "2024-01-01 10:00:30", "event": "b"},
                {"user_id": 3, "ts": "2024-01-01 10:01:00", "event": "c"},
            ],
        )
        src = spark.readStream.schema(SCHEMA).json(stream_dir)
        q = (
            src.groupBy("event")
            .count()
            .writeStream.format("memory")
            .queryName("listener_test")
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        # listener callbacks are async; wait briefly for delivery
        import time

        for _ in range(50):
            if seen["started"] >= 1 and seen["rows"] >= 3 and seen["terminated"] >= 1:
                break
            time.sleep(0.2)
        assert seen["started"] >= 1
        assert seen["rows"] >= 3, seen
        assert seen["terminated"] >= 1
    finally:
        spark.streams.removeListener(listener)


def test_prebucket_sliding_cuts_state_writes_at_reference_cadence(
    spark, stream_dir
):
    """The two-level rewrite at the reference's 300s-window/5s-slide cadence
    (TwitterDStreamTrendingHashtag.java:82-83): the direct sliding agg
    writes every event into window/slide = 60 state rows; the tumbling
    5 s pre-aggregate writes each event into ONE. Both computed from the
    same micro-batch; state-operator progress metrics pin the ratio and
    the rolled-up answers must agree exactly."""
    rows = [
        {"user_id": i, "ts": f"2024-01-01 10:00:{s:02d}", "event": "a"}
        for i, s in enumerate([0, 5, 7, 15, 30, 42, 55])
    ]
    _write_batch(stream_dir, "b1.json", rows)

    def run(agg, name):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
            updated = sum(
                op["numRowsUpdated"]
                for p in q.recentProgress
                for op in p["stateOperators"]
            )
        finally:
            q.stop()
            q.awaitTermination()
        return updated

    src = _stream(spark, stream_dir)
    direct_updated = run(
        src.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "300 seconds", "5 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n")),
        "direct_300_5",
    )
    bucket_updated = run(
        src.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "5 seconds").alias("b"))
        .agg(F.count(F.lit(1)).alias("n")),
        "bucket_5",
    )
    # 7 events / 6 distinct 5s buckets: direct writes 60 windows per event
    # (minus overlap dedup within the batch), the pre-bucket exactly 6.
    assert bucket_updated == 6
    assert direct_updated >= 10 * bucket_updated

    # answers identical after the batch-side rollup
    direct = {
        (r["w"]["start"], r["n"]) for r in spark.table("direct_300_5").collect()
    }
    buckets = spark.table("bucket_5").collect()
    rolled: dict = {}
    for r in buckets:
        b = r["b"]["start"]
        for k in range(60):
            ws = b - pd.Timedelta(seconds=5 * k)
            rolled[ws] = rolled.get(ws, 0) + r["n"]
    # restrict to windows containing >=1 event (the direct agg's key set)
    assert direct == {(ws, n) for ws, n in rolled.items()} & direct
    assert len(direct) == len(
        [ws for ws in rolled if any(ws == d[0] for d in direct)]
    )


def test_checkpoint_recovery_on_rocksdb_provider(spark, stream_dir, tmp_path):
    """Same stop/restart recovery contract as
    test_checkpoint_restores_state_across_restart, but on the RocksDB
    state store provider — its checkpoint format (SST files + changelog)
    is entirely different from the default in-heap store's, so recovery
    is pinned separately. This is the backend a 100 TB stateful job runs
    on; a restart that silently reset RocksDB state would double-count."""
    ckpt = str(tmp_path / "ckpt_rocks")
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:

        def start_query():
            src = _stream(spark, stream_dir)
            agg = src.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
            return (
                agg.writeStream.format("memory")
                .queryName("ckpt_rocks_test")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .start()
            )

        _write_batch(
            stream_dir,
            "b1.json",
            [
                {"user_id": 1, "ts": "2024-01-01 10:00:00", "event": "a"},
                {"user_id": 1, "ts": "2024-01-01 10:00:01", "event": "a"},
            ],
        )
        q = start_query()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

        _write_batch(
            stream_dir,
            "b2.json",
            [{"user_id": 1, "ts": "2024-01-01 10:01:00", "event": "a"}],
        )
        q = start_query()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

        rows = {r.user_id: r.n for r in spark.table("ckpt_rocks_test").collect()}
        assert rows == {1: 3}, f"RocksDB state must survive restart: {rows}"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


_STATE_PROVIDERS = {
    "hdfs": "HDFSBackedStateStoreProvider",
    "rocksdb": "RocksDBStateStoreProvider",
}


@pytest.mark.parametrize("provider", sorted(_STATE_PROVIDERS))
def test_replayed_trigger_overwrites_landed_state(spark, tmp_path, provider):
    """A trigger replayed after its state write landed: the test session
    commits checkpoints through ``FileSystemBasedCheckpointFileManager``,
    whose overwrite path is the only place it differs from Spark's
    default. Dropping batch 1's commit makes the restart re-run batch 1,
    which must rewrite state version 2 in place, leave no temp file and
    keep the counts. Under the Hive ``ProxyLocalFileSystem`` that pyspark
    otherwise maps ``file:`` to, the rename is refused and the old state
    file silently stays."""
    jvm = spark._jvm
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path("file:" + str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert fm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    name = f"replay_{provider}"

    def run(*batches):
        q = (
            _stream(spark, str(src))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            q.processAllAvailable()
            for i, rows in batches:
                _write_batch(str(src), f"b{i}.json", rows)
                q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        return {r.user_id: r.n for r in spark.table(name).collect()}

    def version_2_files():
        found = {
            str(p): (p.stat().st_ino, p.stat().st_mtime_ns)
            for p in (ckpt / "state" / "0").glob("*/2.*")
            if not p.name.endswith(".crc")
        }
        assert found, sorted(str(p) for p in (ckpt / "state").rglob("*"))
        return found

    def row(user_id):
        return {"user_id": user_id, "ts": "2024-01-01 10:00:00", "event": "a"}

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        + _STATE_PROVIDERS[provider],
    )
    try:
        assert run((1, [row(1), row(1)]), (2, [row(1), row(2)])) == {1: 3, 2: 1}
        landed = version_2_files()
        (ckpt / "commits" / "1").unlink()
        (ckpt / "commits" / ".1.crc").unlink()

        assert run() == {1: 3, 2: 1}, "the replayed batch 1 must not double-count"
        rewritten = version_2_files()
        assert rewritten.keys() == landed.keys()
        assert all(rewritten[p] != landed[p] for p in landed), (
            "the replay must overwrite state version 2"
        )
        leaked = sorted(p.name for p in ckpt.rglob("*.tmp"))
        assert not leaked, f"every temp file must be renamed into place: {leaked}"
        assert (ckpt / "commits" / "1").exists()

        assert run((3, [row(2), row(3)])) == {1: 3, 2: 2, 3: 1}
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_state_metadata_reader_describes_checkpoint(spark, sf_dir):
    """The state-metadata companion reader (Spark 4 State Data Source)
    must describe the checkpoint's operator topology: one stateStoreSave
    operator, partition count = the run's shuffle partitions, batch 0
    committed — the observability contract stream_state_store_checkpoint's
    value check builds on."""
    import tempfile
    import uuid

    from spark_streaming_twitter_spark.streaming.harness import (
        _scoped_shuffle_partitions,
        stream_events,
    )

    ckpt = tempfile.mkdtemp(prefix="state_meta_test_")
    agg = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    with _scoped_shuffle_partitions(spark):
        expected_parts = spark.sparkContext.defaultParallelism
        q = (
            agg.writeStream.format("memory")
            .queryName(f"meta_{uuid.uuid4().hex[:8]}")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    m = meta[0]
    assert m.operatorName == "stateStoreSave"
    assert m.numPartitions == expected_parts
    assert m.minBatchId == 0 and m.maxBatchId >= 0

    state = spark.read.format("statestore").load(ckpt)
    assert "partition_id" in state.columns
    n_types = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type")
        .distinct()
        .count()
    )
    assert state.count() == n_types


def test_funnel_match_consumes_and_carries_state(spark, stream_dir):
    """CEP semantics the oracle's closed form encodes, checked on the PATH:
    a match consumes its signup (second purchase finds nothing), a newer
    signup replaces a pending one, and a pending signup carries across
    micro-batch boundaries."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    LIMIT_US = 3600 * 1_000_000
    # distinct fixture timestamps: a constant tie-break column suffices
    src = _stream(spark, stream_dir).withColumn("event_id", F.lit(0))

    def match(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"user_id": [], "signup_epoch": [],
                                "purchase_epoch": []})
            return
        rows = []
        for pdf in pdf_iter:
            ts_us = (pd.to_datetime(pdf["ts"]).astype("int64") // 1000).tolist()
            rows.extend(zip(ts_us, pdf["event_id"].tolist(),
                            pdf["event"].tolist()))
        rows.sort(key=lambda r: (r[0], r[1]))
        pending = state.get[0] if state.exists else None
        out = []
        for t_us, _eid, etype in rows:
            if etype == "signup":
                pending = t_us
            elif etype == "purchase":
                if pending is not None and t_us - pending <= LIMIT_US:
                    out.append((pending, t_us))
                pending = None
        if pending is not None:
            state.update((pending,))
            state.setTimeoutTimestamp(pending // 1000 + 3600 * 1000)
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "signup_epoch": [s // 1_000_000 for s, _ in out],
                "purchase_epoch": [p // 1_000_000 for _, p in out],
            }
        )

    matched = (
        src.withWatermark("ts", "1 minute")
        .groupBy("user_id")
        .applyInPandasWithState(
            match,
            outputStructType=(
                "user_id long, signup_epoch long, purchase_epoch long"
            ),
            stateStructType="pending_us long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    q = (
        matched.writeStream.format("memory")
        .queryName("funnel_test")
        .outputMode("update")
        .start()
    )
    try:
        # batch 1: user 1 signs up twice (second replaces first), buys once
        # (matches the SECOND signup), then buys again (pending consumed ->
        # no match). user 2's signup stays pending across the batch.
        _write_batch(
            stream_dir,
            "b1.json",
            [
                {"user_id": 1, "ts": "2024-01-01 10:00:00", "event": "signup"},
                {"user_id": 1, "ts": "2024-01-01 10:10:00", "event": "signup"},
                {"user_id": 1, "ts": "2024-01-01 10:20:00", "event": "purchase"},
                {"user_id": 1, "ts": "2024-01-01 10:25:00", "event": "purchase"},
                {"user_id": 2, "ts": "2024-01-01 10:30:00", "event": "signup"},
            ],
        )
        q.processAllAvailable()
        # batch 2: user 2's purchase matches the signup carried in state
        _write_batch(
            stream_dir,
            "b2.json",
            [{"user_id": 2, "ts": "2024-01-01 10:40:00", "event": "purchase"}],
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    rows = sorted(
        (r.user_id, r.signup_epoch, r.purchase_epoch)
        for r in spark.table("funnel_test").collect()
    )
    t0 = pd.Timestamp("2024-01-01 10:10:00").value // 10**9
    assert rows == [
        (1, t0, t0 + 600),          # second signup -> first purchase only
        (2, t0 + 1200, t0 + 1800),  # pending carried across the batch gap
    ], rows


def test_fanout_epoch_replay_is_idempotent(spark, tmp_path):
    """A crash between foreachBatch's two writes makes the engine replay
    the epoch; the dual-sink writer must rewrite identical content, not
    append duplicates."""
    from spark_streaming_twitter_spark.streaming.queries import (
        fanout_write_batch,
    )

    raw_dir = str(tmp_path / "raw")
    agg_dir = str(tmp_path / "agg")
    wb = fanout_write_batch(raw_dir, agg_dir)
    df = spark.createDataFrame(
        [(1, 10, "click"), (2, 20, "view"), (3, 30, "click")],
        "user_id long, event_id long, event_type string",
    ).withColumn("ts", F.current_timestamp())

    wb(df, 0)
    wb(df, 0)  # replayed epoch
    wb(df.where(F.col("event_id") > 10), 1)

    raw = spark.read.parquet(raw_dir)
    assert raw.count() == 5, raw.count()  # 3 (epoch 0, once) + 2 (epoch 1)
    agg = spark.read.parquet(agg_dir)
    total = agg.agg(F.sum("n_rows")).collect()[0][0]
    assert total == 5, total


def test_funnel_state_survives_restart(spark, stream_dir, tmp_path):
    """applyInPandasWithState state must recover from the checkpoint: a
    pending signup written in run 1 matches a purchase delivered to a
    FRESH query object in run 2 over the same checkpoint."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ckpt = str(tmp_path / "ckpt")
    LIMIT_US = 3600 * 1_000_000

    def match(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"user_id": [], "purchase_epoch": []})
            return
        rows = []
        for pdf in pdf_iter:
            ts_us = (pd.to_datetime(pdf["ts"]).astype("int64") // 1000).tolist()
            rows.extend(zip(ts_us, pdf["event"].tolist()))
        rows.sort()
        pending = state.get[0] if state.exists else None
        out = []
        for t_us, etype in rows:
            if etype == "signup":
                pending = t_us
            elif etype == "purchase":
                if pending is not None and t_us - pending <= LIMIT_US:
                    out.append(t_us)
                pending = None
        if pending is not None:
            state.update((pending,))
            state.setTimeoutTimestamp(pending // 1000 + 3600 * 1000)
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "purchase_epoch": [p // 1_000_000 for p in out],
            }
        )

    emitted: list[tuple[int, int]] = []

    def start_query():
        src = _stream(spark, stream_dir)
        matched = (
            src.withWatermark("ts", "1 minute")
            .groupBy("user_id")
            .applyInPandasWithState(
                match,
                outputStructType="user_id long, purchase_epoch long",
                stateStructType="pending_us long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

        def sink(df, _epoch):
            emitted.extend(
                (r.user_id, r.purchase_epoch) for r in df.collect()
            )

        # foreachBatch (unlike the memory sink) supports checkpoint recovery
        return (
            matched.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_batch(
        stream_dir,
        "b1.json",
        [{"user_id": 7, "ts": "2024-01-01 10:00:00", "event": "signup"}],
    )
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    _write_batch(
        stream_dir,
        "b2.json",
        [{"user_id": 7, "ts": "2024-01-01 10:30:00", "event": "purchase"}],
    )
    q = start_query()  # fresh query object, same checkpoint
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    t = pd.Timestamp("2024-01-01 10:30:00").value // 10**9
    assert emitted == [(7, t)], (
        f"pending signup must survive the restart and match: {emitted}"
    )


def test_watermark_policy_max_finalizes_more_nulls(spark):
    """The multipleWatermarkPolicy lever must be OBSERVABLE: with signup
    delay 300 s vs purchase delay 1 day, the max policy's combined
    watermark runs ~1 day ahead of min's, so strictly more unmatched
    signups get their null row finalized (sf0.001: 194 vs 185 by the
    oracle's math). Matched pairs are policy-independent."""
    from spark_streaming_twitter_spark.registry import load_all

    df = load_all()["stream_watermark_policy_join_trace"].fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    unmatched = {"min": 0, "max": 0}
    matched = {"min": 0, "max": 0}
    for r in rows:
        (unmatched if r.purchase_epoch is None else matched)[r.policy] += 1
    assert unmatched["max"] > unmatched["min"], unmatched
    assert matched["max"] == matched["min"], matched


def test_rocksdb_changelog_files_written(spark):
    """Changelog checkpointing must actually engage: the state checkpoint
    directory contains .changelog delta files (the per-commit O(changed
    keys) upload), not only full .zip snapshots."""
    import pathlib

    from spark_streaming_twitter_spark.streaming.queries import (
        _rocksdb_changelog_run,
    )

    out, ckpt = _rocksdb_changelog_run(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    files = list(pathlib.Path(ckpt).rglob("*.changelog"))
    assert files, f"no .changelog files under {ckpt}"


def test_state_partition_count_pinned_by_checkpoint(spark, stream_dir, tmp_path):
    """Operational invariant a 100 TB deployment relies on: the number of
    state-store partitions is fixed by spark.sql.shuffle.partitions at the
    query's FIRST run and recorded in the checkpoint; a restart under a
    DIFFERENT conf keeps the checkpointed count (state cannot rescale
    in place) and still answers correctly. Re-sharding state requires a
    new checkpoint — this pins the behavior so nobody "tunes" shuffle
    partitions on a live checkpoint expecting the state to follow."""
    import os

    ckpt = str(tmp_path / "ckpt_pin")

    def state_partition_dirs() -> int:
        root = os.path.join(ckpt, "state", "0")
        return len([d for d in os.listdir(root) if d.isdigit()])

    def start_query():
        src = _stream(spark, stream_dir)
        agg = src.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        return (
            agg.writeStream.format("memory")
            .queryName("ckpt_pin_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    _write_batch(
        stream_dir,
        "p1.json",
        [
            {"user_id": 1, "ts": "2024-01-01 10:00:00", "event": "a"},
            {"user_id": 2, "ts": "2024-01-01 10:00:01", "event": "a"},
        ],
    )
    q = start_query()  # first run under the fixture's 4 shuffle partitions
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert state_partition_dirs() == 4

    _write_batch(
        stream_dir,
        "p2.json",
        [{"user_id": 1, "ts": "2024-01-01 10:01:00", "event": "a"}],
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = start_query()  # restart under a DIFFERENT conf
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    assert state_partition_dirs() == 4, (
        "checkpoint must pin the original state partition count"
    )
    rows = {r.user_id: r.n for r in spark.table("ckpt_pin_test").collect()}
    assert rows == {1: 2, 2: 1}, rows


def test_spool_handles_empty_buckets(spark, tmp_path):
    """A sparse id space (here: every id lands in round-robin bucket 0)
    must still produce n_batches spool files — absent buckets get empty
    parquet placeholders with the right schema — and the streamed
    replay must deliver every row (ADVICE r10: a missing _b=i dir used
    to crash the spool with FileNotFoundError)."""
    import os

    from spark_streaming_twitter_spark.streaming.harness import (
        spool_roundrobin_batches,
    )

    df = spark.createDataFrame(
        [(i * 4, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    spool_roundrobin_batches(df, "doc_id", spool, n_batches=4)
    files = sorted(f for f in os.listdir(spool) if f.startswith("batch_"))
    assert files == [f"batch_{i}.parquet" for i in range(4)]
    back = spark.read.parquet(*[os.path.join(spool, f) for f in files])
    assert back.count() == 10
    # the empty placeholders carry the schema, not rows
    empties = [
        f
        for f in files
        if spark.read.parquet(os.path.join(spool, f)).count() == 0
    ]
    assert len(empties) == 3


def test_block_reversed_spool_bounds_disorder(spark, tmp_path):
    """The bounded-disorder spool's contract, asserted directly: every
    id is delivered exactly once, batches are non-trivially disordered
    (some id arrives after a LARGER id from an earlier batch), and the
    displacement bound holds — no id in batch j exceeds any id of a
    LATER batch by more than D - 1, where D is the returned bound. The
    watermark-delay = D guarantee of the swept TTL queries rests on
    exactly this. The second input spools ids only, with exact bounds,
    and synthesises its rows after the shuffle; it must land the same
    batches."""
    import os

    from pyspark.sql import functions as F

    from spark_streaming_twitter_spark.streaming.harness import (
        spool_block_reversed_batches,
    )

    n = 103  # deliberately not a multiple of block or batch count
    df = spark.createDataFrame(
        [(i + 7, f"doc {i}") for i in range(n)], "doc_id long, text string"
    )
    ids = spark.range(7, n + 7).select(F.col("id").alias("doc_id"))

    def synth(d):
        return d.select(
            F.col("doc_id").alias("item_id"),
            F.concat(F.lit("doc "), (F.col("doc_id") - 7).cast("string")).alias("text"),
        )

    def spool_rows(out):
        return spool_block_reversed_batches(df, "doc_id", out, n_batches=6)

    def spool_ids(out, bounds=(7, n + 6)):
        return spool_block_reversed_batches(
            ids, "doc_id", out, n_batches=6, bounds=bounds,
            synth=synth, synth_id_col="item_id",
        )

    with pytest.raises(ValueError):
        spool_ids(str(tmp_path / "unbounded"), bounds=None)
    runs = {}
    for name, id_col, spool_fn in (
        ("rows", "doc_id", spool_rows),
        ("synth", "item_id", spool_ids),
    ):
        spool = str(tmp_path / name)
        os.makedirs(spool)
        d = spool_fn(spool)
        batches = []
        for i in range(6):
            rows = spark.read.parquet(os.path.join(spool, f"batch_{i}.parquet"))
            assert rows.columns == [id_col, "text"], name
            batches.append(sorted(r[id_col] for r in rows.collect()))
        runs[name] = (d, batches)
        delivered = sorted(x for b in batches for x in b)
        assert delivered == [i + 7 for i in range(n)]  # exactly once
        # genuine cross-batch disorder exists
        assert any(
            max(batches[i]) > min(batches[j])
            for i in range(6)
            for j in range(i + 1, 6)
            if batches[i] and batches[j]
        )
        # and it is bounded by D: everything in earlier batches is
        # <= x + D - 1 for every x in a later batch
        for j in range(6):
            for i in range(j):
                if batches[i] and batches[j]:
                    assert max(batches[i]) <= min(batches[j]) + d - 1, (i, j)
    assert runs["synth"] == runs["rows"]


def test_scoped_shuffle_partitions_concurrent_and_nested(spark):
    """ADVICE r13: overlapping _scoped_shuffle_partitions scopes (the
    flagship's three concurrent keeper streams) must set the session
    conf ONCE and restore it ONCE — no thread may capture a sibling's
    pinned value as 'prev' or see the caller's unpinned value while any
    scope is live."""
    import threading
    import time

    from spark_streaming_twitter_spark.streaming.harness import (
        _scoped_shuffle_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    caller_val = "200"
    prev = spark.conf.get(key)
    spark.conf.set(key, caller_val)
    pinned = str(spark.sparkContext.defaultParallelism)
    observed = []
    barrier = threading.Barrier(3)

    def worker():
        with _scoped_shuffle_partitions(spark):
            barrier.wait(timeout=10)  # all three scopes live at once
            observed.append(spark.conf.get(key))
            time.sleep(0.05)  # staggered exits exercise the refcount
            observed.append(spark.conf.get(key))

    try:
        threads = [threading.Thread(target=worker) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        # every observation inside any live scope saw the pinned value
        assert observed == [pinned] * 6
        # and the last scope out restored the CALLER's value, not the pin
        assert spark.conf.get(key) == caller_val
        # nested scopes: inner scope is a no-op, outer restores
        with _scoped_shuffle_partitions(spark):
            with _scoped_shuffle_partitions(spark):
                assert spark.conf.get(key) == pinned
            assert spark.conf.get(key) == pinned  # inner exit didn't restore
        assert spark.conf.get(key) == caller_val
    finally:
        spark.conf.set(key, prev)
