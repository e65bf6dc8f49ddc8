"""Tracing for the traced benchmark run: spans, timed wrappers, streaming
progress and the Spark event log.

Everything here lives outside the package. Spans are recorded around the
benchmark's calls into package functions (and around the callables those
functions return), kept in memory, and written as JSON lines when the run
ends. A layer's self time is its span time minus the part its child spans
cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: (name, start, end, parent, run id, thread)."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.sink_paths: list[str] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open: dict[int, dict] = {}
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        """Record a span. Its parent is the innermost open span of this
        thread or, on a thread with none (foreachBatch callbacks, the
        flagship's prober pool), the latest-started span still open."""
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": None,
            "name": name,
            "parent": None,
            "run": self.run_id,
            "thread": threading.get_ident(),
            "start": time.time(),
        }
        with self._lock:
            if stack:
                rec["parent"] = stack[-1]["id"]
            elif self._open:
                rec["parent"] = max(self._open.values(), key=lambda s: s["start"])["id"]
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._open[rec["id"]] = rec
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                del self._open[rec["id"]]

    def timed(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, module, attr: str, wrapper) -> None:
        """Replace ``module.attr`` everywhere it is bound by name.

        Package modules that imported the function at module level hold
        their own reference, so every loaded module binding the same
        object is patched; ``restore`` undoes all of it.
        """
        original = getattr(module, attr)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(
                ("spark_streaming_twitter_spark", "perfbench")
            ) and getattr(mod, attr, None) is original:
                self._patched.append((mod, attr, original))
                setattr(mod, attr, wrapper)

    def restore(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def closed(self, name: str | None = None, t0: float = 0.0, t1: float = float("inf")):
        return [
            s
            for s in self.spans
            if "end" in s
            and (name is None or s["name"] == name)
            and s["start"] >= t0
            and s["end"] <= t1
        ]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the union of child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            covered = union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def install_wrappers(tracer: Tracer) -> None:
    """Timed wrappers on the package functions every traced run watches.

    The same wrappers go in whatever the workload, so a layer a workload
    never calls reads a measured zero: ``streaming.harness``'s spool and
    foreachBatch runner, the keeper probers the ``multimodal.phash``
    factories return, and the writers ``streaming.sinks`` returns (whose
    output paths are kept to count the points written).
    """
    from spark_streaming_twitter_spark.registry import load_all

    load_all()  # the multimodal modules register against the loaded registry
    import spark_streaming_twitter_spark.multimodal.phash as ph
    import spark_streaming_twitter_spark.streaming.harness as harness
    import spark_streaming_twitter_spark.streaming.sinks as sinks

    tracer.patch(
        harness, "spool_ordered_batches",
        tracer.timed("harness.spool", harness.spool_ordered_batches),
    )
    tracer.patch(
        harness, "run_foreach_batch",
        tracer.timed("harness.foreach_batch_run", harness.run_foreach_batch),
    )
    chunk_factory, video_factory = ph.make_chunk_keeper_prober, ph.make_video_keeper_prober
    writer_factory = sinks.parquet_epoch_overwrite_writer

    def chunk_prober(spark, store_dir, radius):
        kind = "image" if "image" in os.path.basename(store_dir) else "audio"
        return tracer.timed(f"multimodal.{kind}_probe", chunk_factory(spark, store_dir, radius))

    def video_prober(spark, store_dir):
        return tracer.timed("multimodal.video_probe", video_factory(spark, store_dir))

    def epoch_writer(path):
        tracer.sink_paths.append(path)
        return tracer.timed("sinks.write_call", writer_factory(path))

    tracer.patch(ph, "make_chunk_keeper_prober", chunk_prober)
    tracer.patch(ph, "make_video_keeper_prober", video_prober)
    tracer.patch(sinks, "parquet_epoch_overwrite_writer", epoch_writer)


# span name -> per-layer metric: summed span seconds in the window
SPAN_TOTALS = {
    "harness.spool": "harness.spool_s",
    "harness.foreach_batch_run": "harness.foreach_batch_run_s",
    "multimodal.image_probe": "multimodal.image_probe_s",
    "multimodal.audio_probe": "multimodal.audio_probe_s",
    "multimodal.video_probe": "multimodal.video_probe_s",
    "sinks.write_call": "sinks.write_call_s",
}
# per-layer metrics that are not counts or sums, so not divided per iteration
NOT_ADDITIVE = (
    "session.get_spark_s",
    "engine.jobs_per_trigger",
    "streaming.state_rows_total",
    "streaming.state_memory_bytes",
)


def trace_layers(ctx, t0: float, t1: float, per: int = 1) -> dict[str, float]:
    """The per-layer metrics every traced run reports, over [t0, t1].

    Read from the streaming progress listener, the Spark event log and the
    wrappers ``install_wrappers`` put in. Counts and sums are divided by
    ``per``, the number of closed-loop iterations in the window. Also
    writes the spans and each span name's self time into the trace dir.
    """
    tracer = ctx.tracer
    window = [p for p in ctx.progress if t0 <= iso_to_epoch(p["timestamp"]) <= t1]
    out = progress_metrics(window)
    out["session.get_spark_s"] = ctx.get_spark_s
    for span, key in SPAN_TOTALS.items():
        out[key] = sum(s["end"] - s["start"] for s in tracer.closed(span, t0, t1))
    out["multimodal.probe_calls"] = float(
        sum(len(tracer.closed(f"multimodal.{m}_probe", t0, t1)) for m in ("image", "audio", "video"))
    )
    out["sinks.points_written"] = float(_rows_written(tracer.sink_paths))
    out.update(
        event_log_metrics(os.path.join(ctx.trace_dir, "eventlog"), t0, t1, out["streaming.triggers"])
    )
    for k in out:
        if k not in NOT_ADDITIVE and not k.endswith(("_p50", "_p99")):
            out[k] /= per
    tracer.write(os.path.join(ctx.trace_dir, "spans.jsonl"))
    with open(os.path.join(ctx.trace_dir, "self_times.json"), "w") as fh:
        json.dump(tracer.self_times(), fh, indent=1)
    return out


def _rows_written(paths: list[str]) -> int:
    files = [f for p in paths for f in glob.glob(os.path.join(p, "*", "*.parquet"))]
    if not files:
        return 0
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in files)


def make_progress_listener(sink: list, ended: list):
    """A StreamingQueryListener appending every progress dict to ``sink``
    and the run id of every query that terminates to ``ended``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            ended.append(str(event.runId))

    return ProgressListener()


def iso_to_epoch(ts: str) -> float:
    """Progress timestamps look like 2026-01-01T00:00:00.123Z (UTC)."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()


def quantile(values, q: float) -> float:
    if not values:
        return 0.0
    vs = sorted(values)
    return vs[min(len(vs) - 1, int(q * len(vs)))]


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-trigger engine phases, state and source timings from progress."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(p, key):
        return p.get("durationMs", {}).get(key, 0) / 1000.0

    def ops(p, key):
        return sum(op.get(key, 0) for op in p.get("stateOperators", []))

    last_state: dict[str, dict] = {}
    for p in progress:
        last_state[p["id"]] = p
    out = {
        "streaming.triggers": float(len(data)),
        "streaming.trigger_s_p50": quantile([dur(p, "triggerExecution") for p in data], 0.5),
        "streaming.trigger_s_p99": quantile([dur(p, "triggerExecution") for p in data], 0.99),
        "streaming.add_batch_s_p50": quantile([dur(p, "addBatch") for p in data], 0.5),
        "streaming.overhead_s_p50": quantile(
            [dur(p, "triggerExecution") - dur(p, "addBatch") for p in data], 0.5
        ),
        "streaming.query_planning_s_p50": quantile([dur(p, "queryPlanning") for p in data], 0.5),
        "streaming.wal_commit_s_p50": quantile([dur(p, "walCommit") for p in data], 0.5),
        "streaming.commit_offsets_s_p50": quantile([dur(p, "commitOffsets") for p in data], 0.5),
        "streaming.rows_per_trigger_p50": quantile([p["numInputRows"] for p in data], 0.5),
        "sources.latest_offset_s_p50": quantile([dur(p, "latestOffset") for p in data], 0.5),
        "sources.get_batch_s_p50": quantile([dur(p, "getBatch") for p in data], 0.5),
        "streaming.state_rows_total": float(
            sum(ops(p, "numRowsTotal") for p in last_state.values())
        ),
        "streaming.state_memory_bytes": float(
            sum(ops(p, "memoryUsedBytes") for p in last_state.values())
        ),
        # over every data trigger: a stateless one spends 0 s in state ops
        "streaming.state_commit_s_p50": quantile(
            [ops(p, "commitTimeMs") / 1000.0 for p in data], 0.5
        ),
        "streaming.state_update_s_p50": quantile(
            [ops(p, "allUpdatesTimeMs") / 1000.0 for p in data], 0.5
        ),
        "streaming.rows_dropped_by_watermark": float(
            sum(ops(p, "numRowsDroppedByWatermark") for p in progress)
        ),
    }
    return out


def event_log_metrics(log_dir: str, t0: float, t1: float, triggers: float) -> dict[str, float]:
    """Jobs, stages, tasks, executor time, shuffle and spill from the event log.

    Only jobs submitted and tasks launched inside [t0, t1] (epoch s) count.
    Stage run time is the summed executor run time of its tasks, split by
    task type: shuffle-map tasks (scan, parse, explode, partial aggregation)
    and result tasks (state update and write).
    """
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("appstatus", "."))
    ]
    lo, hi = t0 * 1000, t1 * 1000
    jobs: dict[int, dict] = {}
    write_execs: set[str] = set()
    m = dict.fromkeys(
        (
            "engine.tasks",
            "engine.executor_run_s",
            "engine.executor_cpu_s",
            "engine.gc_s",
            "engine.shuffle_write_bytes",
            "engine.shuffle_read_bytes",
            "engine.spill_bytes",
            "operators.map_stage_run_s",
            "streaming.result_stage_run_s",
        ),
        0.0,
    )
    stages: set[int] = set()
    tasks = []
    for path in sorted(files):
        with open(path, errors="replace") as fh:
            for line in fh:
                ev = line.partition('"Event":"')[2].partition('"')[0]
                if ev not in (
                    "SparkListenerJobStart",
                    "SparkListenerJobEnd",
                    "SparkListenerTaskEnd",
                    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                ):
                    continue
                e = json.loads(line)
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "start": e["Submission Time"],
                        "exec": (e.get("Properties") or {}).get("spark.sql.execution.id"),
                    }
                elif ev == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
                else:
                    plan = e.get("physicalPlanDescription", "")
                    if "InsertIntoHadoopFsRelationCommand" in plan or "WriteFiles" in plan:
                        write_execs.add(str(e["executionId"]))
    in_window = {j: v for j, v in jobs.items() if lo <= v["start"] <= hi}
    for e in tasks:
        info, tm = e.get("Task Info", {}), e.get("Task Metrics") or {}
        if not lo <= info.get("Launch Time", 0) <= hi:
            continue
        m["engine.tasks"] += 1
        stages.add(e["Stage ID"])
        run_s = tm.get("Executor Run Time", 0) / 1000.0
        m["engine.executor_run_s"] += run_s
        m["engine.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["engine.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
        sw = tm.get("Shuffle Write Metrics", {})
        sr = tm.get("Shuffle Read Metrics", {})
        m["engine.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        m["engine.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        m["engine.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        key = (
            "streaming.result_stage_run_s"
            if e.get("Task Type") == "ResultTask"
            else "operators.map_stage_run_s"
        )
        m[key] += run_s
    busy = union_length(
        [(v["start"], v.get("end", hi)) for v in in_window.values()], lo, hi
    )
    m["engine.jobs"] = float(len(in_window))
    m["engine.write_jobs"] = float(
        sum(1 for v in in_window.values() if v["exec"] in write_execs)
    )
    m["engine.stages"] = float(len(stages))
    m["engine.jobs_per_trigger"] = len(in_window) / triggers if triggers else 0.0
    m["engine.scheduling_gap_s"] = max(0.0, (hi - lo - busy) / 1000.0)
    return m


def planner_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning seconds from a frame's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
    return {
        f"planner.{key}_s": phases.apply(key).durationMs() / 1000.0
        if phases.contains(key)
        else 0.0
        for key in ("analysis", "optimization", "planning")
    }
