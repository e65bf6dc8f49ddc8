"""``keeper_ingest``: the keeper streams in a closed loop, one client.

Each iteration runs two registered entries with a full collect:
``stream_multimodal_ingest_to_training_fused_persisted`` (image/audio
chunk and video keeper probers, the packer) and then
``stream_text_minhash_keeper_dedup_persisted`` (the text keeper). Both
spool the documents table into four micro-batches and decide every
document. The input is the sf0.01 ``documents`` fixture (500 documents),
re-keyed by the seed (``perfbench/fixture.py``). Every iteration's
output is compared with the entry's DuckDB oracle on the same input,
using ``tests/oracle.py``'s comparison semantics, outside the timed loop.

A warm-up comes first, untimed and counted in ``setup_s``: the first
run of each entry in a fresh session carries code generation, JIT and
Python worker start-up, and even its later triggers are not yet at their
warm cost (a cold iteration took 30-48 s against about 20 s warm on a
4-core host, and how much longer followed the host's load, not the
program). The warm-up runs both entries side by side on threads, and
the DuckDB oracles run on a third from before the session starts; the
warm-up's outputs are checked too. Timed iterations then run one after
another for about ``--seconds``: the loop stops once another iteration
would end more than half an iteration past it, and always times at
least one.

``latency_p50_s`` is the median flagship micro-batch: the trigger time
the engine's progress reports for each of its triggers in the timed
window. ``throughput_per_s`` is documents decided per second of
iteration wall, median over the timed iterations.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import fixture
from perfbench.common import Result
from perfbench.trace import install_wrappers, iso_to_epoch, planner_phases

ENTRIES = (
    "stream_multimodal_ingest_to_training_fused_persisted",
    "stream_text_minhash_keeper_dedup_persisted",
)
# Listener events arrive on their own thread; how long to wait for the
# last query run's events once the timed loop is over.
LISTENER_WAIT_S = 30.0


def oracle_frames(specs, sf_dir: str) -> dict:
    """Each entry's oracle answer over the same input, canonicalised."""
    import duckdb

    from tests.oracle import _canon

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
        )
        return {name: _canon(con.execute(specs[name].oracle).fetchdf()) for name in ENTRIES}
    finally:
        con.close()


def mismatches(rows, want) -> int:
    """0 when ``rows`` equal the oracle frame, else the count of bad cells
    (at least 1), under ``tests/oracle.py``'s semantics."""
    import pandas as pd

    from tests.oracle import _canon, _values_equal

    got = _canon(pd.DataFrame([r.asDict() for r in rows], columns=list(want.columns)))
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return max(1, abs(len(got) - len(want)))
    return sum(
        not _values_equal(g, w)
        for c in got.columns
        for g, w in zip(got[c].tolist(), want[c].tolist())
    )


def flagship_triggers(progress: list[dict], calls: list[tuple[str, float, float]]) -> list[float]:
    """Trigger seconds of every flagship data trigger in the timed calls.

    A query run belongs to the entry call (name, start, end) that spans
    its first trigger's start; the warm-up's calls are not in ``calls``.
    """
    runs: dict[str, list[dict]] = {}
    for p in progress:
        if p.get("numInputRows", 0) > 0:
            runs.setdefault(p["runId"], []).append(p)
    out = []
    for trig in runs.values():
        first = min(iso_to_epoch(p["timestamp"]) for p in trig)
        if any(name == ENTRIES[0] and t0 <= first <= t1 for name, t0, t1 in calls):
            out += [p["durationMs"]["triggerExecution"] / 1000.0 for p in trig]
    return out


def run(ctx, process_start: float) -> Result:
    import pyarrow.parquet as pq

    from spark_streaming_twitter_spark import catalog
    from spark_streaming_twitter_spark.registry import load_all

    sf_dir = fixture.write_documents(
        os.path.join(os.path.dirname(ctx.work), "fixtures", f"sf0.01_seed_{ctx.seed}"), ctx.seed
    )
    n_docs = pq.read_metadata(os.path.join(sf_dir, "documents.parquet")).num_rows
    specs = load_all()
    # the DuckDB oracles run on a thread while the session starts and warms up
    pool = ThreadPoolExecutor(max_workers=len(ENTRIES) + 1)
    oracle = pool.submit(oracle_frames, specs, sf_dir)
    try:
        spark = ctx.start_spark(listen=True)
        warm = {
            name: pool.submit(lambda name=name: specs[name].fn(spark, sf_dir).collect())
            for name in ENTRIES
        }
        want = oracle.result()
        warm_bad = sum(mismatches(f.result(), want[name]) for name, f in warm.items())
    finally:
        pool.shutdown()
    catalog.release_staged()
    tracer = ctx.tracer
    if tracer is not None:
        install_wrappers(tracer)
    calls: list[tuple[str, float, float]] = []

    def iteration() -> dict:
        stats = {"wall": 0.0, "bad": 0, "kept": 0, "planner": {}, "released": 0, "rows": {}}
        for name in ENTRIES:
            t = time.time()
            released = len(catalog._STAGED_PERSISTS)
            if tracer is not None:
                with tracer.span("catalog.release_staged"):
                    catalog.release_staged()
                with tracer.span("registry.fn"):
                    df = specs[name].fn(spark, sf_dir)
                with tracer.span("registry.collect"):
                    rows = df.collect()
                for k, v in planner_phases(df).items():
                    stats["planner"][k] = stats["planner"].get(k, 0.0) + v
            else:
                catalog.release_staged()
                rows = specs[name].fn(spark, sf_dir).collect()
            calls.append((name, t, time.time()))
            stats["wall"] += time.time() - t
            stats["released"] += released
            stats["rows"][name] = rows
        return stats

    def check(stats: dict, want: dict) -> dict:
        for name, rows in stats.pop("rows").items():
            stats["bad"] += mismatches(rows, want[name])
            stats["kept"] += len(rows) if "kept" not in want[name] else sum(
                bool(r["kept"]) for r in rows
            )
        return stats

    measure_start = time.time()
    setup_s = measure_start - process_start
    timed = []
    while not timed or (
        time.time() - measure_start + statistics.mean(s["wall"] for s in timed) / 2 < ctx.seconds
    ):
        timed.append(iteration())
    measure_end = time.time()
    if tracer is not None:
        tracer.restore()
    # a query's terminated event follows its last progress event; the
    # warm-up ran one query per entry too
    deadline = time.time() + LISTENER_WAIT_S
    while len(ctx.ended) < len(ENTRIES) + len(calls) and time.time() < deadline:
        time.sleep(0.05)
    flagship = sorted(flagship_triggers(ctx.progress, calls))
    if not flagship:
        raise RuntimeError("keeper_ingest: no flagship trigger progress was reported")
    timed = [check(s, want) for s in timed]

    walls = [s["wall"] for s in timed]
    decided = n_docs * len(ENTRIES)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(flagship),
        "latency_tail_s": flagship[-1],
        "throughput_per_s": decided / statistics.median(walls),
    }
    failed = warm_bad + sum(s["bad"] for s in timed)
    attempted = len(ENTRIES) * (1 + len(timed))
    kept_ratio = sum(s["kept"] for s in timed) / (decided * len(timed))
    report = [
        f"docs_per_s={e2e['throughput_per_s']:.2f} over {len(timed)} timed iteration(s)"
        f" of {decided} docs, walls " + ", ".join(f"{w:.3f}" for w in walls) + " s",
        f"flagship trigger p50 {e2e['latency_p50_s']:.3f} s, max {e2e['latency_tail_s']:.3f} s"
        f" over {len(flagship)} triggers",
        f"setup_s={setup_s:.3f} kept_ratio={kept_ratio:.4f}"
        f" oracle mismatches={failed} (warm-up {warm_bad})",
    ]
    n = len(timed)
    extra = {
        "dedup.kept_ratio": kept_ratio,
        "catalog.staged_released": sum(s["released"] for s in timed) / n,
    }
    if tracer is not None:
        for key in ("planner.analysis_s", "planner.optimization_s", "planner.planning_s"):
            extra[key] = sum(s["planner"].get(key, 0.0) for s in timed) / n
        for span in ("catalog.release_staged", "registry.fn", "registry.collect"):
            extra[f"{span}_s"] = sum(
                s["end"] - s["start"] for s in tracer.closed(span, measure_start, measure_end)
            ) / n
    return Result(e2e, attempted, failed, report, (measure_start, measure_end), n, extra)
