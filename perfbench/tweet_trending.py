"""``tweet_trending``: the reference program under an open-loop tweet stream.

Ingest: ``sources.kafka.kafka_stream(..., fallback_dir=spool)`` ->
``sources.tweets.parse_tweets`` -> ``operators.trending.extract_hashtags``.
Three concurrent update-mode queries with the package's 300 s watermark:

- Q1: 30 s windows sliding by 5 s, count per hashtag (reference v2);
- Q2: 1 s tumbling tweet count;
- Q3: running total.

Each writes ``streaming.sinks.as_points`` rows through
``parquet_epoch_overwrite_writer``. Schedule, after a synchronous
pre-warm: a warm step at the reference rate, the latency step at the
reference rate (``--seconds`` less 5 s), the 5 s saturation step, then a
drain. Latency runs from a tick's due time to the return of
the sink write of the first epoch holding the tick's file, pooled over
Q1-Q3. The sustained rate is what the slowest query processes per second
while all three are busy: its triggers' rows, each spread evenly over its
trigger, from the saturation step's start until the first query has
caught up with every tweet written (or the step's end, if later). Gaps
between triggers count; the drain in which one query has the host to
itself does not.

The reference rate sits where a trigger costs the same from 2k to 40k
tweets/s on a 4-core host, so latency there is per-trigger overhead. The
saturation rate is above what such a host processes with all three
queries running, so the backlog grows through the step (its slope is
reported, and a run whose slope is not positive says so). A doubling
ladder of rates would give the sustained rate only to within a factor
of two.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import numpy as np

from perfbench import gen
from perfbench.common import Result, tail_quantile, weighted_quantile
from perfbench.trace import install_wrappers, iso_to_epoch

REF_RATE = 5_000  # tweets/s: per-trigger overhead dominates at this rate
SAT_RATE = 120_000  # tweets/s: more than local[4] sustains
SAT_S = 5.0
WARM_S = 4.0
POOL = 100_000
VOCAB = 5_000
PREWARM_FILES = 2
QUERIES = ("q1", "q2", "q3")
LATE_LIMIT_S = 1.0  # a generator further behind than this invalidates the run


def build_points(spark, spool: str) -> dict:
    """The three streaming frames, shaped as time-series points."""
    from pyspark.sql import functions as F

    from spark_streaming_twitter_spark.operators.trending import extract_hashtags
    from spark_streaming_twitter_spark.sources.kafka import kafka_stream
    from spark_streaming_twitter_spark.sources.tweets import parse_tweets
    from spark_streaming_twitter_spark.streaming.queries import WATERMARK
    from spark_streaming_twitter_spark.streaming.sinks import as_points

    # no connector on the classpath: kafka_stream falls back to the spool
    raw = kafka_stream(spark, "localhost:9092", "tweets", fallback_dir=spool)
    tweets = parse_tweets(raw).withWatermark("ts", WATERMARK)
    q1 = (
        extract_hashtags(tweets)
        .groupBy(F.window("ts", "30 seconds", "5 seconds").alias("w"), "hashtag")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.end").alias("t"), "hashtag", "n")
    )
    q2 = (
        tweets.groupBy(F.window("ts", "1 second").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.end").alias("t"), F.lit("all").alias("scope"), "n")
    )
    q3 = tweets.groupBy().agg(F.count(F.lit(1)).alias("total")).select(
        F.current_timestamp().alias("t"), F.lit("all").alias("scope"), "total"
    )
    return {
        "q1": as_points(q1, "TrendingHashTagSpark", "t", ["hashtag"], ["n"]),
        "q2": as_points(q2, "TweetPerSecondCountSpark", "t", ["scope"], ["n"]),
        "q3": as_points(q3, "TotalTweetCountSpark", "t", ["scope"], ["total"]),
    }


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(os.path.basename(e["path"]), e["batchId"])
    return out


def expected_counts(log: list[dict], tags: list[list[int]]):
    """Generator truth: Q1 counts per (window end, tag), Q2 per second, Q3."""
    flat = np.fromiter((t for ts in tags for t in ts), dtype=np.int64)
    offs = np.zeros(len(tags) + 1, dtype=np.int64)
    np.cumsum([len(ts) for ts in tags], out=offs[1:])
    q1: dict[int, np.ndarray] = {}
    q2: dict[int, int] = {}
    for row in log:
        a, n = row["start"], row["n"]
        counts = np.zeros(VOCAB, dtype=np.int64)
        while n > 0:
            b = min(len(tags), a + n)
            counts += np.bincount(flat[offs[a] : offs[b]], minlength=VOCAB)
            n -= b - a
            a = 0
        ms = row["stamp_ms"]
        first_end = (ms // 5000) * 5000 + 5000
        for end in range(first_end, first_end + 30000, 5000):
            q1[end] = q1.get(end, 0) + counts
        sec_end = (ms // 1000) * 1000 + 1000
        q2[sec_end] = q2.get(sec_end, 0) + row["n"]
    q3 = sum(row["n"] for row in log)
    return q1, q2, q3


def committed_at(triggers: list[tuple[float, float, int]], t: float) -> float:
    """Rows a query has processed by time ``t``, from its (start, seconds,
    rows) triggers, taking each trigger's rows as spread evenly over it."""
    done = 0.0
    for start, dur, n in triggers:
        if start + dur <= t:
            done += n
        elif start < t:
            done += n * (t - start) / dur
    return done


def check_sink(sink: str, log: list[dict], tags: list[list[int]]) -> tuple[int, int, list[str]]:
    """Compare the final sink contents with the generator's truth.

    One check per Q1 window (every tag's count, hence the argmax with the
    engine's count-desc, tag-asc tie rule), one per Q2 second, one for Q3.
    Returns (checks, mismatches, report lines).
    """
    import duckdb

    q1_want, q2_want, q3_want = expected_counts(log, tags)
    con = duckdb.connect()
    try:

        def final(q: str, tag: str, field: str):
            return con.execute(
                f"SELECT epoch_ms(time), map_extract(tags, '{tag}')[1],"
                f" max(map_extract(fields, '{field}')[1])"
                f" FROM read_parquet('{sink}/{q}/*/*.parquet') GROUP BY 1, 2"
            ).fetchall()

        q1_rows, q2_rows, q3_rows = final("q1", "hashtag", "n"), final("q2", "scope", "n"), final(
            "q3", "scope", "total"
        )
    finally:
        con.close()
    q1_got: dict[int, dict[str, int]] = {}
    for end, tag, n in q1_rows:
        q1_got.setdefault(end, {})[tag] = int(n)
    bad_windows = 0
    top = None
    for end in set(q1_got) | set(q1_want):
        want = q1_want.get(end)
        want_map = (
            {f"#t{k}": int(v) for k, v in enumerate(want) if v} if want is not None else {}
        )
        got = q1_got.get(end, {})
        if got != want_map:
            bad_windows += 1
        elif got:
            best = max(got.values())
            top = (end, min(t for t, v in got.items() if v == best), best)
    q2_got = {end: int(n) for end, _, n in q2_rows}
    bad_seconds = sum(
        1 for end in set(q2_got) | set(q2_want) if q2_got.get(end) != q2_want.get(end)
    )
    q3_got = max((int(n) for _, _, n in q3_rows), default=-1)
    checks = len(set(q1_got) | set(q1_want)) + len(set(q2_got) | set(q2_want)) + 1
    failed = bad_windows + bad_seconds + (q3_got != q3_want)
    report = [
        f"check Q1 {len(q1_want)} windows ({bad_windows} wrong; last top {top}),"
        f" Q2 {len(q2_want)} seconds ({bad_seconds} wrong),"
        f" Q3 total {q3_got} of {q3_want}"
    ]
    return checks, failed, report


def run(ctx, process_start: float) -> Result:
    spark = ctx.start_spark()
    spool, side = ctx.path("spool", ""), ctx.path("side", "")
    sink, log_path = ctx.path("sink"), ctx.path("gen.log")
    lines, tags = gen.render_pool(ctx.seed, POOL, VOCAB)
    ref_s, sat_s = ctx.seconds - SAT_S, SAT_S
    plan = {
        "seed": ctx.seed,
        "pool": POOL,
        "vocab": VOCAB,
        "spool": spool,
        "side": side,
        "log": log_path,
        "start": PREWARM_FILES * REF_RATE // 10,
        "schedule": [[WARM_S, REF_RATE], [ref_s, REF_RATE], [sat_s, SAT_RATE]],
    }
    with open(ctx.path("plan.json"), "w") as fh:
        json.dump(plan, fh)
    generator = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), ctx.path("plan.json")],
        stdin=subprocess.PIPE,
        text=True,
    )
    ctx.rss.exclude.add(generator.pid)
    try:
        return _run(ctx, process_start, spark, generator, plan, lines, tags, sink)
    finally:
        if generator.poll() is None:
            generator.kill()
        generator.wait()


def _run(ctx, process_start, spark, generator, plan, lines, tags, sink) -> Result:
    tracer = ctx.tracer
    if tracer is not None:
        install_wrappers(tracer)
    from spark_streaming_twitter_spark.streaming.sinks import parquet_epoch_overwrite_writer

    done: dict[str, dict[int, float]] = {q: {} for q in QUERIES}

    def sink_writer(q: str):
        write = parquet_epoch_overwrite_writer(f"{sink}/{q}")

        def on_batch(df, epoch_id: int) -> None:
            write(df, epoch_id)
            done[q].setdefault(epoch_id, time.time())

        return on_batch

    prewarm = [
        gen.write_tick(
            plan["spool"], plan["side"], lines, k * REF_RATE // 10, REF_RATE // 10,
            f"prewarm_{k}.json", time.time(),
        )
        for k in range(PREWARM_FILES)
    ]
    points = build_points(spark, plan["spool"])
    queries = {
        q: points[q]
        .writeStream.foreachBatch(sink_writer(q))
        .outputMode("update")
        .option("checkpointLocation", ctx.path("checkpoint", q))
        .queryName(f"tweet_{q}")
        .start()
        for q in QUERIES
    }
    try:
        for q in queries.values():
            q.processAllAvailable()
        t0 = time.time() + 0.5
        generator.stdin.write(f"{t0!r}\n")
        generator.stdin.close()
        ref_start = t0 + WARM_S
        sat_start = ref_start + plan["schedule"][1][0]
        gen_end = sat_start + plan["schedule"][2][0]
        setup_s = ref_start - process_start
        generator.wait(timeout=gen_end - time.time() + 30)
        for q in queries.values():
            q.processAllAvailable()
        drain_end = time.time()
        progress = {name: list(q.recentProgress) for name, q in queries.items()}
    finally:
        for q in queries.values():
            q.stop()
        if tracer is not None:
            tracer.restore()

    with open(plan["log"]) as fh:
        log = prewarm + [json.loads(x) for x in fh]
    ticks_log = log[PREWARM_FILES:]
    late_max = max(row["written"] - row["due"] for row in ticks_log)
    sent = sum(row["n"] for row in log)

    # latency: due time -> sink write return of the epoch holding the file
    samples: list[tuple[float, int]] = []
    epochs: set[tuple[str, int]] = set()
    uncommitted = 0
    for q in QUERIES:
        batches = file_batches(ctx.path("checkpoint", q))
        for row in log:
            b = batches.get(row["file"])
            if b is None or b not in done[q]:
                uncommitted += row["n"]
            elif ref_start <= row["due"] < sat_start:
                samples.append((done[q][b] - row["due"], row["n"]))
                epochs.add((q, b))
    n_samples = sum(w for _, w in samples)
    # The tweets of one tick share their due time and, per query, the write
    # that returns them, so the samples behind the tail are (query, tick)
    # pairs, not tweets.
    p_tail = tail_quantile(len(samples))

    # sustained rate: rows processed per second while all three are busy
    triggers = {
        q: sorted(
            (iso_to_epoch(p["timestamp"]), p["durationMs"].get("triggerExecution", 0) / 1000.0,
             p["numInputRows"])
            for p in prog
            if p["numInputRows"] > 0
        )
        for q, prog in progress.items()
    }
    caught_up = [
        start + dur
        for trig in triggers.values()
        for k, (start, dur, _) in enumerate(trig)
        if sum(n for _, _, n in trig[: k + 1]) >= sent
    ]
    busy_end = max(gen_end, min(caught_up, default=gen_end))
    rates, backlog = {}, []
    written = sorted((row["written"], row["n"]) for row in log)
    for q, trig in triggers.items():
        rates[q] = (committed_at(trig, busy_end) - committed_at(trig, sat_start)) / (
            busy_end - sat_start
        )
        committed = 0
        for start, dur, n in trig:
            committed += n
            end = start + dur
            if sat_start <= end <= gen_end:
                sent_by = sum(n_ for w, n_ in written if w <= end)
                backlog.append((q, end, sent_by - committed))
    slowest = min(rates, key=rates.get)
    slow_backlog = [(t, b) for q, t, b in backlog if q == slowest]
    slope = 0.0
    if len(slow_backlog) >= 2:
        ts_, bs_ = np.array([t for t, _ in slow_backlog]), np.array([b for _, b in slow_backlog])
        slope = float(np.polyfit(ts_ - ts_[0], bs_, 1)[0])

    checks, mismatches, report = check_sink(sink, log, tags)
    late = late_max > LATE_LIMIT_S
    failed = mismatches + uncommitted + int(late) + int(not samples) + int(not rates[slowest])
    attempted = checks + sent + 1
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": weighted_quantile(samples, 0.5) if samples else 0.0,
        "latency_tail_s": weighted_quantile(samples, p_tail) if samples else 0.0,
        "throughput_per_s": rates[slowest],
    }
    report += [
        f"latency_p50_s={e2e['latency_p50_s']:.4f} latency_tail_s=p{100 * p_tail:.3g}="
        f"{e2e['latency_tail_s']:.4f} over {n_samples} tweets, {len(samples)} query-ticks,"
        f" {len(epochs)} epochs (Q1-Q3 pooled,"
        f" {REF_RATE}/s for {plan['schedule'][1][0]:g} s)",
        f"sustained_tweets_per_s={rates[slowest]:.1f} (slowest {slowest}; "
        + " ".join(f"{q}={r:.0f}" for q, r in rates.items())
        + f"; offered {SAT_RATE}/s for {SAT_S:g} s, busy for {busy_end - sat_start:.2f} s,"
        + f" backlog slope {slope:.0f}/s"
        + ("" if slope > 0 else ", NOT saturated: the rate is the offered load")
        + ")",
        f"setup_s={setup_s:.3f} generator late_s_max={late_max:.4f} tweets_sent={sent}"
        f" uncommitted={uncommitted}",
    ]
    extra = {
        "sources.backlog_tweets_max": float(max((b for _, b in slow_backlog), default=0)),
        "sources.backlog_slope_tweets_per_s": slope,
        "generator.late_s_max": late_max,
        "generator.tweets_sent": float(sent),
    }
    if tracer is not None:
        calls = [s["end"] - s["start"] for s in tracer.closed("sinks.write_call", ref_start)]
        extra["sinks.write_call_s_p50"] = float(np.median(calls))
    return Result(e2e, attempted, failed, report, (ref_start, drain_end), 1, extra)
