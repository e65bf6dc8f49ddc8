"""Streaming queries: the reference's three continuous queries plus the
streaming-semantics surface (SURVEY.md §2.5), oracle-checked.

Each registry entry drives a real Structured Streaming query over the events
fixture (file source standing in for Kafka), runs it to completion, and
returns the result as a batch DataFrame — so the driver's DuckDB oracle
verifies actual STREAMING state, not a batch lookalike:

- Q2 (tweets/sec, TwitterDatasetTrendingHashtag.java:88-90)   ->
  ``stream_events_per_minute`` (complete) and ``..._append`` (watermark
  emission semantics IN the oracle: only windows closed by the final
  watermark appear).
- Q3 (running total, :97-107) -> ``stream_running_total``: built-in
  ``groupBy().count()``. The reference shuffles EVERY ROW to one constant
  key's task (:99); Spark's partial aggregation shuffles one partial count
  per partition per trigger — the same answer with no hot key. The faithful
  per-key stateful form is ``stream_user_event_counts_stateful``
  (applyInPandasWithState = PySpark's mapGroupsWithState, :458-492), but
  sharded by user_id, never by a constant.
- Q1 (trending, :77-86) -> ``stream_trending_event_type``: streaming
  pre-aggregation (window x type counts, incremental state) + batch argmax
  over the aggregate — the lambda/serving split that replaces the
  map-buffer UDAF (:140-210).
- session windows / dropDuplicates: capability extensions (§2.8 streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.registry import QUERIES, query
from spark_streaming_twitter_spark.streaming.harness import (
    run_stream,
    run_to_memory,
    stream_events,
)

WATERMARK = "300 seconds"  # the reference's delay on all three queries (W4)


@query(
    "stream_events_per_minute",
    oracle="""
SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_ts,
       count(*) AS n
FROM events GROUP BY 1
""",
    doc="Reference Q2 as a real streaming query: tumbling 1-minute counts, "
    "complete mode; final streaming state must equal the batch answer. "
    "Partial+final agg per micro-batch; state keyed by window — sharded.",
    bench=True,
)
def stream_events_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(F.unix_timestamp("w.start").alias("bucket_ts"), "n")


@query(
    "stream_events_per_minute_append",
    oracle="""
WITH mx AS (SELECT max(ts) AS max_ts FROM events)
SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_ts,
       count(*) AS n
FROM events
GROUP BY 1
HAVING CAST(epoch(date_trunc('minute', min(ts)) + INTERVAL 1 MINUTE) AS BIGINT)
         <= (SELECT CAST(floor(epoch(max_ts - INTERVAL 300 SECOND)) AS BIGINT) FROM mx)
""",
    doc="Append-mode emission semantics, oracle-pinned: a window appears "
    "iff its end <= final watermark (max event time - 300 s). The last "
    "open window stays in state — exactly what the oracle's HAVING "
    "reproduces. This is W4/W5 (watermark + output mode) made testable.",
)
def stream_events_per_minute_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, output_mode="append")
    return out.select(F.unix_timestamp("w.start").alias("bucket_ts"), "n")


@query(
    "stream_running_total",
    oracle="SELECT count(*) AS total FROM events",
    doc="Reference Q3 (TotalTweetCountSpark) as the built-in streaming "
    "global count: partial counts per partition merge into one state row — "
    "no constant-key row shuffle (contrast "
    "TwitterDatasetTrendingHashtag.java:99 where one task owns every row).",
)
def stream_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    out = run_to_memory(
        ev.groupBy().agg(F.count(F.lit(1)).alias("total")), output_mode="complete"
    )
    return out


@query(
    "stream_trending_event_type",
    oracle="""
WITH counts AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT bucket_ts, event_type, n,
         row_number() OVER (PARTITION BY bucket_ts
                            ORDER BY n DESC, event_type DESC) AS rn
  FROM counts
)
SELECT bucket_ts, event_type AS top_type, n AS top_count
FROM ranked WHERE rn = 1
""",
    doc="Reference Q1 as stream + serving split: the streaming stage keeps "
    "(window x event_type) counts incrementally (complete mode, sharded "
    "state); the argmax runs as a batch query over that aggregate — the "
    "two-stage decomposition of the map-buffer UDAF "
    "(TwitterDatasetTrendingHashtag.java:140-210). Tie-break: max type.",
)
def stream_trending_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    counts = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mat = run_to_memory(counts, output_mode="complete")
    return (
        mat.groupBy(F.unix_timestamp("w.start").alias("bucket_ts"))
        .agg(F.max(F.struct("n", "event_type")).alias("m"))
        .select(
            "bucket_ts",
            F.col("m.event_type").alias("top_type"),
            F.col("m.n").alias("top_count"),
        )
    )


@query(
    "stream_session_windows",
    oracle="""
WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL 5 MINUTE
              THEN 0 ELSE 1 END AS new_session
  FROM events
),
grouped AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marks
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts) + INTERVAL 5 MINUTE)) AS BIGINT) AS session_end,
       count(*) AS n_events
FROM grouped
GROUP BY user_id, session_id
""",
    doc="Session windows (5-minute gap) per user — absent from the "
    "reference (§2.5 'not present'), native in Structured Streaming. "
    "Oracle = the classic gaps-and-islands rewrite; Spark's session_window "
    "end = last event + gap, mirrored in the oracle.",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.unix_timestamp("w.start").alias("session_start"),
        F.unix_timestamp("w.end").alias("session_end"),
        "n_events",
    )


@query(
    "stream_dedup_user_event_types",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="Streaming exact dedup: dropDuplicates on (user_id, event_type) — "
    "state keyed by the dedup key (sharded), append mode. The streaming "
    "form of dedup_exact; with a watermark the state is evictable "
    "(dropDuplicatesWithinWatermark) for unbounded keys.",
)
def stream_dedup_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    deduped = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_memory(deduped, output_mode="append")


@query(
    "stream_dedup_within_watermark",
    oracle="""
SELECT DISTINCT user_id, event_type,
       CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS minute_ts
FROM events
""",
    doc="dropDuplicatesWithinWatermark — the EVICTABLE-state dedup: unlike "
    "dropDuplicates, a key's state is dropped once the watermark passes its "
    "event time + delay, so state is bounded even over unbounded key "
    "cardinality (the 100 TB streaming-dedup form). The event-time minute "
    "is part of the dedup key, so duplicates always share an event time and "
    "are within any watermark delay — the guaranteed-dedup case, making the "
    "result deterministic: exactly DISTINCT (user, type, minute). Append "
    "mode emits first occurrences immediately.",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    keyed = ev.select(
        "user_id",
        "event_type",
        F.date_trunc("minute", F.col("ts")).alias("minute_start"),
    ).withWatermark("minute_start", WATERMARK)
    deduped = keyed.dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "minute_start"]
    )
    out = run_to_memory(deduped, output_mode="append")
    return out.select(
        "user_id",
        "event_type",
        F.unix_timestamp("minute_start").alias("minute_ts"),
    )


@query(
    "stream_user_event_counts_stateful",
    oracle="SELECT user_id, count(*) AS n_events FROM events GROUP BY 1",
    doc="applyInPandasWithState (PySpark's mapGroupsWithState, reproducing "
    "TwitterDatasetTrendingHashtag.java:458-492) with the constant-key "
    "funnel (:99) fixed: state is per user_id, so the shuffle and the state "
    "store shard across the cluster. Arrow-batched state updates; NoTimeout "
    "like the reference (W6). Final state per key == batch group-by count.",
)
def stream_user_event_counts_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_events(spark, sf_dir).select("user_id")

    def update_counts(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    updates = ev.groupBy("user_id").applyInPandasWithState(
        update_counts,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    mat = run_to_memory(updates, output_mode="update")
    # A key re-emits on every micro-batch it appears in; the final state is
    # the max (counts are monotone). One tiny agg over #users rows.
    return mat.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "stream_hourly_approx_users",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
       count(DISTINCT user_id) AS exact_users,
       CAST(1 AS INT) AS within_rsd_bound
FROM events GROUP BY 1
""",
    doc="Sketches INSIDE streaming state: hourly approx_count_distinct "
    "(HyperLogLog++, rsd=0.05) over the event stream — per-window HLL "
    "partials merge across micro-batches in the state store, the shape "
    "that makes windowed distinct-counting feasible at 100 TB (exact "
    "distinct state grows with cardinality; the sketch is fixed-size per "
    "window). Bounded-check oracle, same contract as "
    "approx_distinct_parts: the streamed sketch estimate must land within "
    "4 rsd of the EXACT per-hour distinct count (computed batch-side), "
    "and the exact counts value-compare against DuckDB.",
)
def stream_hourly_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.catalog import table

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.05).alias("approx_users")
        )
    )
    mat = run_to_memory(agg, output_mode="complete").select(
        F.unix_timestamp("w.start").alias("bucket_ts"), "approx_users"
    )
    exact = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias(
                "bucket_ts"
            )
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    bound = 4.0 * 0.05 * F.col("exact_users").cast("double")
    return mat.join(exact, "bucket_ts").select(
        "bucket_ts",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users")).cast("double")
            <= bound
        )
        .cast("int")
        .alias("within_rsd_bound"),
    )


@query(
    "stream_session_timeout_stateful",
    oracle="""
WITH wm AS (SELECT max(epoch_ms(ts)) - 300000 AS wm_ms FROM events),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w > INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, sid,
         min(ts) AS s_ts, max(ts) AS l_ts, count(*) AS n_events,
         max(sid) OVER (PARTITION BY user_id) AS max_sid
  FROM numbered GROUP BY user_id, sid
)
SELECT user_id,
       CAST(floor(epoch(s_ts)) AS BIGINT) AS session_start,
       CAST(floor(epoch(l_ts)) AS BIGINT) AS session_end,
       n_events
FROM sess, wm
WHERE sid < max_sid OR epoch_ms(l_ts) + 1800000 < wm_ms
""",
    doc="Timer-based state EVICTION (the mechanism W6's NoTimeout twin "
    "never exercises): per-user sessionization in applyInPandasWithState "
    "under GroupStateTimeout.EventTimeTimeout. In-batch session breaks "
    "emit immediately; each user's trailing session arms an event-time "
    "timer at last_ts + 30 min and is emitted by the TIMEOUT path (the "
    "no-data micro-batch after the watermark passes the timer) — the "
    "oracle encodes exactly that: every non-trailing session, plus "
    "trailing sessions whose timer strictly cleared the final watermark "
    "(Spark fires event-time timers only on timeoutTimestamp < watermark "
    "— FlatMapGroupsWithStateExec's comparison excludes equality, so a "
    "timer landing exactly ON the watermark ms does not fire); younger "
    "trailing sessions are still in state, "
    "correctly absent. State is one (start, last, n) triple per user — "
    "bounded — and the timer is what guarantees it DRAINS at 100 TB "
    "instead of accumulating every key ever seen.",
)
def stream_session_timeout_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    GAP_US = 1800 * 1_000_000

    ev = (
        stream_events(spark, sf_dir)
        .select("user_id", "ts")
        .withWatermark("ts", WATERMARK)
    )

    def sessionize(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [start_us // 1_000_000],
                    "session_end": [last_us // 1_000_000],
                    "n_events": [n],
                }
            )
            return
        ts_us: list[int] = []
        for pdf in pdf_iter:
            ts_us.extend(
                (pd.to_datetime(pdf["ts"]).astype("int64") // 1000).tolist()
            )
        ts_us.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        closed = []
        for t in ts_us:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > GAP_US:
                closed.append((start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + 1800 * 1000)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start": [s // 1_000_000 for s, _, _ in closed],
                "session_end": [e // 1_000_000 for _, e, _ in closed],
                "n_events": [c for _, _, c in closed],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType=(
            "user_id long, session_start long, session_end long, n_events long"
        ),
        stateStructType="start_us long, last_us long, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(out, output_mode="update")


def user_event_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas — Spark 4's arbitrary-state successor to
    applyInPandasWithState (typed per-key ValueState, timers, TTL) on the
    RocksDB state store provider it requires. Same contract as the legacy
    stateful form: per-user running count, state sharded by user_id, final
    state per key == batch group-by count; the modern path for the
    reference's mapGroupsWithState semantics
    (TwitterDatasetTrendingHashtag.java:458-492).

    Registered in the query registry ONLY when a ``google.protobuf``
    runtime imports (capability probe below — native install OR the
    pure-Python runtime the host's public Google Cloud SDK vendors, which
    the probe puts on sys.path and this function forwards to the Python
    workers via ``sc.environment``): the Python state client speaks
    protobuf to the JVM, so on hosts with neither the plan constructs but
    execution raises in the Python worker. On capable hosts the query gets
    a driver CORRECTNESS row automatically; the dependency gate is pinned
    by tests/test_streaming.py (test_transform_with_state_*), which runs
    the full oracle comparison when protobuf is importable and asserts the
    documented failure mode when it is not.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _forward_vendored_protobuf_to_workers(spark)

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    ev = stream_events(spark, sf_dir).select("user_id")
    counts = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCount(),
        outputStructType="user_id bigint, n_events bigint",
        outputMode="Update",
        timeMode="None",
    )
    mat = _run_tws_update(spark, counts)
    # A key re-emits every micro-batch it appears in; counts are monotone,
    # so the final state is the max — one tiny agg over #users rows.
    return mat.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


def _run_tws_update(spark: SparkSession, sdf: DataFrame) -> DataFrame:
    """Drive a transformWithStateInPandas plan to a memory sink with the
    RocksDB state store provider it requires, scoping the conf to the run
    (unset-vs-explicit preserved via the None sentinel)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return run_to_memory(sdf, output_mode="update")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def user_event_type_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with MAP state — the state type the
    ValueState twin can't exercise: one MapState per user keyed by
    event_type holding a running count (the tws-native form of the
    reference's per-key HashMap aggregation buffer,
    TwitterDatasetTrendingHashtag.java:458-492 — there the map lived in a
    UDAF buffer; here it lives in the state store, per key, with
    point-lookup/update semantics instead of whole-buffer rewrites). Each
    micro-batch updates only the touched map entries and re-emits the
    key's full map; counts per (user, event_type) are monotone, so the
    read-back max is the final state, which must equal the batch
    group-by. Same capability gate as user_event_counts_tws (see its
    docstring): registered only when a google.protobuf runtime imports —
    native or the vendored pure-Python one. Scale: MapState's per-entry
    reads/writes are exactly what keeps wide per-key maps cheap under
    RocksDB — a 1000-type user costs one point-update per touched type
    per batch, not a full map serialization like the UDAF buffer."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _forward_vendored_protobuf_to_workers(spark)

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._m = handle.getMapState(
                "type_counts", "event_type string", "n bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            from collections import Counter

            add = Counter()
            for pdf in rows:
                add.update(pdf["event_type"].value_counts().to_dict())
            for et, inc in add.items():
                cur = (
                    self._m.getValue((et,))[0]
                    if self._m.containsKey((et,))
                    else 0
                )
                self._m.updateValue((et,), (cur + int(inc),))
            types, ns = [], []
            for k_, v_ in self._m.iterator():
                types.append(k_[0])
                ns.append(v_[0])
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(types),
                    "event_type": types,
                    "n": ns,
                }
            )

        def close(self) -> None:
            pass

    ev = stream_events(spark, sf_dir).select("user_id", "event_type")
    counts = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TypeCounts(),
        outputStructType="user_id bigint, event_type string, n bigint",
        outputMode="Update",
        timeMode="None",
    )
    mat = _run_tws_update(spark, counts)
    return mat.groupBy("user_id", "event_type").agg(F.max("n").alias("n"))


def session_windows_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with EVENT-TIME TIMERS — the tws half
    stream_session_timeout_stateful's GroupStateTimeout covers in the
    legacy API: per-user 30-min-gap sessionization where in-batch session
    breaks emit immediately and each user's trailing session is evicted
    by an explicit timer (``registerTimer`` at last + 30 min; the old
    timer is ``deleteTimer``'d when new events extend the session —
    unlike setTimeoutTimestamp, tws timers don't replace implicitly) and
    emitted from ``handleExpiredTimer`` when the watermark passes it.
    Fires on timer < watermark (strict, same as the legacy exec), so the
    oracle is stream_session_timeout_stateful's VERBATIM — the two
    stateful APIs must produce the identical session table. Same
    capability gate as user_event_counts_tws. Scale: state is one
    (start, last, n) triple per ACTIVE user and the timer is the drain
    guarantee; timers live in the state store alongside the value state,
    RocksDB-backed like everything else."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _forward_vendored_protobuf_to_workers(spark)

    GAP_US = 1800 * 1_000_000
    GAP_MS = 1800 * 1000

    class Sessionize(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._s = handle.getValueState(
                "sess", "start_us long, last_us long, n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            ts_us: list[int] = []
            for pdf in rows:
                ts_us.extend(
                    (
                        pd.to_datetime(pdf["ts"]).astype("int64") // 1000
                    ).tolist()
                )
            ts_us.sort()
            if self._s.exists():
                start_us, last_us, n = self._s.get()
                for t in list(self._h.listTimers()):
                    self._h.deleteTimer(t)
            else:
                start_us, last_us, n = None, None, 0
            closed = []
            for t in ts_us:
                if start_us is None:
                    start_us, last_us, n = t, t, 1
                elif t - last_us > GAP_US:
                    closed.append((start_us, last_us, n))
                    start_us, last_us, n = t, t, 1
                else:
                    last_us, n = t, n + 1
            self._s.update((start_us, last_us, n))
            self._h.registerTimer(last_us // 1000 + GAP_MS)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [s // 1_000_000 for s, _, _ in closed],
                    "session_end": [e // 1_000_000 for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._s.exists():
                return
            start_us, last_us, n = self._s.get()
            self._s.clear()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [start_us // 1_000_000],
                    "session_end": [last_us // 1_000_000],
                    "n_events": [n],
                }
            )

        def close(self) -> None:
            pass

    ev = (
        stream_events(spark, sf_dir)
        .select("user_id", "ts")
        .withWatermark("ts", WATERMARK)
    )
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Sessionize(),
        outputStructType=(
            "user_id long, session_start long, session_end long, "
            "n_events long"
        ),
        outputMode="Update",
        timeMode="EventTime",
    )
    return _run_tws_update(spark, out)


def user_recent_events_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with LIST state — the append-optimized
    primitive (appendList is an append, not a read-modify-write of the
    whole buffer): per-user event log of (ts_us, event_id) rows, each
    batch APPENDING its rows and emitting the user's total plus the 3
    most recent event_ids (ts desc, event_id desc — the
    last-N-user-actions feature every recommender/feature-store
    materializes). The read-back keeps each user's emission with the
    max n_total (counts grow monotonically). Same capability gate as
    user_event_counts_tws. Scale: ListState's append-only writes are
    what keep an ever-growing per-key log cheap under RocksDB — each
    batch writes only its delta; the top-3 scan is the part a real
    pipeline would bound with a timer-driven trim."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    _forward_vendored_protobuf_to_workers(spark)

    class RecentEvents(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._l = handle.getListState(
                "event_log", "ts_us long, event_id long"
            )

        def handleInputRows(self, key, rows, timerValues):
            new = []
            for pdf in rows:
                ts_us = (
                    pd.to_datetime(pdf["ts"]).astype("int64") // 1000
                ).tolist()
                new.extend(
                    zip(ts_us, pdf["event_id"].astype("int64").tolist())
                )
            if new:
                self._l.appendList(new)
            log = [tuple(r) for r in self._l.get()]
            log.sort(key=lambda r: (-r[0], -r[1]))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_total": [len(log)],
                    "last3": [",".join(str(e) for _, e in log[:3])],
                }
            )

        def close(self) -> None:
            pass

    ev = stream_events(spark, sf_dir).select("user_id", "ts", "event_id")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RecentEvents(),
        outputStructType="user_id bigint, n_total bigint, last3 string",
        outputMode="Update",
        timeMode="None",
    )
    mat = _run_tws_update(spark, out)
    return mat.groupBy("user_id").agg(
        F.max("n_total").alias("n_total"),
        F.max_by("last3", "n_total").alias("last3"),
    )


def running_total_tws_bootstrap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """transformWithStateInPandas with INITIAL STATE — the snapshot
    bootstrap every batch-to-streaming migration needs (the lambda-
    architecture handoff): per-user counts are SEEDED from a batch
    snapshot (events with event_id % 4 = 0, standing in for the
    historical table) via ``handleInitialState``, and the stream carries
    only the remainder (event_id % 4 <> 0); the final per-user count
    must equal the full batch group-by over ALL events — the proof that
    the seed and the increments compose exactly once. Keys that never
    appear on the stream emit nothing (handleInitialState cannot emit),
    so the oracle keeps only users with at least one stream event. Same
    capability gate as user_event_counts_tws. Scale: the snapshot side
    is one distributed aggregation co-partitioned with the state store
    by the grouping key — no driver-side loading of historical state."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from spark_streaming_twitter_spark.catalog import table as _table

    _forward_vendored_protobuf_to_workers(spark)

    class SeededCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n bigint")

        def handleInitialState(self, key, initialState, timerValues):
            self._n.update((int(initialState["n"].iloc[0]),))

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    snapshot = (
        _table(spark, sf_dir, "events")
        .where(F.col("event_id") % 4 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ev = (
        stream_events(spark, sf_dir)
        .where(F.col("event_id") % 4 != 0)
        .select("user_id")
    )
    counts = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=SeededCount(),
        outputStructType="user_id bigint, n_events bigint",
        outputMode="Update",
        timeMode="None",
        initialState=snapshot.groupBy("user_id"),
    )
    mat = _run_tws_update(spark, counts)
    return mat.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


# Set when the probe found google.protobuf only via a vendored pure-Python
# runtime: the path must then also reach the PYTHON WORKERS (the tws state
# client runs there), which user_event_counts_tws does via sc.environment.
_PROTOBUF_VENDOR_PATH: str | None = None

# The (public) Google Cloud SDK ships a plain `google/protobuf` pure-Python
# runtime under its appengine platform dir; pip-less hosts that have the SDK
# can run the tws state client with it.
_PROTOBUF_VENDOR_CANDIDATES = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def _protobuf_available() -> bool:
    """True when a google.protobuf runtime usable by the tws state client
    imports — natively, or via a vendored pure-Python runtime this probe
    puts on sys.path (recording it in ``_PROTOBUF_VENDOR_PATH`` so the
    query can forward it to the Python workers). The vendored runtime may
    trail pyspark's gencode by a minor version (6.32 vs 6.33 here); the
    wire format is stable within a major, and protobuf documents the
    TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK escape hatch for exactly
    this gap — end-to-end oracle equality is what actually validates it
    (tests/test_streaming.py + the driver row)."""
    global _PROTOBUF_VENDOR_PATH
    import os
    import sys

    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        pass
    for vendor in _PROTOBUF_VENDOR_CANDIDATES:
        if not os.path.isdir(os.path.join(vendor, "google", "protobuf")):
            continue
        sys.path.insert(0, vendor)
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        try:
            from google.protobuf import descriptor  # noqa: F401
            import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401
        except Exception:  # noqa: BLE001 — any breakage: not usable
            sys.path.remove(vendor)
            continue
        _PROTOBUF_VENDOR_PATH = vendor
        return True
    return False


def _forward_vendored_protobuf_to_workers(spark: SparkSession) -> None:
    """Make the vendored protobuf runtime visible to Python WORKERS.

    ``sc.environment`` is captured into every Python function created
    after this call (PYTHONPATH is MERGED with Spark's own worker path,
    never replaced), so the tws state client — which imports
    google.protobuf inside the worker — finds the same runtime the driver
    probe found. No-op when protobuf imported natively."""
    import os

    if _PROTOBUF_VENDOR_PATH is None:
        return
    env = spark.sparkContext.environment
    prev = env.get("PYTHONPATH", "")
    if _PROTOBUF_VENDOR_PATH not in prev.split(os.pathsep):
        env["PYTHONPATH"] = _PROTOBUF_VENDOR_PATH + (
            os.pathsep + prev if prev else ""
        )
    env["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"


if _protobuf_available():
    # Capability-probe registration (VERDICT r5 #4, vendored-runtime
    # fallback r9): the Spark-4 stateful twin joins the registry — and
    # gets a driver row — the moment the environment provides ANY usable
    # protobuf runtime, with zero code change.
    query(
        "stream_user_event_counts_tws",
        oracle="SELECT user_id, count(*) AS n_events FROM events GROUP BY 1",
        doc="transformWithStateInPandas running-count twin of "
        "stream_user_event_counts_stateful (see user_event_counts_tws).",
    )(user_event_counts_tws)
    query(
        "stream_user_event_type_counts_tws",
        oracle="SELECT user_id, event_type, count(*) AS n "
        "FROM events GROUP BY 1, 2",
        doc="transformWithStateInPandas MAP-state per-user event-type "
        "counts (see user_event_type_counts_tws).",
    )(user_event_type_counts_tws)
    query(
        "stream_session_windows_tws",
        oracle=QUERIES["stream_session_timeout_stateful"].oracle,
        doc="transformWithStateInPandas EVENT-TIME-TIMER sessionization "
        "(see session_windows_tws; oracle is the legacy timeout twin's "
        "verbatim — both stateful APIs must emit the identical session "
        "table).",
    )(session_windows_tws)
    query(
        "stream_user_recent_events_tws",
        oracle="""
WITH ranked AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
tot AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_total
  FROM events GROUP BY 1
),
l3 AS (
  SELECT user_id,
         string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS last3
  FROM ranked WHERE rn <= 3 GROUP BY user_id
)
SELECT t.user_id, t.n_total, l.last3 FROM tot t JOIN l3 l USING (user_id)
""",
        doc="transformWithStateInPandas LIST-state per-user event log "
        "with last-3-events feature (see user_recent_events_tws).",
    )(user_recent_events_tws)
    query(
        "stream_running_total_tws_bootstrap",
        oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY 1
HAVING count(CASE WHEN event_id % 4 <> 0 THEN 1 END) > 0
""",
        doc="transformWithStateInPandas INITIAL-STATE snapshot bootstrap "
        "(see running_total_tws_bootstrap).",
    )(running_total_tws_bootstrap)

    from spark_streaming_twitter_spark.dedup.dedup import (
        _SELF_DEDUP_ORACLE,
        _TTL_DEDUP_ORACLE,
        stream_text_minhash_self_dedup,
        stream_text_minhash_self_dedup_unordered,
        stream_text_minhash_ttl_dedup,
        stream_text_minhash_ttl_dedup_bounded_disorder,
        stream_text_minhash_ttl_dedup_unordered,
    )

    query(
        "stream_text_minhash_ttl_dedup_bounded_disorder",
        oracle=_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded dedup under BOUNDED disorder with the "
        "watermark-swept state bound — the production completion of the "
        "unordered TTL: a block-reversed spool provides the bounded-"
        "delay contract a Kafka consumer group gives (disorder bound D "
        "feeds the watermark delay), and event-time timers sweep each "
        "per-key sorted id window below watermark - horizon (the "
        "watermark already runs D behind), so state is bounded by "
        "horizon + D of event time per key instead of stream history. "
        "Sweep timing provably cannot change output; oracle is the "
        "ordered twin's VERBATIM (see state_stream in "
        "streaming/bucket_state.py for the eviction-safety argument).",
    )(stream_text_minhash_ttl_dedup_bounded_disorder)

    query(
        "stream_text_minhash_ttl_dedup_unordered",
        oracle=_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded dedup under Kafka cross-partition disorder — "
        "sorted per-key id window in one array-valued MapState entry, "
        "adjacent-pair emission on merge, max-ref reconciliation on the "
        "read-back; order-free TTL semantics under the ordered twin's "
        "oracle VERBATIM (see state_stream in streaming/bucket_state.py).",
    )(stream_text_minhash_ttl_dedup_unordered)

    query(
        "stream_text_minhash_self_dedup",
        oracle=_SELF_DEDUP_ORACLE,
        doc="Self-referential streaming MinHash dedup via tws MapState — "
        "the index IS the stream's own past; probe + insert per "
        "micro-batch, first-occurrence-wins (see "
        "state_stream in streaming/bucket_state.py).",
        bench=True,
    )(stream_text_minhash_self_dedup)
    query(
        "stream_text_minhash_self_dedup_unordered",
        oracle=_SELF_DEDUP_ORACLE,
        doc="DISORDER-TOLERANT self-referential streaming dedup — the "
        "Kafka cross-partition-disorder form: a round-robin spool makes "
        "arrival order disagree with id order everywhere, ownership is "
        "min-id-reconciled in MapState (a smaller arriving id DEMOTES "
        "the stored owner and re-emits it as the duplicate), and the "
        "read-back reconciles attribution to the global min per key — "
        "bit-identical to the ordered twin and to the arrival-order-free "
        "oracle (see state_stream in streaming/bucket_state.py).",
    )(stream_text_minhash_self_dedup_unordered)
    query(
        "stream_text_minhash_ttl_dedup",
        oracle=_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded streaming near-dup dedup — MapState + "
        "event-time TTL sweep timers in one processor; state bounded by "
        "the horizon, not stream history (see "
        "state_stream in streaming/bucket_state.py).",
    )(stream_text_minhash_ttl_dedup)

    from spark_streaming_twitter_spark.multimodal.phash import (
        _AFP_SELF_DEDUP_ORACLE,
        _AFP_TTL_DEDUP_ORACLE,
        _PHASH_SELF_DEDUP_ORACLE,
        _PHASH_TTL_DEDUP_ORACLE,
        _VIDEO_SELF_DEDUP_ORACLE,
        _VIDEO_TTL_DEDUP_ORACLE,
        stream_media_audio_self_dedup,
        stream_media_audio_ttl_dedup,
        stream_media_audio_ttl_dedup_bounded_disorder,
        stream_media_audio_ttl_dedup_unordered,
        stream_media_audio_self_dedup_unordered,
        stream_media_phash_self_dedup,
        stream_media_phash_self_dedup_unordered,
        stream_media_phash_ttl_dedup,
        stream_media_phash_ttl_dedup_bounded_disorder,
        stream_media_phash_ttl_dedup_unordered,
        stream_media_video_self_dedup,
        stream_media_video_self_dedup_unordered,
        stream_media_video_ttl_dedup,
        stream_media_video_ttl_dedup_bounded_disorder,
        stream_media_video_ttl_dedup_unordered,
    )

    query(
        "stream_media_phash_ttl_dedup_bounded_disorder",
        oracle=_PHASH_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded IMAGE dedup under BOUNDED disorder with the "
        "watermark-swept state bound — the production completion of the "
        "image TTL family: block-reversed spool (bound D feeds the "
        "watermark delay), sorted (media_id, dhash) windows swept below "
        "watermark - horizon by event-time timers, Hamming verify on "
        "the max-ref-reconciled read-back; eviction safety per the text "
        "twin's proof, oracle the ordered twin's verbatim (see "
        "state_stream in streaming/bucket_state.py).",
    )(stream_media_phash_ttl_dedup_bounded_disorder)
    query(
        "stream_media_audio_ttl_dedup_bounded_disorder",
        oracle=_AFP_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded AUDIO dedup under BOUNDED disorder — the "
        "acoustic-fingerprint instance of the watermark-swept sorted "
        "window (see state_stream in streaming/bucket_state.py).",
    )(stream_media_audio_ttl_dedup_bounded_disorder)
    query(
        "stream_media_video_ttl_dedup_bounded_disorder",
        oracle=_VIDEO_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded VIDEO dedup under BOUNDED disorder — sorted "
        "clip-id windows per frame signature swept below watermark - "
        "horizon, max-ref reconciliation then the shared-frames "
        "threshold on the read-back (see state_stream in "
        "streaming/bucket_state.py).",
    )(stream_media_video_ttl_dedup_bounded_disorder)

    query(
        "stream_media_phash_ttl_dedup_unordered",
        oracle=_PHASH_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded IMAGE dedup under Kafka cross-partition "
        "disorder — sorted (media_id, dhash) window per chunk bucket in "
        "one array-valued MapState entry, adjacent-pair emission on "
        "merge, Hamming verify moved to the read-back against the "
        "max-ref-reconciled final predecessor; order-free TTL semantics "
        "under the ordered twin's oracle VERBATIM (see "
        "state_stream in streaming/bucket_state.py).",
    )(stream_media_phash_ttl_dedup_unordered)
    query(
        "stream_media_audio_ttl_dedup_unordered",
        oracle=_AFP_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded AUDIO dedup under cross-partition disorder "
        "— the acoustic-fingerprint instance of the sorted-window TTL "
        "with the 48-bit Hamming verify on the reconciled read-back "
        "(see state_stream in streaming/bucket_state.py).",
    )(stream_media_audio_ttl_dedup_unordered)
    query(
        "stream_media_video_ttl_dedup_unordered",
        oracle=_VIDEO_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded VIDEO dedup under cross-partition disorder "
        "— sorted clip-id window per frame signature, adjacent-pair "
        "emission, max-ref reconciliation per (signature, clip), then "
        "the >= 8-shared-distinct-frames threshold on the read-back "
        "(see state_stream in streaming/bucket_state.py).",
    )(stream_media_video_ttl_dedup_unordered)

    query(
        "stream_media_phash_self_dedup_unordered",
        oracle=_PHASH_SELF_DEDUP_ORACLE,
        doc="DISORDER-TOLERANT self-referential streaming IMAGE dedup — "
        "round-robin spool (Kafka cross-partition disorder), min-id "
        "reconciled MapState ownership with demotion re-emission, and "
        "the Hamming verify moved to the read-back against the FINAL "
        "reconciled owner's dHash (see state_stream in "
        "streaming/bucket_state.py).",
    )(stream_media_phash_self_dedup_unordered)
    query(
        "stream_media_audio_self_dedup_unordered",
        oracle=_AFP_SELF_DEDUP_ORACLE,
        doc="DISORDER-TOLERANT self-referential streaming AUDIO dedup — "
        "the acoustic-fingerprint instance of the min-id-reconciled "
        "chunk processor with read-back verify (see state_stream in "
        "streaming/bucket_state.py).",
    )(stream_media_audio_self_dedup_unordered)
    query(
        "stream_media_video_self_dedup_unordered",
        oracle=_VIDEO_SELF_DEDUP_ORACLE,
        doc="DISORDER-TOLERANT self-referential streaming VIDEO dedup — "
        "min-id reconciled frame-signature ownership with demotion "
        "re-emission; the >= 8-shared-frames threshold runs on the "
        "reconciled read-back (see state_stream in "
        "streaming/bucket_state.py).",
    )(stream_media_video_self_dedup_unordered)

    query(
        "stream_media_audio_ttl_dedup",
        oracle=_AFP_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded streaming AUDIO dedup — MapState carries the "
        "LAST (media_id, fingerprint) per chunk bucket, event-time timers "
        "sweep entries idle past the horizon, Hamming verify in state "
        "(see state_stream in streaming/bucket_state.py).",
    )(stream_media_audio_ttl_dedup)
    query(
        "stream_media_video_ttl_dedup",
        oracle=_VIDEO_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded streaming VIDEO dedup — MapState carries the "
        "LAST clip per frame signature, event-time timers sweep idle "
        "signatures; the >= 8-shared-frames pair threshold runs on the "
        "read-back (see state_stream in "
        "streaming/bucket_state.py).",
    )(stream_media_video_ttl_dedup)

    query(
        "stream_media_phash_ttl_dedup",
        oracle=_PHASH_TTL_DEDUP_ORACLE,
        doc="Horizon-bounded streaming IMAGE dedup — MapState carries the "
        "LAST (media_id, dhash) per chunk bucket, event-time timers sweep "
        "entries idle past the horizon; probes flag against the latest "
        "earlier same-bucket arrival within the horizon, Hamming-verified "
        "in the processor (see state_stream in "
        "streaming/bucket_state.py).",
    )(stream_media_phash_ttl_dedup)

    query(
        "stream_media_phash_self_dedup",
        oracle=_PHASH_SELF_DEDUP_ORACLE,
        doc="Self-referential streaming IMAGE dedup via tws MapState — "
        "decode + perceptual-hash inside the plan, chunk-LSH buckets "
        "probed AND inserted per micro-batch, Hamming-verified against "
        "the owner dHash carried in state (see state_stream in "
        "streaming/bucket_state.py).",
    )(stream_media_phash_self_dedup)
    query(
        "stream_media_audio_self_dedup",
        oracle=_AFP_SELF_DEDUP_ORACLE,
        doc="Self-referential streaming AUDIO dedup via tws MapState — "
        "acoustic-fingerprint chunk buckets probed/inserted per batch, "
        "Hamming-verified against the owner fingerprint in state (see "
        "state_stream in streaming/bucket_state.py).",
    )(stream_media_audio_self_dedup)
    query(
        "stream_media_video_self_dedup",
        oracle=_VIDEO_SELF_DEDUP_ORACLE,
        doc="Self-referential streaming VIDEO dedup via tws MapState — "
        "per-frame signatures own their first-seen clip in state; the "
        ">= 8-shared-frames pair threshold runs on the read-back (see "
        "state_stream in streaming/bucket_state.py).",
    )(stream_media_video_self_dedup)


@query(
    "stream_sliding_counts",
    oracle="""
WITH ev AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
expanded AS (
  SELECT unnest(generate_series(e - (e % 300) - 300, e - (e % 300), 300)) AS ws
  FROM ev
)
SELECT ws AS window_start, count(*) AS n
FROM expanded GROUP BY 1
""",
    doc="Reference W1/W2 sliding window (10 min window / 5 min slide) as a "
    "real streaming query, complete mode: each event lands in 2 overlapping "
    "windows (a Generate, the streaming equivalent of DStream "
    "reduceByKeyAndWindow at TwitterDStreamTrendingHashtag.java:82-83 — but "
    "incremental per-window state instead of recomputing the full window "
    "every slide). bench=True so the two-level prebucket variant below "
    "has its direct twin in every BENCH round.",
    bench=True,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(F.unix_timestamp("w.start").alias("window_start"), "n")


@query(
    "stream_sliding_counts_prebucket",
    oracle="""
WITH ev AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
expanded AS (
  SELECT unnest(generate_series(e - (e % 300) - 300, e - (e % 300), 300)) AS ws
  FROM ev
)
SELECT ws AS window_start, count(*) AS n
FROM expanded GROUP BY 1
""",
    doc="Two-level rewrite of stream_sliding_counts (VERDICT r5 #7), same "
    "oracle = provably same answers: stage 1 streams a TUMBLING "
    "slide-width (5 min) pre-aggregate — each event updates exactly ONE "
    "state row instead of window/slide overlapping windows — and stage 2 "
    "rolls buckets into sliding windows batch-side (each bucket feeds "
    "exactly window/slide = 2 windows here). The win scales with the "
    "overlap factor: at the reference's 300s/5s cadence "
    "(TwitterDStreamTrendingHashtag.java:82-83) the direct plan's Generate "
    "explodes every event x60 BEFORE the shuffle, while the pre-bucket "
    "plan shuffles one partial per (partition, bucket) and explodes only "
    "the tiny bucket aggregate x60 — a ~60x cut in shuffled/exploded rows "
    "and in per-trigger state writes. Exactness needs slide | window, "
    "which holds for both parameterizations.",
    bench=True,
)
def stream_sliding_counts_prebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    buckets = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "5 minutes").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mat = run_to_memory(buckets, output_mode="complete")
    bs = mat.select(F.unix_timestamp("b.start").alias("bs"), "n")
    return (
        bs.select(
            F.explode(F.array(F.col("bs") - 300, F.col("bs"))).alias(
                "window_start"
            ),
            "n",
        )
        .groupBy("window_start")
        .agg(F.sum("n").alias("n"))
    )


@query(
    "stream_events_per_minute_rocksdb",
    oracle="""
SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_ts,
       count(*) AS n
FROM events GROUP BY 1
""",
    doc="The same tumbling count as stream_events_per_minute, run on the "
    "RocksDB state store provider instead of the default in-heap HDFS "
    "store — identical oracle, so the backend swap is proven "
    "answer-neutral. RocksDB is the 100 TB state backend: state lives "
    "off-heap/on-disk with incremental checkpointing, so per-partition "
    "state is bounded by disk, not executor heap (a windowed agg over "
    "months of data or a large dedup buffer overflows an in-memory store "
    "long before it overflows local SSD). Conf is scoped to this query: "
    "provider is captured at stream start and restored after.",
)
def stream_events_per_minute_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = stream_events(spark, sf_dir)
        agg = (
            ev.withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out = run_to_memory(agg, output_mode="complete")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return out.select(F.unix_timestamp("w.start").alias("bucket_ts"), "n")


@query(
    "stream_hourly_from_minutely_chained",
    oracle="""
WITH mx AS (
  SELECT CAST(floor(epoch(max(ts) - INTERVAL 300 SECOND)) AS BIGINT) AS wm
  FROM events
)
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
       count(*) AS n
FROM events
GROUP BY 1
HAVING CAST(epoch(date_trunc('hour', ts)) AS BIGINT) + 3600
         <= (SELECT wm FROM mx)
""",
    doc="CHAINED stateful operators in one streaming query (Spark 3.4+ "
    "multi-stateful append mode; impossible in the reference's DStream "
    "model): minute-window counts feed an hour-window sum via "
    "window_time(), two state stores in one plan, closed minute windows "
    "cascading into the hour aggregate inside the same micro-batch. The "
    "at-scale win over re-aggregating raw events per hour: the second "
    "state keyed on ~1/60th the rows, and the pattern generalizes to "
    "rollup pyramids (minute->hour->day) with one source scan. Append "
    "emission rule oracle-encoded like stream_events_per_minute_append: "
    "an hour appears iff its end cleared the final watermark; the last "
    "open hour is held in state, correctly absent.",
)
def stream_hourly_from_minutely_chained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    minute = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hour = minute.groupBy(
        F.window(F.window_time("w"), "1 hour").alias("hw")
    ).agg(F.sum("n").alias("n"))
    out = run_to_memory(hour, output_mode="append")
    return out.select(F.unix_timestamp("hw.start").alias("bucket_ts"), "n")


@query(
    "stream_stream_join_conversions",
    oracle="""
SELECT s.user_id,
       CAST(floor(epoch(s.ts)) AS BIGINT) AS signup_epoch,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
FROM (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON s.user_id = p.user_id
 AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
""",
    doc="Stream-stream inner interval join (absent from the reference, "
    "SURVEY.md §2.5 'not present'): signups join purchases within 1 hour, "
    "both sides watermarked so the join state is bounded by the interval + "
    "delay — the watermark is what makes a stream-stream join feasible at "
    "all (unbounded state otherwise). Equi-key user_id carries the "
    "shuffle; the time band evaluates inside the join.",
)
def stream_stream_join_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    signups = (
        ev.where(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", WATERMARK)
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", WATERMARK)
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    out = run_to_memory(joined, output_mode="append")
    return out.select(
        "user_id",
        F.unix_timestamp("s_ts").alias("signup_epoch"),
        F.unix_timestamp("p_ts").alias("purchase_epoch"),
    )


@query(
    "stream_stream_left_join_conversions",
    oracle="""
WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT least((SELECT max(ts) FROM s), (SELECT max(ts) FROM p))
         - INTERVAL 300 SECOND AS w
),
matched AS (
  SELECT s.user_id, s.ts AS s_ts, p.ts AS p_ts
  FROM s JOIN p ON s.user_id = p.user_id
              AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
),
unmatched AS (
  SELECT s.user_id, s.ts AS s_ts, CAST(NULL AS TIMESTAMP) AS p_ts
  FROM s
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = s.user_id
            AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR)
    AND s.ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
)
SELECT user_id,
       CAST(floor(epoch(s_ts)) AS BIGINT) AS signup_epoch,
       CAST(floor(epoch(p_ts)) AS BIGINT) AS purchase_epoch
FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
""",
    doc="Stream-stream LEFT OUTER interval join: matches append as they "
    "occur; a signup with no purchase within its 1-hour band emits with "
    "NULL purchase columns only once the global watermark proves no future "
    "match is possible (wm > signup_ts + 1h) and its state is evicted — "
    "the no-data micro-batch mechanism delivers those final rows. The "
    "oracle encodes exactly that emission rule: all matched pairs, plus "
    "unmatched signups whose band closed before the FINAL watermark "
    "(min of both sides' max ts - 300 s); younger unmatched signups are "
    "still in state, correctly absent. State stays bounded by "
    "interval + delay, same as the inner variant.",
)
def stream_stream_left_join_conversions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    signups = (
        ev.where(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", WATERMARK)
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", WATERMARK)
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    out = run_to_memory(joined, output_mode="append")
    return out.select(
        "user_id",
        F.unix_timestamp("s_ts").alias("signup_epoch"),
        F.unix_timestamp("p_ts").alias("purchase_epoch"),
    )


@query(
    "stream_static_segment_counts",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) AS bucket_ts,
       c.c_mktsegment AS segment, count(*) AS n
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
    doc="Stream-static enrichment join (absent from the reference; the "
    "standard dimension-lookup stage of any streaming pipeline): the event "
    "stream joins the static customer table — Spark plans the static side "
    "as a broadcast rebuilt per micro-batch, so the STREAM never shuffles "
    "for the join; the windowed count then shuffles only (window, segment) "
    "partials. At 100 TB the dim stays broadcast-able (customers << "
    "events) or falls back to a shuffled join with the stream's natural "
    "partitioning — either way no stream-side state beyond the agg.",
)
def stream_static_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.catalog import table

    ev = stream_events(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(F.broadcast(dim), "user_id")
    agg = (
        enriched.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        F.unix_timestamp("w.start").alias("bucket_ts"), "segment", "n"
    )


@query(
    "stream_events_availablenow",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2
""",
    doc="Trigger.AvailableNow catch-up run (W8 made real; the scheduled-"
    "incremental-job shape absent from the always-on reference): the "
    "events fixture is spooled as a 4-file backlog, the source is rate-"
    "limited to maxFilesPerTrigger=1, and the AvailableNow query drains "
    "the backlog as 4 BOUNDED micro-batches then terminates ITSELF — "
    "awaitTermination waits for the query's own end-of-input shutdown, "
    "not an external stop. Final hourly window x event_type state must "
    "equal the batch answer; the multi-batch drain is pinned separately "
    "in tests/test_streaming.py. At 100 TB this is the cron-driven "
    "exactly-once ingest pattern: bounded work per run, one checkpoint "
    "across runs.",
)
def stream_events_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from spark_streaming_twitter_spark.catalog import spool_fixture, table

    def write_spool(base) -> None:
        # the rewritten spool carries a real TIMESTAMP (catalog.table already
        # converted the fixture's TIMESTAMP(NANOS)), so the stream schema
        # below is a plain TimestampType — no nanosAsLong conf needed
        table(spark, sf_dir, "events").select("ts", "event_type").repartition(
            4
        ).write.mode("overwrite").parquet(str(base / "events"))

    spool = str(
        spool_fixture("events_an", sf_dir, "v1", write_spool) / "events"
    )
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("event_type", StringType())]
    )
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(spool)
    )
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out, _ = run_stream(agg, mode="complete", trigger="availableNow")
    return out.select(
        F.unix_timestamp("w.start").alias("bucket_ts"), "event_type", "n"
    )


@query(
    "stream_minutely_rate_pt",
    oracle="""
SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_ts,
       count(*) AS n,
       CAST(count(*) AS DOUBLE) / 60 AS rate_per_sec
FROM events GROUP BY 1
""",
    doc="Reference Q2's throughput gauge under the reference's own trigger "
    "cadence: a real Trigger.ProcessingTime('500 milliseconds') query "
    "(TwitterDStreamTrendingHashtag.java:49 sets the identical 500 ms "
    "DStream batch interval), fed a 4-file spool rate-limited to one file "
    "per trigger, so the backlog provably drains across >= 4 clock-driven "
    "micro-batches (asserted in the harness — deterministic, since the "
    "rate limit caps each trigger at one file). Final per-minute counts "
    "and events/sec rate must equal the batch answer.",
)
def stream_minutely_rate_pt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from spark_streaming_twitter_spark.catalog import spool_fixture, table

    def write_spool(base) -> None:
        table(spark, sf_dir, "events").select("ts", "event_type").repartition(
            4
        ).write.mode("overwrite").parquet(str(base / "events"))

    spool = str(
        spool_fixture("events_an", sf_dir, "v1", write_spool) / "events"
    )
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("event_type", StringType())]
    )
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(spool)
    )
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out, progress = run_stream(agg, mode="complete", trigger="500 milliseconds")
    # one file per trigger: a 4-file backlog MUST take 4 data batches
    data_batches = sum(p["numInputRows"] > 0 for p in progress)
    if data_batches < 4:
        raise AssertionError(
            f"expected >= 4 data micro-batches under ProcessingTime(500 ms), "
            f"got {data_batches}"
        )
    return out.select(
        F.unix_timestamp("w.start").alias("bucket_ts"),
        "n",
        (F.col("n").cast("double") / 60).alias("rate_per_sec"),
    )


@query(
    "stream_tweet_trending_e2e",
    oracle="""
WITH tweets AS (
  SELECT '#' || source AS hashtag, doc_id * 60 AS e FROM documents
),
expanded AS (
  SELECT hashtag,
         unnest(generate_series(e - (e % 300) - 300, e - (e % 300), 300)) AS ws
  FROM tweets
),
counts AS (
  SELECT ws, hashtag, count(*) AS n FROM expanded GROUP BY 1, 2
),
ranked AS (
  SELECT ws, hashtag, n,
         row_number() OVER (PARTITION BY ws ORDER BY n DESC, hashtag DESC) AS rn
  FROM counts
)
SELECT ws AS window_start, hashtag AS top_hashtag, n AS top_count
FROM ranked WHERE rn = 1
""",
    doc="The reference's ENTIRE program as one pipeline: producer JSON "
    "tweets (built from documents, one per minute, written to a spool dir) "
    "-> streaming text source -> Kafka-shaped cast + PERMISSIVE from_json "
    "(P1-P3) -> null filter (P4) -> hashtag regex explode (F1/F2) -> "
    "watermarked sliding window(10m,5m) x hashtag counts (A1, W1/W2/W4) -> "
    "argmax per window (A2/A3 two-stage). Final streaming state must equal "
    "the DuckDB batch answer over the same synthetic tweets.",
)
def stream_tweet_trending_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.catalog import spool_fixture, table
    from spark_streaming_twitter_spark.operators.trending import extract_hashtags
    from spark_streaming_twitter_spark.sources.tweets import parse_tweets

    docs = table(spark, sf_dir, "documents")
    payload = F.to_json(
        F.struct(
            # '#' stripped from the body: the prepended '#'||source is the
            # only hashtag, the invariant the oracle depends on.
            F.concat(
                F.lit("#"),
                F.col("source"),
                F.lit(" "),
                F.regexp_replace(F.col("text"), "#", ""),
            ).alias("text"),
            (F.col("doc_id") * 60000).cast("string").alias("timestamp"),
            F.col("lang").alias("lang"),
        )
    )

    def write_spool(base) -> None:
        docs.select(payload.alias("value")).coalesce(4).write.mode(
            "overwrite"
        ).text(str(base / "text"))

    spool = str(spool_fixture("tweet", sf_dir, "v2-hashfree", write_spool) / "text")

    raw = spark.readStream.text(spool)
    tweets = parse_tweets(raw.select(F.lit(None).cast("string").alias("key"), "value"))
    counts = (
        extract_hashtags(tweets, "text")
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "hashtag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mat = run_to_memory(counts, output_mode="complete")
    return (
        mat.groupBy(F.unix_timestamp("w.start").alias("window_start"))
        .agg(F.max(F.struct("n", "hashtag")).alias("m"))
        .select(
            "window_start",
            F.col("m.hashtag").alias("top_hashtag"),
            F.col("m.n").alias("top_count"),
        )
    )


@query(
    "stream_update_emission_trace",
    oracle="""
WITH bounds AS (
  SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS m,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS x
  FROM events
),
ev AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
tagged AS (
  SELECT CASE WHEN e < m + (x - m) // 3 THEN 0
              WHEN e < m + (2 * (x - m)) // 3 THEN 1
              ELSE 2 END AS tercile,
         e - (e % 60) AS window_ts
  FROM ev, bounds
),
per AS (
  SELECT tercile, window_ts, count(*) AS n_batch
  FROM tagged GROUP BY 1, 2
),
idx AS (
  SELECT tercile,
         CAST(dense_rank() OVER (ORDER BY tercile) - 1 AS INT) AS trigger_index
  FROM (SELECT DISTINCT tercile FROM per)
)
SELECT i.trigger_index, p.window_ts,
       CAST(sum(p.n_batch) OVER (PARTITION BY p.window_ts
                                 ORDER BY p.tercile) AS BIGINT) AS n
FROM per p JOIN idx i USING (tercile)
""",
    doc="Reference W5 made fully observable: the reference runs all three "
    "queries in UPDATE output mode (TwitterDatasetTrendingHashtag.java:83, "
    "92, 104), whose contract is per-trigger re-emission of each CHANGED "
    "window with its new running total. This query oracle-encodes that "
    "emission SEQUENCE, not just the final state: events are spooled into "
    "three time-tercile parquet files (cut points deliberately NOT "
    "window-aligned, so windows straddle batches and must re-emit), "
    "streamed with maxFilesPerTrigger=1 + deterministic mtimes (one file "
    "per micro-batch, oldest first), and a foreachBatch recorder captures "
    "every (trigger_index, window, count) update row. The DuckDB oracle "
    "replays the trace as a prefix sum over the same tercile tagging — a "
    "straddling window appears once per touching batch with its CUMULATIVE "
    "count, exactly update-mode semantics. trigger_index counts data "
    "batches (dense-ranked on both sides) so an empty tercile cannot shift "
    "the alignment. The foreachBatch collect is the sink (tiny update "
    "rows), mirroring the reference's InfluxDB writer consuming the same "
    "update stream.",
)
def stream_update_emission_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from spark_streaming_twitter_spark.catalog import table
    from spark_streaming_twitter_spark.streaming.harness import (
        run_foreach_batch,
    )

    bt = table(spark, sf_dir, "events").select("ts")
    m, x = bt.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    c1 = m + (x - m) // 3
    c2 = m + (2 * (x - m)) // 3

    with tempfile.TemporaryDirectory(
        prefix="update_trace_", ignore_cleanup_errors=True
    ) as stream_dir:
        e = F.unix_timestamp("ts")
        preds = [e < c1, (e >= c1) & (e < c2), e >= c2]
        for i, pred in enumerate(preds):
            stage = os.path.join(stream_dir, f"_stage_{i}")
            # coalesce(1): each tercile becomes exactly one file = one
            # micro-batch. The spool is a harness fixture, not a scale
            # path — the production source is Kafka with its own batching.
            bt.where(pred).coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            dst = os.path.join(stream_dir, f"batch_{i}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            shutil.rmtree(stage)
            # strictly increasing mtimes pin the FileStreamSource order
            os.utime(dst, (1_000_000_000 + i * 3600, 1_000_000_000 + i * 3600))

        schema = spark.read.parquet(
            os.path.join(stream_dir, "batch_0.parquet")
        ).schema
        raw = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .option("pathGlobFilter", "batch_*.parquet")
            .load(stream_dir)
        )
        if dict(raw.dtypes)["ts"] == "timestamp_ntz":
            # same dtype guard as harness.stream_events: the spool writes
            # micros-NTZ; session tz is pinned UTC so the cast preserves
            # wall-clock and withWatermark accepts it
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        out = (
            raw.withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_timestamp("w.start").alias("window_ts"), "n")
        )

        trace: list[tuple[int, int, int]] = []
        counter = {"data_batches": 0}

        def record(df: DataFrame, _epoch_id: int) -> None:
            rows = [(r["window_ts"], r["n"]) for r in df.collect()]
            if not rows:
                return  # watermark-only no-data trigger: nothing emitted
            ti = counter["data_batches"]
            counter["data_batches"] += 1
            trace.extend((ti, w, n) for w, n in rows)

        run_foreach_batch(out, record, output_mode="update")

    return spark.createDataFrame(
        trace, "trigger_index int, window_ts bigint, n bigint"
    )


@query(
    "stream_state_store_checkpoint",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY 1",
    doc="Spark 4 State Data Source (`spark.read.format('statestore')`): run "
    "a per-event_type streaming count to a checkpoint, then read the "
    "query's STATE STORE itself back as a DataFrame — key struct, value "
    "struct, partition_id — and verify the store's contents against the "
    "batch oracle. This is the state observability surface a 1000-executor "
    "streaming deployment operates on: audit a live job's state without "
    "touching the job (the reader walks the checkpoint's per-partition "
    "state files directly, one task per store partition — parallel, "
    "no replay), find skewed/hot keys by grouping on partition_id, "
    "validate state after an upgrade, or bootstrap a new query from an "
    "old one's state. The memory-sink rows are deliberately ignored: the "
    "asserted artifact IS the checkpoint state, proving store contents "
    "(not just emitted output) match the batch answer bit-for-bit.",
)
def stream_state_store_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    with tempfile.TemporaryDirectory(
        prefix="spark_graft_state_ckpt_", ignore_cleanup_errors=True
    ) as ckpt:
        run_stream(agg, mode="complete", checkpoint=ckpt)
        state = spark.read.format("statestore").load(ckpt)
        # the store's value schema uses the AGGREGATE's internal buffer
        # name ("count"), not the output alias — pin via
        # position-independent name
        rows = state.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n"),
        ).collect()
    return spark.createDataFrame(rows, "event_type string, n bigint")


@query(
    "stream_upsert_latest_state",
    oracle="""
SELECT user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_ts,
       event_id AS last_event_id,
       event_type AS last_event_type
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
    doc="Streaming UPSERT sink — the incremental-materialized-view / CDC "
    "apply pattern: events spool as three time-ordered micro-batches "
    "(maxFilesPerTrigger=1), and a foreachBatch writer maintains a "
    "latest-row-per-user TABLE across batches by versioned-snapshot "
    "compaction: each epoch LWW-compacts its batch, merges it with the "
    "previous snapshot (row_number over (ts DESC, event_id DESC) — the "
    "latest_event_per_user_type tie-break), writes snapshot v{epoch} to a "
    "NEW directory and atomically repoints a marker file — the poor-man's "
    "table-format transaction log, which is exactly-once by construction "
    "(a retried epoch rewrites the same versioned dir with the same "
    "content; the pointer flip is a single rename). No "
    "read-while-overwrite hazard ever exists because a snapshot is never "
    "mutated. At scale the same foreachBatch body becomes MERGE INTO on "
    "Delta/Iceberg (file-pruned, no full-state rewrite); the per-epoch "
    "cost model here — O(state)+O(batch) — is the compaction baseline "
    "that MERGE improves on. The oracle is the batch LWW over all "
    "events: the streamed, incrementally-maintained table must equal it "
    "exactly.",
)
def stream_upsert_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from spark_streaming_twitter_spark.catalog import table as _table
    from spark_streaming_twitter_spark.streaming.harness import (
        run_foreach_batch,
    )

    bt = _table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    m, x = bt.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    c1 = m + (x - m) // 3
    c2 = m + (2 * (x - m)) // 3

    with tempfile.TemporaryDirectory(
        prefix="upsert_", ignore_cleanup_errors=True
    ) as base:
        stream_dir = os.path.join(base, "spool")
        target = os.path.join(base, "table")
        os.makedirs(target)
        e = F.unix_timestamp("ts")
        preds = [e < c1, (e >= c1) & (e < c2), e >= c2]
        for i, pred in enumerate(preds):
            stage = os.path.join(stream_dir, f"_stage_{i}")
            bt.where(pred).coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            dst = os.path.join(stream_dir, f"batch_{i}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            shutil.rmtree(stage)
            os.utime(dst, (1_000_000_000 + i * 3600,) * 2)

        schema = spark.read.parquet(
            os.path.join(stream_dir, "batch_0.parquet")
        ).schema
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stream_dir)
        )
        if dict(raw.dtypes)["ts"] == "timestamp_ntz":
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))

        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )

        def lww(df: DataFrame) -> DataFrame:
            return (
                df.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn")
            )

        pointer = os.path.join(target, "_current")

        def upsert(bdf: DataFrame, epoch_id: int) -> None:
            batch_state = lww(bdf)
            if os.path.exists(pointer):
                with open(pointer) as fh:
                    prev = spark.read.parquet(
                        os.path.join(target, fh.read().strip())
                    )
                merged = lww(prev.unionByName(batch_state))
            else:
                merged = batch_state
            vdir = f"v{epoch_id}"
            merged.write.mode("overwrite").parquet(
                os.path.join(target, vdir)
            )
            tmp = pointer + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(vdir)
            os.replace(tmp, pointer)  # atomic snapshot flip

        run_foreach_batch(raw, upsert, output_mode="append")

        with open(pointer) as fh:
            final = spark.read.parquet(
                os.path.join(target, fh.read().strip())
            )
        rows = final.select(
            "user_id",
            F.unix_timestamp("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
        ).collect()
    return spark.createDataFrame(
        rows,
        "user_id bigint, last_ts bigint, last_event_id bigint, "
        "last_event_type string",
    )


@query(
    "stream_incremental_availablenow_runs",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY 1",
    doc="Exactly-once INCREMENTAL ingest across two separately-started "
    "runs — the scheduled-job contract a 100 TB lake pipeline relies on: "
    "run A starts with Trigger.AvailableNow over two spool files, drains "
    "them through a parquet sink and terminates itself; two MORE files "
    "then appear; run B starts with the SAME checkpoint and sink and "
    "processes ONLY the new files (the checkpoint's file log is the "
    "source's committed offset). The oracle compares the final sink "
    "table's per-type counts against the batch answer over ALL events — "
    "a check that fails on BOTH failure modes: reprocessing (counts "
    "high) and missed files (counts low). maxFilesPerTrigger=1 keeps "
    "each run multi-micro-batch so the bounded-work-per-trigger claim "
    "is exercised, not just the two-run split.",
)
def stream_incremental_availablenow_runs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import tempfile

    from spark_streaming_twitter_spark.catalog import table as _table

    bt = _table(spark, sf_dir, "events").select("ts", "event_type")
    m, x = bt.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    cuts = [m + (k * (x - m)) // 4 for k in range(1, 4)]

    with tempfile.TemporaryDirectory(
        prefix="avnow_", ignore_cleanup_errors=True
    ) as base:
        spool = os.path.join(base, "spool")
        ckpt = os.path.join(base, "_ckpt")
        sink = os.path.join(base, "data")
        e = F.unix_timestamp("ts")
        preds = [
            e < cuts[0],
            (e >= cuts[0]) & (e < cuts[1]),
            (e >= cuts[1]) & (e < cuts[2]),
            e >= cuts[2],
        ]
        staged = []
        for i, pred in enumerate(preds):
            stage = os.path.join(spool, f"_stage_{i}")
            bt.where(pred).coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            staged.append((os.path.join(stage, part), f"batch_{i}.parquet"))

        schema = spark.read.parquet(staged[0][0]).schema

        def expose(k: int) -> None:
            src, name = staged[k]
            dst = os.path.join(spool, name)
            shutil.copy(src, dst)
            os.utime(dst, (1_000_000_000 + k * 3600,) * 2)

        def run_once() -> None:
            raw = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", "batch_*.parquet")
                .parquet(spool)
            )
            run_stream(
                raw.select("event_type"),
                sink,
                mode="append",
                trigger="availableNow",
                checkpoint=ckpt,
            )

        expose(0)
        expose(1)
        run_once()  # run A: drains files 0-1, terminates itself
        expose(2)
        expose(3)
        run_once()  # run B: same checkpoint — picks up ONLY files 2-3

        rows = (
            spark.read.parquet(sink)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    return spark.createDataFrame(rows, "event_type string, n bigint")


@query(
    "stream_events_pit_enrichment",
    oracle="""
WITH lww AS (
  SELECT user_id, event_id, value, ts_s
  FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, ts_s
                                 ORDER BY event_id DESC) AS rn
    FROM (SELECT user_id, event_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
          FROM events WHERE event_type = 'purchase')
  ) WHERE rn = 1
),
intervals AS (
  SELECT user_id, value, ts_s AS valid_from,
         coalesce(lead(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s),
                  CAST(9999999999 AS BIGINT)) AS valid_to
  FROM lww
),
clicks AS (
  SELECT user_id, event_id AS click_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.click_id, c.click_ts,
       i.value AS purchase_value_at_click,
       i.valid_from AS value_since
FROM clicks c
JOIN intervals i
  ON c.user_id = i.user_id
 AND c.click_ts >= i.valid_from AND c.click_ts < i.valid_to
""",
    doc="The feature-store serving path as a STREAM: clicks arrive as an "
    "unbounded stream and enrich against the SCD2 purchase-value history "
    "(user_value_intervals_scd2) via a stream-static equi+range join — "
    "the point-in-time lookup every online feature pipeline runs. "
    "Stream-static inner joins are STATELESS (no watermark, no join "
    "state): each micro-batch re-plans the static side, which is exactly "
    "the dimension-refresh semantics a slowly-changing feature table "
    "wants (a rebuilt snapshot is picked up at the next trigger). The "
    "oracle is the batch events_pit_enrichment answer — streamed "
    "enrichment must equal the batch join row-for-row. Scale: the "
    "equi-key user_id carries the shuffle; at 100 TB the static side is "
    "a bucketed/broadcast dimension and per-trigger cost is "
    "O(batch x matching intervals).",
)
def stream_events_pit_enrichment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_streaming_twitter_spark.operators.analytics import (
        user_value_intervals_scd2,
    )

    intervals = user_value_intervals_scd2(spark, sf_dir).select(
        F.col("user_id").alias("i_user_id"),
        "value",
        "valid_from",
        "valid_to",
    )
    clicks = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.unix_timestamp("ts").alias("click_ts"),
        )
    )
    joined = clicks.join(
        intervals,
        (clicks.user_id == intervals.i_user_id)
        & (F.col("click_ts") >= F.col("valid_from"))
        & (F.col("click_ts") < F.col("valid_to")),
    ).select(
        "user_id",
        "click_id",
        "click_ts",
        F.col("value").alias("purchase_value_at_click"),
        F.col("valid_from").alias("value_since"),
    )
    return run_to_memory(joined, output_mode="append")


@query(
    "stream_topk_event_types_sketch",
    oracle="""
SELECT CAST(row_number() OVER (ORDER BY n DESC, event_type ASC) AS INT)
         AS rank,
       event_type, n
FROM (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
""",
    doc="The mergeable frequent-items sketch IN STREAMING STATE: a "
    "complete-mode global aggregate whose buffer is an "
    "approx_top_k_accumulate state — each micro-batch's partial sketches "
    "merge into the store exactly like partial counts would, proving the "
    "DataSketches aggregate composes with Structured Streaming's "
    "partial/merge contract (the always-on leaderboard a dashboard "
    "reads, the streaming twin of sketch_topk_event_types_merge). The "
    "estimate is read from the FINAL streaming state; fixture item "
    "cardinality sits under the sketch's tracked capacity, so counts "
    "compare exactly against the batch oracle with the repo's "
    "deterministic re-rank.",
)
def stream_topk_event_types_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy().agg(
        F.expr("approx_top_k_accumulate(event_type, 100)").alias("state")
    )
    mat = run_to_memory(agg, output_mode="complete")
    items = mat.select(
        F.explode(F.expr("approx_top_k_estimate(state, 5)")).alias("e")
    ).select(
        F.col("e.item").alias("event_type"), F.col("e.count").alias("n")
    )
    w = Window.orderBy(F.col("n").desc(), F.col("event_type").asc())
    return items.select(
        F.row_number().over(w).cast("int").alias("rank"), "event_type", "n"
    )


@query(
    "stream_funnel_match_stateful",
    oracle="""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type
  FROM events WHERE event_type IN ('signup', 'purchase')
),
seq AS (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM ev
),
ctx AS (
  SELECT user_id, ts, event_type,
         max(CASE WHEN event_type = 'signup' THEN rn END) OVER wprev AS sig_rn,
         max(CASE WHEN event_type = 'purchase' THEN rn END) OVER wprev
           AS pur_rn,
         max(CASE WHEN event_type = 'signup' THEN ts END) OVER wprev AS sig_ts
  FROM seq
  WINDOW wprev AS (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id,
       CAST(floor(epoch(sig_ts)) AS BIGINT) AS signup_epoch,
       CAST(floor(epoch(ts)) AS BIGINT) AS purchase_epoch,
       CAST(floor(epoch(ts)) - floor(epoch(sig_ts)) AS BIGINT) AS latency_s
FROM ctx
WHERE event_type = 'purchase'
  AND sig_rn IS NOT NULL
  AND sig_rn > coalesce(pur_rn, 0)
  AND epoch_us(ts) - epoch_us(sig_ts) <= 3600000000
""",
    doc="Streaming CEP sequence matching — the FOLLOWED-BY(within 1h) "
    "pattern with CONSUMING semantics that no interval join expresses "
    "(stream_stream_join_conversions emits EVERY pair in range; a "
    "pattern match consumes its signup, so a second purchase after a "
    "match must NOT re-match the same signup, and a newer signup "
    "replaces a pending one). Per-user state machine in "
    "applyInPandasWithState: pending-signup timestamp as the whole "
    "state, matches emitted immediately (update mode), and an "
    "EventTimeTimeout timer at pending+1h EVICTS expired pending state "
    "with no emission — per-key state is one long and provably drains, "
    "the property that keeps 100 TB of users from accumulating a "
    "pattern buffer forever. The oracle is the closed form of the same "
    "machine: purchase P matches the latest preceding signup S iff no "
    "purchase intervenes and P-S <= 1h (each case of the state loop "
    "maps onto exactly that predicate), replayed in SQL as two "
    "preceding-frame window maxes over the (ts, event_id)-ordered "
    "per-user sequence — the same deterministic order the kernel sorts "
    "each batch by.",
    bench=True,
)
def stream_funnel_match_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    LIMIT_US = 3600 * 1_000_000

    ev = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type").isin("signup", "purchase"))
        .select("user_id", "ts", "event_id", "event_type")
        .withWatermark("ts", WATERMARK)
    )

    def match(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            # pending signup outlived the 1h pattern window: evict, no match
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [],
                    "signup_epoch": [],
                    "purchase_epoch": [],
                    "latency_s": [],
                }
            )
            return
        rows: list[tuple[int, int, str]] = []
        for pdf in pdf_iter:
            ts_us = (pd.to_datetime(pdf["ts"]).astype("int64") // 1000).tolist()
            rows.extend(zip(ts_us, pdf["event_id"].tolist(),
                            pdf["event_type"].tolist()))
        rows.sort(key=lambda r: (r[0], r[1]))
        pending = state.get[0] if state.exists else None
        out_s, out_p = [], []
        for t_us, _eid, etype in rows:
            if etype == "signup":
                pending = t_us
            else:  # purchase
                if pending is not None and t_us - pending <= LIMIT_US:
                    out_s.append(pending)
                    out_p.append(t_us)
                pending = None
        if pending is not None:
            state.update((pending,))
            state.setTimeoutTimestamp(pending // 1000 + 3600 * 1000)
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_s),
                "signup_epoch": [s // 1_000_000 for s in out_s],
                "purchase_epoch": [p // 1_000_000 for p in out_p],
                "latency_s": [
                    p // 1_000_000 - s // 1_000_000
                    for s, p in zip(out_s, out_p)
                ],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        match,
        outputStructType=(
            "user_id long, signup_epoch long, purchase_epoch long, "
            "latency_s long"
        ),
        stateStructType="pending_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(out, output_mode="update")


@query(
    "stream_stream_full_join_conversions",
    oracle="""
WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
wm AS (
  SELECT least((SELECT max(ts) FROM s), (SELECT max(ts) FROM p))
         - INTERVAL 300 SECOND AS w
),
matched AS (
  SELECT s.user_id, s.ts AS s_ts, p.ts AS p_ts
  FROM s JOIN p ON s.user_id = p.user_id
              AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
),
unmatched_s AS (
  SELECT s.user_id, s.ts AS s_ts, CAST(NULL AS TIMESTAMP) AS p_ts
  FROM s
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = s.user_id
            AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR)
    AND s.ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
),
unmatched_p AS (
  SELECT p.user_id, CAST(NULL AS TIMESTAMP) AS s_ts, p.ts AS p_ts
  FROM p
  WHERE NOT EXISTS (
          SELECT 1 FROM s
          WHERE s.user_id = p.user_id
            AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR)
    AND p.ts < (SELECT w FROM wm)
)
SELECT user_id,
       CAST(floor(epoch(s_ts)) AS BIGINT) AS signup_epoch,
       CAST(floor(epoch(p_ts)) AS BIGINT) AS purchase_epoch
FROM (SELECT * FROM matched
      UNION ALL SELECT * FROM unmatched_s
      UNION ALL SELECT * FROM unmatched_p)
""",
    doc="Stream-stream FULL OUTER interval join — both null-padded sides, "
    "each on its own eviction clock: matches append immediately; an "
    "unmatched signup emits when the watermark closes its forward-looking "
    "1-hour band (wm > s_ts + 1h, strict — same rule the left-outer "
    "variant pins); an unmatched purchase emits when the watermark passes "
    "its own event time (wm > p_ts, strict) because a matching signup's "
    "latest possible event time IS p_ts (the band looks backward from "
    "the purchase: s_ts in [p_ts - 1h, p_ts]) — the asymmetry of the two "
    "null-side deadlines is the interval-join state-eviction math made "
    "visible, and the oracle encodes both clocks against the final "
    "global watermark (min of the two sides' max ts, minus the delay). "
    "State on each side stays bounded by interval + delay.",
)
def stream_stream_full_join_conversions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    signups = (
        ev.where(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("s_user_id"), F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", WATERMARK)
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", WATERMARK)
    )
    joined = signups.join(
        purchases,
        (F.col("s_user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    )
    out = run_to_memory(joined, output_mode="append")
    return out.select(
        F.coalesce("s_user_id", "p_user_id").alias("user_id"),
        F.unix_timestamp("s_ts").alias("signup_epoch"),
        F.unix_timestamp("p_ts").alias("purchase_epoch"),
    )


@query(
    "stream_user_hourly_quota",
    oracle="""
WITH numbered AS (
  SELECT user_id, date_trunc('hour', ts) AS h, event_id, ts,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS quota_slot
  FROM events
)
SELECT user_id,
       CAST(floor(epoch(h)) AS BIGINT) AS hour_epoch,
       event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       CAST(quota_slot AS BIGINT) AS quota_slot
FROM numbered WHERE quota_slot <= 3
""",
    doc="Streaming per-key RATE LIMITER: admit the first 3 events per "
    "(user, hour), drop the rest — the admission-control / quota "
    "primitive (API throttling, per-source ingest caps in a crawl "
    "pipeline) that needs ORDERED stateful counting, not aggregation. "
    "Keyed by (user_id, hour) in applyInPandasWithState so state is ONE "
    "counter per active key; admitted events emit immediately with "
    "their quota slot (update mode); an EventTimeTimeout timer at "
    "hour-end + 1h evicts closed hours, so live state is bounded by "
    "keys-per-watermark-horizon regardless of history length — the "
    "property that makes the limiter viable on an unbounded stream. "
    "Batches process in (ts, event_id) order, the same deterministic "
    "order the oracle's row_number replays.",
)
def stream_user_hourly_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    QUOTA = 3

    ev = (
        stream_events(spark, sf_dir)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.date_trunc("hour", F.col("ts")).alias("h"),
        )
        .withWatermark("ts", WATERMARK)
    )

    def admit(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [],
                    "hour_epoch": [],
                    "event_id": [],
                    "ts_epoch": [],
                    "quota_slot": [],
                }
            )
            return
        rows: list[tuple[int, int]] = []
        for pdf in pdf_iter:
            ts_us = (pd.to_datetime(pdf["ts"]).astype("int64") // 1000).tolist()
            rows.extend(zip(ts_us, pdf["event_id"].tolist()))
        rows.sort()
        n = state.get[0] if state.exists else 0
        out_eid, out_ts, out_slot = [], [], []
        for t_us, eid in rows:
            if n < QUOTA:
                n += 1
                out_eid.append(eid)
                out_ts.append(t_us // 1_000_000)
                out_slot.append(n)
        state.update((n,))
        hour_us = key[1].value // 1000 if hasattr(key[1], "value") else 0
        # GC the counter 1h after the hour closes (well past the watermark)
        state.setTimeoutTimestamp(hour_us // 1000 + 2 * 3600 * 1000)
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_eid),
                "hour_epoch": [hour_us // 1_000_000] * len(out_eid),
                "event_id": out_eid,
                "ts_epoch": out_ts,
                "quota_slot": out_slot,
            }
        )

    out = ev.groupBy("user_id", "h").applyInPandasWithState(
        admit,
        outputStructType=(
            "user_id long, hour_epoch long, event_id long, ts_epoch long, "
            "quota_slot long"
        ),
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return run_to_memory(out, output_mode="update")


@query(
    "stream_unknown_user_events",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) AS bucket_ts,
       count(*) AS n_unknown
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = e.user_id AND c.c_acctbal >= 0)
GROUP BY 1
""",
    doc="Streaming referential-integrity audit: LEFT ANTI stream-static "
    "join — events whose user_id has no customer record IN GOOD "
    "STANDING (c_acctbal >= 0; the dim filter keeps the audit "
    "non-vacuous on the fixture, where raw key coverage is total), "
    "counted hourly. The anti join plans the static dim as a broadcast rebuilt "
    "per micro-batch (same mechanics as stream_static_segment_counts "
    "but inverted: the stream keeps rows the dim CANNOT match), so the "
    "stream never shuffles for the membership test and there is no join "
    "state at all — the orphan count is the only stateful operator. "
    "This is the continuously-running data-quality gate (dangling keys "
    "at ingest) every CDC/enrichment pipeline needs beside its enrich "
    "path.",
)
def stream_unknown_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.catalog import table

    ev = stream_events(spark, sf_dir)
    dim = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") >= 0)
        .select(F.col("c_custkey").alias("user_id"))
    )
    orphans = ev.join(F.broadcast(dim), "user_id", "left_anti")
    agg = (
        orphans.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_unknown"))
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        F.unix_timestamp("w.start").alias("bucket_ts"), "n_unknown"
    )


@query(
    "stream_union_two_sources",
    oracle="""
WITH m AS (
  SELECT least(
    (SELECT max(ts) - INTERVAL 300 SECOND FROM events
      WHERE event_type IN ('click', 'view')),
    (SELECT max(ts) - INTERVAL 600 SECOND FROM events
      WHERE event_type NOT IN ('click', 'view'))) AS wm
),
counts AS (
  SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
              ELSE 'transaction' END AS topic,
         date_trunc('minute', ts) AS b,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT topic, CAST(epoch(b) AS BIGINT) AS bucket_ts, n
FROM counts, m
WHERE b + INTERVAL 1 MINUTE <= m.wm
""",
    doc="Multi-source streaming UNION under the MIN-watermark rule: two "
    "readers (standing in for two Kafka topics — engagement vs "
    "transaction events) carry DIFFERENT watermark delays (300 s and "
    "600 s); Structured Streaming advances a unioned query's event-time "
    "watermark as the MINIMUM across inputs "
    "(spark.sql.streaming.multipleWatermarkPolicy=min, the default), so "
    "append-mode windows close only when the LAGGIEST source allows — "
    "the oracle pins exactly that: every window, from either branch, "
    "emits iff window_end <= min(max_engagement_ts - 300 s, "
    "max_transaction_ts - 600 s) — each branch's watermark derives from "
    "its OWN max event time, and the laggier result governs both. This is the semantics that keeps "
    "a multi-topic pipeline correct when one topic lags; per-branch "
    "state is the usual windowed-count state, nothing extra.",
)
def stream_union_two_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    engagement = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type").isin("click", "view"))
        .select(F.lit("engagement").alias("topic"), "ts")
        .withWatermark("ts", "300 seconds")
    )
    transaction = (
        stream_events(spark, sf_dir)
        .where(~F.col("event_type").isin("click", "view"))
        .select(F.lit("transaction").alias("topic"), "ts")
        .withWatermark("ts", "600 seconds")
    )
    unioned = engagement.unionByName(transaction)
    agg = unioned.groupBy(
        "topic", F.window("ts", "1 minute").alias("w")
    ).agg(F.count(F.lit(1)).alias("n"))
    out = run_to_memory(agg, output_mode="append")
    return out.select(
        "topic", F.unix_timestamp("w.start").alias("bucket_ts"), "n"
    )


def fanout_write_batch(raw_dir: str, agg_dir: str):
    """foreachBatch body for the dual-sink fan-out, exposed for the retry
    test. IDEMPOTENT per epoch on BOTH sinks: each write stamps the epoch
    and dynamic-partition-overwrites only its own epoch partition, so a
    replayed epoch (crash between the two writes, checkpoint re-delivery)
    rewrites identical content instead of appending duplicates — the same
    exactly-once-by-construction argument as the upsert sink's versioned
    snapshots, applied to plain partitioned parquet."""

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.persist()
        try:
            (
                df.withColumn("epoch", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch", "event_type")
                .parquet(raw_dir)
            )
            (
                df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("event_id").alias("id_checksum"),
                )
                .withColumn("epoch", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(agg_dir)
            )
        finally:
            df.unpersist()

    return write_batch


@query(
    "stream_dual_sink_fanout",
    oracle="""
WITH per_type AS (
  SELECT event_type, count(*) AS n_rows, sum(event_id) AS id_checksum
  FROM events GROUP BY 1
)
SELECT s.sink, p.event_type, CAST(p.n_rows AS BIGINT) AS n_rows,
       CAST(p.id_checksum AS BIGINT) AS id_checksum
FROM per_type p, (VALUES ('raw'), ('agg')) s(sink)
""",
    doc="foreachBatch DUAL-SINK fan-out — the write-once-serve-twice "
    "pattern (raw events to a partitioned lake table AND per-epoch "
    "aggregates to a serving table, from ONE stream): the batch "
    "DataFrame is persist()ed so the two writes share a single "
    "computation of the micro-batch instead of re-reading the source "
    "per sink — THE reason foreachBatch exists over two independent "
    "queries, which would double source reads and can diverge on "
    "retries. Four real micro-batches (maxFilesPerTrigger=1 over a "
    "4-file spool); both sinks stamp the epoch and dynamic-partition-"
    "overwrite ONLY their own epoch partition (fanout_write_batch), so a "
    "replayed epoch rewrites identical content instead of appending "
    "duplicates — exactly-once by construction, pinned by "
    "test_fanout_epoch_replay_is_idempotent. The raw sink additionally "
    "partitions by event_type (partition pruning for downstream "
    "readers); the agg sink's epoch partials roll up exactly. Both sinks "
    "are read back and summarized; the oracle demands they agree with "
    "the batch answer AND each other (same per-type counts and "
    "id-checksums through two different write paths).",
)
def stream_dual_sink_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from spark_streaming_twitter_spark.catalog import spool_fixture
    from spark_streaming_twitter_spark.catalog import table as _table
    from spark_streaming_twitter_spark.streaming.harness import (
        run_foreach_batch,
    )

    def write_spool(base) -> None:
        _table(spark, sf_dir, "events").select(
            "ts", "event_id", "event_type"
        ).repartition(4).write.mode("overwrite").parquet(str(base / "events"))

    spool = str(
        spool_fixture("events_fanout", sf_dir, "v1", write_spool) / "events"
    )
    ev = (
        spark.readStream.schema("ts timestamp, event_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(spool)
    )
    with tempfile.TemporaryDirectory(
        prefix="fanout_", ignore_cleanup_errors=True
    ) as base:
        raw_dir = os.path.join(base, "raw")
        agg_dir = os.path.join(base, "agg")
        write_batch = fanout_write_batch(raw_dir, agg_dir)
        run_foreach_batch(ev, write_batch, output_mode="append")
        raw_rows = (
            spark.read.parquet(raw_dir)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("event_id").cast("bigint").alias("id_checksum"),
            )
            .collect()
        )
        agg_rows = (
            spark.read.parquet(agg_dir)
            .groupBy("event_type")
            .agg(
                F.sum("n_rows").cast("bigint").alias("n_rows"),
                F.sum("id_checksum").cast("bigint").alias("id_checksum"),
            )
            .collect()
        )
    data = [
        ("raw", r["event_type"], r["n_rows"], r["id_checksum"])
        for r in raw_rows
    ] + [
        ("agg", r["event_type"], r["n_rows"], r["id_checksum"])
        for r in agg_rows
    ]
    return spark.createDataFrame(
        data, "sink string, event_type string, n_rows long, id_checksum long"
    )


@query(
    "stream_type_drift_hourly",
    oracle="""
WITH per_ht AS (
  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n_ht
  FROM events GROUP BY 1, 2
),
per_h AS (SELECT h, sum(n_ht) AS n_h FROM per_ht GROUP BY 1),
per_type AS (SELECT event_type, sum(n_ht) AS n_t FROM per_ht GROUP BY 1),
tot AS (SELECT sum(n_t) AS n FROM per_type),
grid AS (
  SELECT d.h, d.n_h, t.event_type, t.n_t, coalesce(o.n_ht, 0) AS n_ht
  FROM per_h d CROSS JOIN per_type t
  LEFT JOIN per_ht o ON o.h = d.h AND o.event_type = t.event_type
)
SELECT CAST(epoch(h) AS BIGINT) AS bucket_ts,
       CAST(any_value(n_h) AS BIGINT) AS n_events,
       CAST(sum(abs(n_ht * 1000000 // n_h
                    - n_t * 1000000 // (SELECT n FROM tot))) AS BIGINT)
         AS l1_drift_scaled
FROM grid GROUP BY 1
""",
    doc="STREAMING drift monitor — event_type_drift_daily's continuous "
    "twin: the stream maintains hourly (window x type) counts as "
    "ordinary windowed-aggregation state; the reference distribution "
    "is computed from the static batch table and broadcast-joined onto "
    "the streamed aggregate AFTER the stateful stage (a #types-row "
    "dim — the lambda-architecture serving join, same split as "
    "stream_trending_event_type). Missing types contribute their full "
    "global share via the same grid construction as the batch twin, "
    "and the L1 score is the same exact scaled-BIGINT arithmetic — so "
    "batch backfill and streaming monitor can never disagree on what "
    "'drifted' means. State is #types x #open-windows rows; the drift "
    "arithmetic runs on the tiny post-state aggregate every trigger.",
)
def stream_type_drift_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.catalog import table as _table

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_ht"))
    )
    per_ht = run_to_memory(agg, output_mode="complete").select(
        F.unix_timestamp("w.start").alias("bucket_ts"), "event_type", "n_ht"
    )
    bt = _table(spark, sf_dir, "events").select("event_type")
    per_type = bt.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    tot = per_type.agg(F.sum("n_t").alias("n"))
    per_h = per_ht.groupBy("bucket_ts").agg(F.sum("n_ht").alias("n_h"))
    grid = (
        per_h.crossJoin(F.broadcast(per_type))
        .crossJoin(F.broadcast(tot))
        .join(per_ht, ["bucket_ts", "event_type"], "left")
        .withColumn("n_ht", F.coalesce(F.col("n_ht"), F.lit(0)))
    )
    return grid.groupBy("bucket_ts").agg(
        F.any_value("n_h").cast("bigint").alias("n_events"),
        F.sum(
            F.abs(F.expr("n_ht * 1000000 DIV n_h - n_t * 1000000 DIV n"))
        )
        .cast("bigint")
        .alias("l1_drift_scaled"),
    )


@query(
    "stream_stream_semi_converted_signups",
    oracle="""
SELECT s.user_id, CAST(floor(epoch(s.ts)) AS BIGINT) AS signup_epoch
FROM events s
WHERE s.event_type = 'signup'
  AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = s.user_id
          AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR)
""",
    doc="Stream-stream LEFT SEMI interval join — the EXISTS of the join "
    "family in streaming form: a signup emits ONCE when its first "
    "in-band purchase arrives, never multiplies per match (the inner "
    "join emits every pair; semi is the dedup-at-the-join answer to "
    "conversion FLAGGING as opposed to conversion ENUMERATION), and "
    "unmatched signups never emit at all — so unlike the outer "
    "variants there is no watermark-deadline emission to encode and "
    "the oracle is the plain EXISTS. State remains bounded by "
    "interval + delay on both sides exactly as the inner join.",
)
def stream_stream_semi_converted_signups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    signups = (
        ev.where(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("s_ts"))
        .withWatermark("s_ts", WATERMARK)
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", WATERMARK)
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    out = run_to_memory(joined, output_mode="append")
    return out.select(
        "user_id", F.unix_timestamp("s_ts").alias("signup_epoch")
    )


@query(
    "stream_progress_metrics",
    oracle="""
SELECT CAST(4 AS BIGINT) AS n_data_triggers,
       count(*) AS total_input_rows,
       count(*) AS total_processed_rows
FROM events
""",
    doc="Streaming observability — the StreamingQueryProgress surface "
    "(the streaming twin of observed_orders_metrics' batch observe()): "
    "the engine's own per-trigger accounting (numInputRows from "
    "lastProgress/recentProgress) is collected across a deterministic "
    "4-file / maxFilesPerTrigger=1 run and audited against the batch "
    "row count — the monitoring contract a production pipeline alarms "
    "on (input-rate drops, trigger starvation). Progress objects are "
    "driver-side JSON the engine already maintains; reading them costs "
    "nothing at any scale. Pinned: exactly 4 data-bearing triggers, "
    "and the engine's input accounting sums to the true row count.",
)
def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.catalog import spool_fixture
    from spark_streaming_twitter_spark.catalog import table as _table

    def write_spool(base) -> None:
        _table(spark, sf_dir, "events").select(
            "ts", "event_id", "event_type"
        ).repartition(4).write.mode("overwrite").parquet(str(base / "events"))

    spool = str(
        spool_fixture("events_fanout", sf_dir, "v1", write_spool) / "events"
    )
    ev = (
        spark.readStream.schema(
            "ts timestamp, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(spool)
    )
    counts = ev.groupBy("event_type").count()
    _, progress = run_stream(counts, mode="complete")
    progress = [p for p in progress if p["numInputRows"] > 0]
    total_in = sum(p["numInputRows"] for p in progress)
    total_proc = sum(
        int(p["sources"][0]["numInputRows"]) for p in progress
    )
    return spark.createDataFrame(
        [(len(progress), total_in, total_proc)],
        "n_data_triggers long, total_input_rows long, "
        "total_processed_rows long",
    )


@query(
    "stream_exactly_once_sink_replay",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY 1",
    doc="Exactly-once sink proof UNDER RETRY (VERDICT r6 #5): the events "
    "spool streams through a foreachBatch sink whose epoch-1 FIRST "
    "attempt writes a partial half of the batch to the sink and then "
    "raises — the query dies with an uncommitted epoch and real partial "
    "output on disk, the worst-case sink state. A restart from the SAME "
    "checkpoint replays epoch 1 (the offset log never committed it) "
    "through parquet_epoch_overwrite_writer, whose per-epoch-directory "
    "overwrite REPLACES the partial attempt instead of appending beside "
    "it. The oracle compares final per-type counts to the batch answer "
    "over all events — high on surviving duplicates (append semantics), "
    "low on a skipped replay — and the query itself asserts the "
    "injection fired, so a green row certifies recovery actually "
    "happened, not a clean run. At 100 TB this is the idempotent-sink "
    "half of exactly-once; the checkpoint offset log is the other half "
    "(stream_incremental_availablenow_runs).",
)
def stream_exactly_once_sink_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import tempfile

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from spark_streaming_twitter_spark.catalog import spool_fixture, table
    from spark_streaming_twitter_spark.streaming.sinks import (
        parquet_epoch_overwrite_writer,
    )

    def write_spool(base) -> None:
        table(spark, sf_dir, "events").select("ts", "event_type").repartition(
            4
        ).write.mode("overwrite").parquet(str(base / "events"))

    spool = str(
        spool_fixture("events_an", sf_dir, "v1", write_spool) / "events"
    )
    schema = StructType(
        [StructField("ts", TimestampType()), StructField("event_type", StringType())]
    )
    with tempfile.TemporaryDirectory(
        prefix="eo_sink_", ignore_cleanup_errors=True
    ) as out:
        ckpt = os.path.join(out, "_ckpt")
        sink = os.path.join(out, "data")
        inner = parquet_epoch_overwrite_writer(sink)
        state = {"injected": 0}

        def flaky(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id == 1 and not state["injected"]:
                state["injected"] = 1
                half = max(1, batch_df.count() // 2)
                batch_df.limit(half).write.mode("overwrite").parquet(
                    f"{sink}/epoch={epoch_id}"
                )
                raise RuntimeError("injected sink failure after partial write")
            inner(batch_df, epoch_id)

        def run_once() -> None:
            raw = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(spool)
            )
            run_stream(
                raw.select("event_type"),
                flaky,
                mode="append",
                trigger="availableNow",
                checkpoint=ckpt,
            )

        try:
            run_once()
            raise AssertionError("injected epoch-1 failure did not surface")
        except Exception as exc:  # noqa: BLE001 — StreamingQueryException wrapper
            if "injected sink failure" not in str(exc):
                raise
        assert state["injected"] == 1
        run_once()  # restart from the same checkpoint: epoch 1 replays clean

        rows = (
            spark.read.option("basePath", sink)
            .parquet(sink)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    return spark.createDataFrame(rows, "event_type string, n bigint")


@query(
    "stream_watermark_policy_join_trace",
    oracle="""
WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
wms AS (
  SELECT 'min' AS policy,
         least((SELECT max(ts) FROM s) - INTERVAL 300 SECOND,
               (SELECT max(ts) FROM p) - INTERVAL 86400 SECOND) AS w
  UNION ALL
  SELECT 'max' AS policy,
         greatest((SELECT max(ts) FROM s) - INTERVAL 300 SECOND,
                  (SELECT max(ts) FROM p) - INTERVAL 86400 SECOND) AS w
),
matched AS (
  SELECT s.user_id, s.ts AS s_ts, p.ts AS p_ts
  FROM s JOIN p ON s.user_id = p.user_id
              AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR
),
un AS (
  SELECT s.user_id, s.ts AS s_ts
  FROM s
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = s.user_id
            AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR)
)
SELECT policy, user_id, signup_epoch, purchase_epoch FROM (
  SELECT w.policy AS policy, m.user_id AS user_id,
         CAST(floor(epoch(m.s_ts)) AS BIGINT) AS signup_epoch,
         CAST(floor(epoch(m.p_ts)) AS BIGINT) AS purchase_epoch
  FROM matched m CROSS JOIN wms w
  UNION ALL
  SELECT w.policy, u.user_id,
         CAST(floor(epoch(u.s_ts)) AS BIGINT),
         CAST(NULL AS BIGINT)
  FROM un u JOIN wms w ON u.s_ts + INTERVAL 1 HOUR < w.w
)
""",
    doc="Multiple-watermark POLICY made observable (VERDICT r6 #6): the "
    "same left-outer interval join (signup -> purchase within 1h) runs "
    "twice with asymmetric per-input delays (signups 300 s, purchases "
    "86400 s) — once under spark.sql.streaming.multipleWatermarkPolicy="
    "min (the safe default: global watermark = slowest input, fewer "
    "unmatched rows finalized) and once under max (fastest input: more "
    "null-padded signups emitted, at the cost of potentially dropping "
    "data arriving later than the fast clock). Matched pairs emit under "
    "BOTH policies; an unmatched signup emits iff its forward 1-hour "
    "band closes under that policy's combined watermark (wm > s_ts + 1h, "
    "strict), so the policy difference IS the extra band of null rows "
    "between the two watermarks — oracle-encoded exactly (least/greatest "
    "of the per-input final watermarks), the same trace technique as "
    "stream_update_emission_trace. The conf is scoped per run and "
    "restored.",
)
def stream_watermark_policy_join_trace(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    key = "spark.sql.streaming.multipleWatermarkPolicy"
    try:
        prev = spark.conf.get(key)
    except Exception:  # noqa: BLE001 — unset in a vanilla session
        prev = None
    outs = []
    try:
        for policy in ("min", "max"):
            spark.conf.set(key, policy)
            ev = stream_events(spark, sf_dir)
            signups = (
                ev.where(F.col("event_type") == "signup")
                .select(
                    F.col("user_id").alias("s_user_id"),
                    F.col("ts").alias("s_ts"),
                )
                .withWatermark("s_ts", "300 seconds")
            )
            purchases = (
                ev.where(F.col("event_type") == "purchase")
                .select(
                    F.col("user_id").alias("p_user_id"),
                    F.col("ts").alias("p_ts"),
                )
                .withWatermark("p_ts", "86400 seconds")
            )
            joined = signups.join(
                purchases,
                (F.col("s_user_id") == F.col("p_user_id"))
                & (F.col("p_ts") >= F.col("s_ts"))
                & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
                "leftOuter",
            )
            out = run_to_memory(joined, output_mode="append")
            outs.append(
                out.select(
                    F.lit(policy).alias("policy"),
                    F.col("s_user_id").alias("user_id"),
                    F.unix_timestamp("s_ts").alias("signup_epoch"),
                    F.unix_timestamp("p_ts").alias("purchase_epoch"),
                )
            )
    finally:
        # restore the UNSET state too — leaving an explicit conf behind
        # changes later queries' default-policy behavior in this session
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return outs[0].unionByName(outs[1])


_USER_SLIDING_ORACLE = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events
),
expanded AS (
  SELECT user_id,
         unnest(generate_series(e - (e % 300) - 3300, e - (e % 300), 300))
           AS ws
  FROM ev
),
g AS (SELECT ws, user_id, count(*) AS n FROM expanded GROUP BY 1, 2)
SELECT count(*) AS n_state_rows,
       CAST(sum(n) AS BIGINT) AS total_assignments,
       max(n) AS max_n
FROM g
"""

_USER_SLIDING_DOC = (
    "State-HEAVY sliding aggregation (the RocksDB-vs-heap bench pair, "
    "VERDICT r6 #7): 60 min window / 5 min slide keyed by (window x "
    "user_id), so every event updates 12 overlapping state rows and the "
    "live state is ~#users x #open-windows (~1.2M rows at sf0.1 — ~28x "
    "the state of the minutely bench entries; the backend difference is "
    "invisible on kilobyte state). The streaming side carries the full "
    "keyed state; the complete-mode table lands via foreachBatch as a "
    "DISTRIBUTED parquet overwrite (a memory sink would materialize it "
    "on the driver — measured to break maxResultSize at 10x) and the "
    "returned row is its compact summary, so the bench times state "
    "maintenance, not a megarow collect. Identical oracle on both "
    "backends = the swap is proven answer-neutral."
)


def _user_sliding_state(
    spark: SparkSession, sf_dir: str, rocksdb: bool
) -> DataFrame:
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:  # noqa: BLE001 — unset in a vanilla session
        prev = None
    if rocksdb:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        ev = stream_events(spark, sf_dir)
        agg = (
            ev.withWatermark("ts", WATERMARK)
            .groupBy(
                F.window("ts", "60 minutes", "5 minutes").alias("w"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        import os
        import tempfile

        from spark_streaming_twitter_spark.streaming.harness import (
            run_foreach_batch,
        )

        # NOT a memory sink: complete mode re-emits the FULL result table
        # each trigger, and at 10x this table is ~11.5M rows — a memory
        # sink materializes it on the DRIVER and dies on
        # spark.driver.maxResultSize (measured: 1025 MiB > 1g default).
        # The scalable shape is foreachBatch receiving the complete table
        # as a DISTRIBUTED DataFrame and overwriting a parquet target per
        # trigger — the state work being benchmarked is identical, the
        # sink is O(1) driver memory at any state size, and repeated
        # bench runs leave no on-heap tables behind (the round-7
        # memory-sink hygiene finding, now moot on this pair). The
        # state-table-sized parquet goes with the scope; `summary` is
        # collected inside it.
        with tempfile.TemporaryDirectory(
            prefix="sliding_state_", ignore_cleanup_errors=True
        ) as tmp_root:
            out_dir = os.path.join(tmp_root, "final")

            def _write(batch_df: DataFrame, epoch_id: int) -> None:
                batch_df.write.mode("overwrite").parquet(out_dir)

            run_foreach_batch(agg, _write, output_mode="complete")
            final = spark.read.parquet(out_dir)
            summary = final.agg(
                F.count(F.lit(1)).alias("n_state_rows"),
                F.sum("n").alias("total_assignments"),
                F.max("n").alias("max_n"),
            ).collect()
    finally:
        if rocksdb:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    return spark.createDataFrame(summary)


@query(
    "stream_user_sliding_state_heap",
    oracle=_USER_SLIDING_ORACLE,
    doc=_USER_SLIDING_DOC + " This is the in-heap HDFS-backed default.",
    bench=True,
)
def stream_user_sliding_state_heap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _user_sliding_state(spark, sf_dir, rocksdb=False)


@query(
    "stream_user_sliding_state_rocksdb",
    oracle=_USER_SLIDING_ORACLE,
    doc=_USER_SLIDING_DOC + " This is the RocksDB provider: state "
    "off-heap/on-disk with incremental snapshots — the 100 TB backend, "
    "where per-partition state is bounded by local SSD instead of "
    "executor heap. MEASURED crossover (tools/state_backend_probe.py, "
    "bench_artifacts/r8_state_backend_probe.json): at ~11.5M state rows "
    "the heap provider wins 20.7 vs 29.1 s on an 8g JVM but dies with "
    "java.lang.OutOfMemoryError on a 2g JVM where RocksDB completes in "
    "40.6 s — a cliff, not a curve; pick RocksDB for survival once "
    "state approaches executor heap.",
    bench=True,
)
def stream_user_sliding_state_rocksdb(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _user_sliding_state(spark, sf_dir, rocksdb=True)


@query(
    "stream_events_per_minute_rocksdb_changelog",
    oracle="""
SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS bucket_ts,
       count(*) AS n
FROM events GROUP BY 1
""",
    doc="RocksDB with CHANGELOG checkpointing — the incremental-"
    "checkpoint lever on top of the provider swap "
    "(stream_events_per_minute_rocksdb): with "
    "rocksdb.changelogCheckpointing.enabled, each commit uploads only "
    "the batch's state DELTA (a .changelog file) instead of snapshotting "
    "the full store, so per-trigger checkpoint cost is O(changed keys) "
    "rather than O(store size) — at 100 TB state this is the difference "
    "between seconds and minutes of commit latency (snapshots still "
    "happen, but in the background at minDeltasForSnapshot cadence). "
    "Identical oracle again = answer-neutral; the changelog files' "
    "existence in the checkpoint is pinned by "
    "tests/test_streaming.py::test_rocksdb_changelog_files_written.",
)
def stream_events_per_minute_rocksdb_changelog(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    with tempfile.TemporaryDirectory(
        prefix="rocksdb_changelog_", ignore_cleanup_errors=True
    ) as ckpt:
        # a memory sink's table lives in the driver, not the checkpoint
        return _rocksdb_changelog_run(spark, sf_dir, ckpt)


def _rocksdb_changelog_run(
    spark: SparkSession, sf_dir: str, ckpt: str
) -> DataFrame:
    """The changelog-checkpointing query's result, checkpointed at
    ``ckpt``."""
    confs = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    prev: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset in a vanilla session
            prev[k] = None
        spark.conf.set(k, v)
    try:
        ev = stream_events(spark, sf_dir)
        agg = (
            ev.withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out, _ = run_stream(agg, mode="complete", checkpoint=ckpt)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return out.select(F.unix_timestamp("w.start").alias("bucket_ts"), "n")


@query(
    "stream_session_windows_dynamic_gap",
    oracle="""
WITH e AS (
  SELECT user_id, ts,
         ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 600 SECOND
                   ELSE INTERVAL 300 SECOND END AS end_t
  FROM events
),
marks AS (
  SELECT user_id, ts, end_t,
         CASE WHEN max(end_t) OVER w IS NULL
                OR ts >= max(end_t) OVER w
              THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
grouped AS (
  SELECT user_id, ts, end_t,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marks
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(end_t))) AS BIGINT) AS session_end,
       count(*) AS n_events
FROM grouped GROUP BY user_id, session_id
""",
    doc="Session windows with a DYNAMIC per-event gap (Spark 3.2+ "
    "session_window(ts, gapExpr)): purchases hold a session open 10 "
    "minutes, everything else 5 — the engagement-weighted sessionization "
    "real funnels use, and an API the fixed-gap entry can't express. "
    "With variable gaps the lag-based islands rewrite is WRONG (a long "
    "gap can bridge over a short-gap event), so the oracle uses the "
    "general interval-merge form: running MAX of window ends over "
    "preceding events, new session iff ts >= that cummax (half-open "
    "windows, matching Spark's merge rule); session end = max event "
    "end, not last-event + constant. Same complete-mode streaming "
    "drive as stream_session_windows.",
)
def stream_session_windows_dynamic_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    # gapExpr must be CalendarIntervalType: INTERVAL literals parse as
    # DayTimeIntervalType, so route through make_interval / string gaps
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("10 minutes")
    ).otherwise(F.lit("5 minutes"))
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.unix_timestamp("w.start").alias("session_start"),
        F.unix_timestamp("w.end").alias("session_end"),
        "n_events",
    )


@query(
    "stream_rules_reload_enrichment",
    oracle="""
WITH scored AS (
  SELECT event_type, event_id,
         CASE WHEN event_id % 2 = 0 THEN length(event_type)
              ELSE length(event_type) + 10 END AS mult
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(event_id * mult) AS BIGINT) AS weighted_sum
FROM scored GROUP BY event_type
""",
    doc="DYNAMIC-CONFIG enrichment — the broadcast-rules-reload pattern: "
    "a long-running stream must pick up rule/dim changes without a "
    "restart, but a stream-static join freezes the static side's "
    "content at planning in ways operators can't control. The "
    "production answer is foreachBatch re-reading the rules table at "
    "EVERY micro-batch and broadcast-joining it (rules are dim-sized), "
    "so a rules publish takes effect at the next trigger boundary — "
    "never mid-batch, which keeps each epoch's output a pure function "
    "of (batch rows, rules version) and therefore idempotent under "
    "replay (epoch-stamped dynamic-partition overwrite, the "
    "fanout_write_batch argument). Proven with two AvailableNow runs "
    "over one checkpoint: run A scores the even-event_id spool file "
    "under rules v1 (mult = len(type)), the rules table is then "
    "REPUBLISHED as v2 (mult = len(type)+10), and run B scores only "
    "the odd-id file under v2 — the oracle encodes exactly that "
    "version-by-parity split, so a stale-rules read (v1 applied to "
    "batch B) or a frozen static join fails the hash. Scale: the "
    "per-trigger reload costs one dim-table read per trigger "
    "(seconds-cadence triggers amortize it; the read is pruned and "
    "broadcast), and the stream side never repartitions.",
)
def stream_rules_reload_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from spark_streaming_twitter_spark.catalog import table as _table

    bt = _table(spark, sf_dir, "events").select("event_id", "event_type")
    with tempfile.TemporaryDirectory(
        prefix="rules_reload_", ignore_cleanup_errors=True
    ) as base:
        spool = os.path.join(base, "spool")
        os.makedirs(spool)
        rules_dir = os.path.join(base, "rules")
        sink = os.path.join(base, "sink")
        ckpt = os.path.join(base, "_ckpt")
        staged = []
        for i, pred in enumerate(
            [F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1]
        ):
            stage = os.path.join(base, f"_stage_{i}")
            bt.where(pred).coalesce(1).write.parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            staged.append((os.path.join(stage, part), f"batch_{i}.parquet"))
        schema = spark.read.parquet(staged[0][0]).schema

        def publish_rules(offset: int) -> None:
            (
                bt.select("event_type")
                .distinct()
                .withColumn(
                    "mult",
                    (F.length("event_type") + F.lit(offset)).cast("long"),
                )
                .write.mode("overwrite")
                .parquet(rules_dir)
            )

        def score_batch(df: DataFrame, epoch_id: int) -> None:
            rules = spark.read.parquet(rules_dir)  # per-trigger reload
            (
                df.join(F.broadcast(rules), "event_type")
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.col("event_id") * F.col("mult")).alias(
                        "weighted_sum"
                    ),
                )
                .withColumn("epoch", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(sink)
            )

        def expose(k: int) -> None:
            src, name = staged[k]
            dst = os.path.join(spool, name)
            shutil.copy(src, dst)
            os.utime(dst, (1_000_000_000 + k * 3600,) * 2)

        def run_once() -> None:
            raw = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", "batch_*.parquet")
                .parquet(spool)
            )
            run_stream(
                raw,
                score_batch,
                mode="append",
                trigger="availableNow",
                checkpoint=ckpt,
            )

        publish_rules(0)
        expose(0)
        run_once()  # run A: even ids under rules v1
        publish_rules(10)
        expose(1)
        run_once()  # run B: same checkpoint, odd ids under rules v2
        rows = (
            spark.read.parquet(sink)
            .groupBy("event_type")
            .agg(
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.sum("weighted_sum").cast("bigint").alias("weighted_sum"),
            )
            .collect()  # materialize before the sink dir is removed
        )
        return spark.createDataFrame(
            rows, "event_type string, n_events long, weighted_sum long"
        )


@query(
    "stream_hourly_value_p95",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_ts,
       count(value) AS n_values,
       CAST(1 AS INT) AS p95_bracketed
FROM events GROUP BY 1
""",
    doc="Percentile sketches INSIDE streaming state — the latency-SLO "
    "monitor shape: hourly approx_percentile(value, 0.95) over the "
    "event stream, per-window quantile-sketch partials merging across "
    "micro-batches in the state store (fixed-size per window; exact "
    "windowed percentiles would buffer every value in state). Bounded-"
    "check oracle, same contract as approx_value_percentiles: the "
    "streamed estimate must land between the EXACT batch percentiles at "
    "0.95 +/- 0.02 (a 200x margin on the sketch's rank-error bound; "
    "windows under the min-N rule pass vacuously because the bracket is "
    "narrower than a rank gap there), and per-hour counts value-compare "
    "against DuckDB exactly.",
)
def stream_hourly_value_p95(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.catalog import table
    from spark_streaming_twitter_spark.operators.advanced import (
        _PCT_ACCURACY,
        _PCT_EPS,
        _PCT_MIN_N,
    )

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.approx_percentile("value", 0.95, _PCT_ACCURACY).alias(
                "approx_p95"
            )
        )
    )
    mat = run_to_memory(agg, output_mode="complete").select(
        F.unix_timestamp("w.start").alias("bucket_ts"), "approx_p95"
    )
    exact = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias(
                "bucket_ts"
            )
        )
        .agg(
            F.count("value").alias("n_values"),
            F.expr(
                f"percentile(value, array({0.95 - _PCT_EPS}, "
                f"{0.95 + _PCT_EPS}))"
            ).alias("brackets"),
        )
    )
    return mat.join(exact, "bucket_ts").select(
        "bucket_ts",
        "n_values",
        (
            (F.col("n_values") < _PCT_MIN_N)
            | (
                (F.col("brackets")[0] <= F.col("approx_p95"))
                & (F.col("approx_p95") <= F.col("brackets")[1])
            )
        )
        .cast("int")
        .alias("p95_bracketed"),
    )
