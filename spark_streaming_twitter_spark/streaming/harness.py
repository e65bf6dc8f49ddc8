"""Structured Streaming harness: file sources in, memory/foreachBatch out.

The reference's source is Kafka (TwitterDatasetTrendingHashtag.java:64-72);
swapping the source is a one-line change in Structured Streaming, so the
offline harness reads the same fixture parquet as an unbounded stream. The
sink side replaces the reference's per-record InfluxDB ForeachWriter
(TwitterDatasetTrendingHashtag.java:212-367) with ``foreachBatch`` /
``memory`` sinks — batch-at-a-time, executor-side, connection-per-partition.

``run_stream`` is the one place a query starts: it takes the query's sink
(memory, ``foreachBatch`` body or parquet path), output mode, trigger and
checkpoint, drives the query to its end under the shuffle-partition pin,
stops it, and returns the memory sink's table with the query's progress.
``run_to_memory`` and ``run_foreach_batch`` are its two common bindings.
The memory sink's table as a batch DataFrame is how the streaming queries
participate in the driver's DuckDB-oracle gate: final streaming state must
equal the batch/SQL answer over the same data.
"""

from __future__ import annotations

import threading
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The events fixture as an unbounded stream (file source).

    On a cluster this is ``readStream.format("kafka")`` + ``from_json``; the
    downstream plan is identical either way — that indirection is the point
    of Structured Streaming's source abstraction.

    Schema drift guard: the fixture has shipped ``ts`` both as parquet
    TIMESTAMP(NANOS) (which Spark reads back as ``bigint`` under
    ``spark.sql.legacy.parquet.nanosAsLong``) and as TIMESTAMP(MICROS)
    (a proper ``timestamp``). A file stream source needs a user-supplied
    schema, so probe the file's BATCH schema once and stream with exactly
    that, converting nanos→timestamp only when the batch read yields a
    long — the same dtype guard as ``catalog.table``, so the streaming and
    batch views of event time can never disagree.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    probe = spark.read.parquet(path)
    ts_is_legacy_nanos_long = dict(probe.dtypes)["ts"] == "bigint"
    reader = spark.readStream.schema(probe.schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # the file stream source wants a DIRECTORY: the driver fixture keeps
    # events.parquet as a single file (stream the parent dir with a glob
    # filter), while rewritten copies (tools/scale_probe.py) are parquet
    # directories (stream the directory itself)
    if os.path.isdir(path):
        raw = reader.load(path)
    else:
        raw = reader.option("pathGlobFilter", "events.parquet").load(sf_dir)
    if ts_is_legacy_nanos_long:
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif dict(raw.dtypes)["ts"] == "timestamp_ntz":
        # timestamp[us] with no timezone reads as TIMESTAMP_NTZ, which
        # withWatermark rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The
        # session timezone is pinned to UTC (session.py), so this cast is
        # wall-clock-preserving and batch/stream values stay comparable.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _spool_bucketed(
    df: DataFrame,
    bucket: "F.Column",
    spool_dir: str,
    n_batches: int,
    synth=None,
    synth_bucket: "F.Column | None" = None,
) -> None:
    """Write ``df`` as ``n_batches`` files (batch_0.parquet ...) under
    ``spool_dir`` with strictly increasing mtimes, bucketed by the
    int-valued ``bucket`` expression (values in [0, n_batches)). One scan
    + one tiny shuffle for ALL the files (a per-bucket where().write()
    loop re-scans the source n_batches times — measured 3.4 s vs 0.8 s
    at sf0.1): bucket label -> partitionBy dirs, then rename each dir's
    single file into the flat batch_i.parquet layout. A bucket with no
    rows gets an EMPTY parquet placeholder (schema-only), so sparse id
    spaces replay as zero-row micro-batches instead of crashing on a
    missing _b=i dir.

    ``synth`` (r16, guide §8: decide with small rows, move big rows
    once): an optional payload builder applied AFTER the bucket shuffle
    — the exchange then carries only ids (8 bytes/row), never the
    synthesized payload bytes, and the builder runs exactly once, in the
    write pass, already co-located with its output file. The builder is
    a narrow map (mapInPandas), so the one-file-per-bucket invariant
    survives; ``synth_bucket`` restamps ``_b`` from the builder's output
    id (the payload builders are identity-mapped on id), bitwise the
    same label the pre-shuffle expression assigned."""
    import os
    import shutil

    stage = os.path.join(spool_dir, "_stage")
    staged_df = df.withColumn("_b", bucket).repartition("_b")
    if synth is not None:
        staged_df = synth(staged_df).withColumn("_b", synth_bucket)
        # the empty placeholder below must carry the SPOOL file schema
        # (the builder's output, without the bucket label)
        df = staged_df.drop("_b")
    staged_df.write.partitionBy("_b").parquet(stage)
    empty_src: str | None = None
    for i in range(n_batches):
        bdir = os.path.join(stage, f"_b={i}")
        parts = [
            f
            for f in (os.listdir(bdir) if os.path.isdir(bdir) else ())
            if f.endswith(".parquet")
        ]
        # repartition("_b") guarantees one file per bucket; if that
        # invariant ever breaks (a committed second file would silently
        # drop rows from the spool), fail loudly instead of truncating
        if len(parts) > 1:
            raise AssertionError(
                f"spool bucket _b={i} has {len(parts)} parquet files; "
                "expected exactly 1 (repartition by bucket broken?)"
            )
        dst = os.path.join(spool_dir, f"batch_{i}.parquet")
        if parts:
            shutil.move(os.path.join(bdir, parts[0]), dst)
        else:
            if empty_src is None:
                edir = os.path.join(stage, "_empty")
                df.limit(0).write.parquet(edir)
                empty_src = os.path.join(
                    edir,
                    next(f for f in os.listdir(edir) if f.endswith(".parquet")),
                )
            shutil.copy(empty_src, dst)
        # strictly increasing mtimes pin the FileStreamSource order
        os.utime(dst, (1_000_000_000 + i * 3600,) * 2)
    shutil.rmtree(stage)


def spool_ordered_batches(
    df: DataFrame,
    id_col: str,
    spool_dir: str,
    n_batches: int = 4,
    bounds: "tuple | None" = None,
    synth=None,
    synth_id_col: "str | None" = None,
) -> None:
    """Write ``df`` as ``n_batches`` id-range files with strictly
    increasing mtimes under ``spool_dir`` (batch_0.parquet ...), so a
    FileStreamSource with maxFilesPerTrigger=1 + latestFirst=false +
    pathGlobFilter='batch_*.parquet' replays them as micro-batches in
    id order — the deterministic-arrival harness every self-referential
    (first-occurrence-wins) streaming query needs for its oracle to
    replay ownership as min-id-per-key.

    ``bounds``: optional exact (min, max) of ``id_col``, for callers
    that can compute them from a CHEAPER relation than ``df``'s plan —
    the media fixtures synthesize payloads in mapInPandas over an id
    scan, so the id scan's own min/max lets the synthesis run exactly
    once, inside the bucketed write, instead of once more for the
    bounds agg (guide §8: decide with small rows, move big rows once).
    Or one (min, max) per residue class of ``id % len(bounds)``, so
    each class is cut on its own range (see ordered_cuts). The values
    MUST be the true id min/max — they define the batch cuts the
    oracles replay.

    ``synth``/``synth_id_col`` (guide §8): pass the payload BUILDER
    and its output id column instead of a pre-synthesized ``df`` — the
    bucket shuffle then moves only ids and the builder runs post-shuffle
    in the write pass (see _spool_bucketed). Requires ``bounds`` (the id
    frame is too cheap to be worth a dedicated persist) and an
    identity-mapped builder (out id == in id), which every media payload
    builder is."""
    if synth is not None and bounds is None:
        raise ValueError("spool_ordered_batches: synth requires bounds")
    if bounds is None:
        # the bounds agg and the bucketed write are two full evaluations
        # of df's plan — cache it across the two passes
        df = df.persist()
        try:
            lo, hi = df.agg(F.min(id_col), F.max(id_col)).first()
            _spool_ordered_cuts(df, id_col, spool_dir, n_batches, (lo, hi))
        finally:
            df.unpersist()
    else:
        _spool_ordered_cuts(
            df, id_col, spool_dir, n_batches, bounds, synth, synth_id_col
        )


def ordered_cuts(bounds: tuple, n_batches: int = 4) -> tuple:
    """The ordered spool's batch cuts, one list per residue class.

    ``bounds`` is the ids' exact (min, max), one class cut on the whole
    range, or one (min, max) per class of ``id % len(bounds)`` (None
    for a class with no ids), each class cut on its own range. An id's
    batch is the number of its class's cuts it exceeds, which is the
    oracles' ``id <= lo + (hi - lo + 1) * q // n_batches`` ladder."""
    per_class = (bounds,) if isinstance(bounds[0], int) else bounds
    return tuple(
        None
        if b is None
        else [b[0] + (b[1] - b[0] + 1) * q // n_batches for q in range(1, n_batches)]
        for b in per_class
    )


def _ordered_bucket(id_col: str, cuts: tuple) -> "F.Column":
    def rank(class_cuts: list) -> "F.Column":
        b = F.lit(0)
        for cut in class_cuts:
            b = b + (F.col(id_col) > cut).cast("int")
        return b

    if len(cuts) == 1:
        return rank(cuts[0])
    cls = F.pmod(F.col(id_col), F.lit(len(cuts)))
    b = F.lit(0)
    for k, class_cuts in enumerate(cuts):
        if class_cuts is not None:
            b = F.when(cls == k, rank(class_cuts)).otherwise(b)
    return b


def _spool_ordered_cuts(
    df: DataFrame,
    id_col: str,
    spool_dir: str,
    n_batches: int,
    bounds: tuple,
    synth=None,
    synth_id_col: "str | None" = None,
) -> None:
    cuts = ordered_cuts(bounds, n_batches)
    _spool_bucketed(
        df,
        _ordered_bucket(id_col, cuts),
        spool_dir,
        n_batches,
        synth=synth,
        synth_bucket=(
            _ordered_bucket(synth_id_col, cuts) if synth is not None else None
        ),
    )


def spool_roundrobin_batches(
    df: DataFrame,
    id_col: str,
    spool_dir: str,
    n_batches: int = 4,
    synth=None,
    synth_id_col: "str | None" = None,
) -> None:
    """The DISORDERED twin of ``spool_ordered_batches``: batch i holds the
    rows with ``id % n_batches == i``, so every micro-batch spans the full
    id range and arrival order disagrees with id order everywhere (id 4
    arrives in batch 0, id 3 three batches later). This is the offline
    stand-in for Kafka CROSS-PARTITION disorder — the reference topic
    (TwitterDatasetTrendingHashtag.java:64-72) guarantees order only
    within a partition, and a consumer interleaves partitions exactly
    like this round-robin — which is what the *_unordered self-dedup
    variants must survive without an ordered-arrival assumption.

    ``synth``/``synth_id_col``: post-shuffle payload synthesis, exactly
    as in spool_ordered_batches (guide §8)."""
    _spool_bucketed(
        df,
        F.pmod(F.col(id_col), F.lit(n_batches)).cast("int"),
        spool_dir,
        n_batches,
        synth=synth,
        synth_bucket=(
            F.pmod(F.col(synth_id_col), F.lit(n_batches)).cast("int")
            if synth is not None
            else None
        ),
    )


def spool_block_reversed_batches(
    df: DataFrame,
    id_col: str,
    spool_dir: str,
    n_batches: int = 6,
    block: int | None = None,
    bounds: "tuple[int, int] | None" = None,
    synth=None,
    synth_id_col: "str | None" = None,
) -> int:
    """BOUNDED-disorder spool — the production middle ground between
    ``spool_ordered_batches`` (no disorder) and
    ``spool_roundrobin_batches`` (unbounded disorder): arrival order is
    id order with each ``block``-sized id block REVERSED, then cut into
    ``n_batches`` equal arrival-rank ranges. Blocks straddle batch
    boundaries (block defaults to half a batch), so ids genuinely arrive
    across batches out of order — but displacement is bounded: when id x
    arrives, every earlier arrival is <= x + block - 1. Returns the
    disorder bound D = block: with event time ts = BASE + id seconds, a
    watermark delay of D seconds never drops a row (max lateness is
    D - 1 s), which is exactly the bounded-delay contract a real Kafka
    consumer group provides and the watermark-swept TTL dedup's state
    bound relies on.

    ``bounds`` and ``synth``/``synth_id_col`` work as in
    spool_ordered_batches: exact id bounds from a cheaper relation, and
    a payload builder run after the shuffle (requires ``bounds``)."""
    if synth is not None and bounds is None:
        raise ValueError("spool_block_reversed_batches: synth requires bounds")
    if bounds is not None:
        lo, hi = bounds
        return _spool_block_reversed_cuts(
            df, id_col, spool_dir, n_batches, block, lo, hi, synth, synth_id_col
        )
    # cache across the bounds agg + bucketed write, as in
    # spool_ordered_batches
    df = df.persist()
    try:
        lo, hi = df.agg(F.min(id_col), F.max(id_col)).first()
        return _spool_block_reversed_cuts(
            df, id_col, spool_dir, n_batches, block, lo, hi
        )
    finally:
        df.unpersist()


def _block_reversed_bucket(
    id_col: str, lo: int, n: int, n_batches: int, block: int
) -> "F.Column":
    idn = F.col(id_col) - F.lit(lo)
    ak = (
        idn
        - F.pmod(idn, F.lit(block))
        + (F.lit(block - 1) - F.pmod(idn, F.lit(block)))
    )
    b = F.lit(0)
    for q in range(1, n_batches):
        b = b + (ak >= F.lit(n * q // n_batches)).cast("int")
    return b


def _spool_block_reversed_cuts(
    df: DataFrame,
    id_col: str,
    spool_dir: str,
    n_batches: int,
    block: "int | None",
    lo: int,
    hi: int,
    synth=None,
    synth_id_col: "str | None" = None,
) -> int:
    n = hi - lo + 1
    if block is None:
        block = max(2, n // (2 * n_batches))
    _spool_bucketed(
        df,
        _block_reversed_bucket(id_col, lo, n, n_batches, block),
        spool_dir,
        n_batches,
        synth=synth,
        synth_bucket=(
            _block_reversed_bucket(synth_id_col, lo, n, n_batches, block)
            if synth is not None
            else None
        ),
    )
    return block


# Registered queries a caller runs on threads of one session (the
# benchmark warm-up in perfbench/keeper_ingest.py does) share ONE
# session-global spark.sql.shuffle.partitions, so the pin must be set
# once and restored once across overlapping scopes: an unsynchronized
# get/set/restore lets a thread capture a sibling's pinned value as
# "prev" (leaking the pin into every later query) or run its
# micro-batches at the caller's unpinned value. Lock + per-session
# refcount: the first scope in sets, the last scope out restores,
# nested/concurrent scopes are no-ops.
_PIN_LOCK = threading.Lock()
_PIN_STATE: dict[int, list] = {}  # id(session) -> [depth, prev_value]


@contextmanager
def _scoped_shuffle_partitions(spark: SparkSession) -> Iterator[None]:
    """Pin shuffle partitions to cluster parallelism for a streaming run.

    Streaming state stores can't be AQE-coalesced: every micro-batch of a
    stateful query runs one task (and one state-store instance) per shuffle
    partition, so a vanilla 200-partition session pays 200 tasks per
    trigger over kilobyte-scale fixture state. Scope the conf to the query
    (the value is captured at stream start) and restore it after, leaving
    the caller's session untouched. Re-entrant and thread-safe per session:
    nested scopes, and scopes of queries a caller runs concurrently on
    threads of one session, set once and restore once.
    """
    key = "spark.sql.shuffle.partitions"
    sk = id(spark)
    with _PIN_LOCK:
        state = _PIN_STATE.get(sk)
        if state is None:
            prev = spark.conf.get(key)
            spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
            state = _PIN_STATE[sk] = [0, prev]
        state[0] += 1
    try:
        yield
    finally:
        with _PIN_LOCK:
            state = _PIN_STATE[sk]
            state[0] -= 1
            if state[0] == 0:
                spark.conf.set(key, state[1])
                del _PIN_STATE[sk]


def run_stream(
    sdf: DataFrame,
    sink: "str | Callable[[DataFrame, int], None] | None" = None,
    *,
    mode: str,
    trigger: str | None = None,
    checkpoint: str | None = None,
) -> "tuple[DataFrame | None, list[dict]]":
    """Run one streaming query to its end; return ``(result, progress)``.

    The parameters are the query's own (Structured Streaming, SIGMOD 2018:
    source and plan in ``sdf``, then sink, output ``mode``, trigger and
    checkpoint location):

    - ``sink``: ``None`` is a memory sink and ``result`` is its table as a
      batch DataFrame; a callable is a ``foreachBatch(df, epoch_id)`` body;
      a string is a parquet file-sink path. Only the memory sink has a
      result; the others return ``None``.
    - ``trigger``: ``None`` drives an always-on query with
      ``processAllAvailable`` and stops it from outside. ``"availableNow"``
      is the catch-up trigger: the query drains the data available at
      start, honouring source rate limits such as ``maxFilesPerTrigger``,
      and terminates itself, which ``awaitTermination`` waits for. Any
      other string is a ``processingTime`` interval (the reference's
      500 ms DStream cadence, TwitterDStreamTrendingHashtag.java:49),
      still bounded by ``processAllAvailable``.

    The query runs under :func:`_scoped_shuffle_partitions` and is stopped
    in ``finally``. ``progress`` is its ``recentProgress``, one dict per
    trigger (``numInputRows``, ``durationMs``, ...).
    """
    spark = sdf.sparkSession
    writer = sdf.writeStream.outputMode(mode)
    name = None
    if sink is None:
        name = f"mem_{uuid.uuid4().hex[:12]}"
        writer = writer.format("memory").queryName(name)
    elif callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", sink)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger == "availableNow":
        writer = writer.trigger(availableNow=True)
    elif trigger is not None:
        writer = writer.trigger(processingTime=trigger)
    with _scoped_shuffle_partitions(spark):
        q = writer.start()
        try:
            if trigger == "availableNow":
                q.awaitTermination()
            else:
                q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    return (spark.table(name) if name else None), q.recentProgress


def run_to_memory(sdf: DataFrame, output_mode: str = "complete") -> DataFrame:
    """:func:`run_stream` into a memory sink: the final result table as a
    batch DataFrame. ``complete`` mode gives the full table for
    aggregations (the oracle-comparable form); ``append`` is for
    non-aggregating or watermark-closed output."""
    return run_stream(sdf, mode=output_mode)[0]


def run_foreach_batch(
    sdf: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    output_mode: str = "update",
) -> None:
    """:func:`run_stream` through a ``foreachBatch`` sink.

    ``write_batch(df, epoch_id)`` runs on the driver but the DataFrame it
    receives is distributed — writers should call df.write / df.foreachPartition
    so the actual I/O happens on executors, one connection per partition per
    epoch (vs the reference's connection per RECORD,
    TwitterDStreamTrendingHashtag.java:102-104). Callers look this name up
    at call time, so a wrapper patched onto the module sees every run.
    """
    run_stream(sdf, write_batch, mode=output_mode)
