"""One bucket-state stream operator for the self, TTL and ingest dedup of
every kind: text MinHash bands, image and audio chunk-LSH buckets and
video frame signatures.

A ``BucketKind`` says how a kind spools, keys, shards and pairs its
items; ``state_stream`` (self and TTL dedup, one stateful processor
over the per-bucket rules in bucket_rules.py) and ``ingest_stream``
(probe a static index of canonical items) are the shells every kind
binds. ``STRATEGIES`` names the five self/TTL variants.

Importing this module needs no protobuf runtime: the stateful processor
is built inside ``state_stream``, and only the registrations in
streaming/queries.py (behind its capability probe) call it.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.streaming import bucket_rules
from spark_streaming_twitter_spark.streaming.harness import (
    run_to_memory,
    spool_block_reversed_batches,
    spool_ordered_batches,
    spool_roundrobin_batches,
)


@dataclass(frozen=True)
class BucketKind:
    """One kind of item the bucket-state streams dedup.

    - ``source(spark, sf_dir)``: the rows the spool cuts, keyed by
      ``doc_id``. ``synth``, if set, builds the spooled payloads from
      them after the spool's shuffle; ``spool_schema`` is what the
      spool files hold.
    - ``keys(spooled)``: the key frame (id_col, sig, c, chunk_val), one
      row per bucket key of an item; ``sig`` is null for a kind
      without a signature.
    - ``key_type``: chunk_val's SQL type, the MapState key.
    - ``shard``: a SQL expression over chunk_val; with ``c`` it picks
      one of 64 state shards.
    - ``bounds(spark, sf_dir)``: the exact (min, max) id, which sets the
      ordered spool's cuts and the TTL horizon.
    - ``refs(spark, sf_dir)``: the ingest stream's static reference keys
      (ref_id, ref_sig, c, chunk_val).
    - ``pairs(hits)``: the pair rule over candidate rows (c, chunk_val,
      id_col, sig, ref_id, ref_sig).
    - ``radius``: the Hamming radius on ``sig``. A kind without one
      stores ids only in its state.
    """

    id_col: str
    source: Callable[[SparkSession, str], DataFrame]
    spool_schema: str
    keys: Callable[[DataFrame], DataFrame]
    key_type: str
    shard: str
    bounds: Callable[[SparkSession, str], tuple]
    refs: Callable[[SparkSession, str], DataFrame]
    pairs: Callable[[DataFrame], DataFrame]
    radius: int | None = None
    synth: Callable[[DataFrame], DataFrame] | None = None


# strategy -> (bucket update rule, spool order, read-back
# reconciliation, event-time sweep); see bucket_rules
STRATEGIES = {
    "self": (bucket_rules.first_owner, "ordered", None, False),
    "self_unordered": (bucket_rules.min_owner, "roundrobin", "min_owner", False),
    "ttl": (bucket_rules.last_seen, "ordered", None, True),
    "ttl_unordered": (bucket_rules.sorted_window, "roundrobin", "max_ref", False),
    "ttl_bounded": (bucket_rules.sorted_window, "block_reversed", "max_ref", True),
}


def read_spool(spark: SparkSession, spool_dir: str, schema: str) -> DataFrame:
    """A spool (batch_0.parquet ...) as a stream: one file per trigger,
    in spool order, spread over the cluster before the keying."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .option("pathGlobFilter", "batch_*.parquet")
        .parquet(spool_dir)
        .repartition(spark.sparkContext.defaultParallelism)
    )


def spool_items(
    spark: SparkSession,
    sf_dir: str,
    kind: BucketKind,
    spool_dir: str,
    order: str,
    bounds: "tuple[int, int]",
) -> int:
    """Spool a kind's items in ``order`` (ordered, roundrobin or
    block_reversed); a kind with ``synth`` shuffles ids only and builds
    the payloads after the exchange. Returns the disorder bound (0
    unless block-reversed)."""
    src = kind.source(spark, sf_dir)
    synth = {"synth": kind.synth, "synth_id_col": kind.id_col} if kind.synth else {}
    if order == "roundrobin":
        spool_roundrobin_batches(src, "doc_id", spool_dir, **synth)
        return 0
    if order == "block_reversed":
        return spool_block_reversed_batches(
            src, "doc_id", spool_dir, bounds=bounds, **synth
        )
    spool_ordered_batches(src, "doc_id", spool_dir, bounds=bounds, **synth)
    return 0


def ingest_stream(spark: SparkSession, sf_dir: str, kind: BucketKind) -> DataFrame:
    """Near-dup detection AT INGEST against a static index: each trigger's
    keys probe a persisted, broadcast index of the kind's canonical
    items on (c, chunk_val), statelessly, and the read-back applies the
    pair rule."""
    with tempfile.TemporaryDirectory(
        prefix="bucket_ingest_", ignore_cleanup_errors=True
    ) as tmp:
        refs = None
        try:
            bounds = kind.bounds(spark, sf_dir)
            spool_items(spark, sf_dir, kind, tmp, "ordered", bounds)
            # the static side of a stream-static join re-evaluates every
            # trigger: persist it so the refs are keyed once
            refs = kind.refs(spark, sf_dir).persist()
            refs.count()
            hits = (
                kind.keys(read_spool(spark, tmp, kind.spool_schema))
                .join(F.broadcast(refs), ["c", "chunk_val"])
                .where(F.col(kind.id_col) != F.col("ref_id"))
            )
            pairs = kind.pairs(run_to_memory(hits, output_mode="append"))
            return spark.createDataFrame(pairs.collect(), pairs.schema)
        finally:
            if refs is not None:
                refs.unpersist()


def state_stream(
    spark: SparkSession, sf_dir: str, kind: BucketKind, strategy: str
) -> DataFrame:
    """Self-referential streaming dedup: there is no static index; each
    bucket's state is the stream's own past.

    Keys are grouped by (c, shard), 64 shards for every kind, and one
    transformWithStateInPandas MapState per shard maps chunk_val to the
    bucket's (id, sig) entries. A trigger costs one point read per
    touched bucket, plus one write where the bucket changed, never a
    rescan of history. The read is ``getValue``, which returns None for
    an absent key: ``containsKey`` first would double the state round
    trips, the dominant cost of this plan.

    ``strategy`` picks the update rule, the spool order, the read-back
    reconciliation and whether event-time timers sweep state (horizon =
    half the id range; event time is ``TS_BASE + id`` seconds; the
    bounded spool's disorder bound D is the watermark delay). Ordered
    rules verify the Hamming radius inside the processor, so only
    verified pairs are emitted; disorder-tolerant rules emit candidates,
    because a later trigger may still change a bucket's owner or an
    item's predecessor, and verify after reconciling.

    The sweep drops an entry once ``(TS_BASE + id + horizon) * 1000`` is
    below the watermark, and can never change the output: as a ref, any
    future arrival s has ts >= watermark, so s - id > horizon and the
    pair fails the horizon check anyway; as an item, its own pairs were
    emitted at insertion, and no future arrival can slot below it (a
    late p < id would need ts_p >= watermark > TS_BASE + id + horizon >
    ts_p), so no false adjacency forms across the evicted gap. Each
    trigger registers one timer at watermark + 1 ms and never deletes
    one: a timer above the one-trigger-lagging watermark is replaced
    before it fires, and a delete inside handleInputRows kills the
    expired but unprocessed timer of the same trigger, so this
    registration is the one that fires mid-stream. Fired timers remove
    themselves, and since the sweep re-checks the horizon, its cadence
    cannot change the output."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from spark_streaming_twitter_spark.streaming.queries import (
        _forward_vendored_protobuf_to_workers,
        _run_tws_update,
    )

    _forward_vendored_protobuf_to_workers(spark)
    rule, order, reconcile, timed = STRATEGIES[strategy]
    lo, hi = bounds = kind.bounds(spark, sf_dir)
    horizon = (hi - lo + 1) // 2
    # the processor is pickled to the workers: it closes over plain
    # values only, never the kind, whose functions live in modules the
    # workers must not import
    signed = kind.radius is not None
    radius = kind.radius if reconcile is None else None
    key_type, ident = kind.key_type, kind.id_col
    key_of = int if key_type == "bigint" else str
    value_type = "ids array<bigint>" + (", sigs array<bigint>" if signed else "")
    cols = ["c", "chunk_val", ident, "sig", "ref_id", "ref_sig"]

    def entries(v) -> list:
        sigs = map(int, v[1]) if signed else [None] * len(v[0])
        return list(zip(map(int, v[0]), sigs))

    class BucketState(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._buckets = handle.getMapState(
                "buckets", f"chunk_val {key_type}", value_type
            )

        def _put(self, cv, old: list, new: list) -> None:
            if new == old:
                return
            if new:
                ids = [m for m, _ in new]
                self._buckets.updateValue(
                    (cv,), (ids, [s for _, s in new]) if signed else (ids,)
                )
            else:
                self._buckets.removeKey((cv,))

        def handleInputRows(self, key, rows, timerValues):
            c = int(key[0])
            pdf = pd.concat(list(rows), ignore_index=True)
            out = []
            for cv, grp in pdf.groupby("chunk_val", sort=True):
                cv = key_of(cv)
                cur = self._buckets.getValue((cv,))
                old = entries(cur) if cur is not None else []
                sigs = grp["sig"] if signed else None
                state, emits = bucket_rules.update(
                    rule, old, grp[ident], sigs, horizon, radius
                )
                self._put(cv, old, state)
                out += [(c, cv, *e) for e in emits]
            if timed:
                self._h.registerTimer(timerValues.getCurrentWatermarkInMs() + 1)
            if out:
                yield pd.DataFrame(out, columns=cols)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            wm_ms = timerValues.getCurrentWatermarkInMs()
            stored = [(k[0], entries(v)) for k, v in self._buckets.iterator()]
            for cv, old in stored:
                self._put(cv, old, bucket_rules.expire(old, wm_ms, horizon))
            return iter(())

        def close(self) -> None:
            pass

    with tempfile.TemporaryDirectory(
        prefix="bucket_state_", ignore_cleanup_errors=True
    ) as tmp:
        delay = spool_items(spark, sf_dir, kind, tmp, order, bounds)
        keys = kind.keys(read_spool(spark, tmp, kind.spool_schema))
        if timed:
            ts = F.timestamp_seconds(F.lit(bucket_rules.TS_BASE) + F.col(ident))
            keys = keys.withColumn("ts", ts).withWatermark("ts", f"{delay} seconds")
        hits = (
            keys.withColumn("shard", F.expr(kind.shard))
            .groupBy("c", "shard")
            .transformWithStateInPandas(
                statefulProcessor=BucketState(),
                outputStructType=f"c int, chunk_val {key_type}, "
                f"{ident} bigint, sig bigint, ref_id bigint, ref_sig bigint",
                outputMode="Update",
                timeMode="EventTime" if timed else "None",
            )
        )
        rows = _run_tws_update(spark, hits)
        if reconcile == "min_owner":
            # final owner per bucket = min emitted owner: ownership only
            # decreases and every demotion emits the new owner
            rows = (
                rows.groupBy("c", "chunk_val")
                .agg(
                    F.min(F.struct("ref_id", "ref_sig")).alias("o"),
                    F.collect_set(F.struct(ident, "sig")).alias("m"),
                )
                .select("c", "chunk_val", F.explode("m").alias("m"), "o")
                .select("c", "chunk_val", "m.*", "o.*")
            )
        elif reconcile == "max_ref":
            # final predecessor per (bucket, item) = max emitted ref
            rows = (
                rows.groupBy("c", "chunk_val", ident, "sig")
                .agg(F.max(F.struct("ref_id", "ref_sig")).alias("r"))
                .select("c", "chunk_val", ident, "sig", "r.*")
            )
        pairs = kind.pairs(rows)
        return spark.createDataFrame(pairs.collect(), pairs.schema)
