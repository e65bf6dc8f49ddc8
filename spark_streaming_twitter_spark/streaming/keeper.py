"""The keeper protocol: online dedup where the first arrival is kept.

Per micro-batch every item probes the index of items kept by earlier
triggers. An item with no hit is kept and its entries join the index; an
item with a hit is dropped and QUARANTINED — its entries never join — so
a chain A~B~C where B matches A cannot suppress C through the dropped B.
Decision granularity is the micro-batch: items in one trigger probe the
same index snapshot.

One protocol serves every modality. Text MinHash bands, image/audio
chunk-LSH buckets and video frame signatures differ only in the
parameters of ``make_keeper_prober``; ``keeper_stream`` is the one
streaming shell around it. Every media keeper runs one Python pass
and one probe per trigger: its keys carry the modality ``m`` as a key
column, with a per-row verify radius and a per-row ``min_shared``, so a
single prober over a single store decides one media kind or all three
(multimodal.phash.make_media_keeper_prober).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.dedup.pairs import chunk_slices


def keeper_store_dirs(store_dir: str) -> "tuple[str, str]":
    """(ledger subdir, index subdir) of a keeper's partitioned store.

    Each keeper owns ONE parquet store partitioned by ``side``:
    ``side=ledger`` holds the per-item decision rows, ``side=index`` the
    kept entries, so every trigger lands both in a single write job."""
    return (
        os.path.join(store_dir, "side=ledger"),
        os.path.join(store_dir, "side=index"),
    )


def keeper_ledger_frame(
    spark: SparkSession, store_dir: str, id_col: str
) -> DataFrame:
    """The store's decision ledger (id_col, n_index_hits), total: a stream
    that never wrote a ledger row yields an empty typed frame instead of a
    schema-inference error."""
    import glob

    ledger_dir, _ = keeper_store_dirs(store_dir)
    if not glob.glob(os.path.join(ledger_dir, "*.parquet")):
        return spark.createDataFrame([], f"{id_col} long, n_index_hits long")
    return spark.read.parquet(ledger_dir).select(id_col, "n_index_hits")


def chunk_key_frame(
    sig_df: DataFrame, sig_col: str, n_chunks: int, chunk_bits: int
) -> DataFrame:
    """Chunk-LSH probe keys (media_id, sig, c, chunk_val): one row per
    (item, chunk index), ``chunk_val`` the signature's c-th
    ``chunk_bits``-wide slice (dedup/pairs.py's ``chunk_slices``, the
    slice rule the batch Hamming scorers join on)."""
    sigs = sig_df.select("media_id", F.col(sig_col).alias("sig"))
    return chunk_slices(sigs, "sig", n_chunks, chunk_bits)


def make_keeper_prober(
    spark: SparkSession,
    store_dir: str,
    id_col: str,
    key_cols: "list[str]",
    entry: "tuple[str, str] | None" = None,
    verify: "F.Column | None" = None,
    min_shared: "F.Column | None" = None,
    item_slice: "F.Column | None" = None,
) -> Callable[[DataFrame], DataFrame]:
    """One trigger's worth of the keeper protocol, as a closure over a
    keeper store (see keeper_store_dirs).

    The returned ``probe_and_keep(keys)`` takes the batch's probe keys
    (``id_col`` plus ``key_cols``, and the ``entry`` source column),
    counts each item's hits against the kept index, and lands the
    per-item decision rows (side=ledger) and ONLY kept items' entries
    (side=index) in one partitioned write. It returns the batch's PINNED
    decision report (id_col, n_index_hits). The store write carries an
    ``Observation`` over the report, so after each call
    ``probe_and_keep.observed`` holds that trigger's ``items`` and
    ``hits`` (items with at least one hit, the dropped ones) without a
    job of their own.

    - ``entry``: (source column, index column) stored beside the keys in
      each index entry, e.g. the full signature a chunk hit is verified
      against, or the kept clip a frame belongs to.
    - ``verify``: predicate over a probe-key/index-entry pair; a key
      match counts as a hit only where it holds.
    - ``min_shared``: a per-row threshold. Where it is non-null, an
      item counts one hit per kept entry owner sharing at least that
      many distinct keys with it, instead of one per matching key;
      where it is null, each verified key match counts, as without it.
    - ``item_slice``: a predicate selecting exactly one key row per item,
      which finds the batch's items without the exchange and aggregate
      of a distinct inside every trigger. Leave it None where keys can
      repeat within an item (video frame signatures); the items are then
      the distinct ids.

    Every index entry is written once: an entry already in the index
    would have matched its own item, so that item is not kept.
    """
    _, idx_dir = keeper_store_dirs(store_dir)
    entry_cols = [F.col(entry[0]).alias(entry[1])] if entry else []
    zero = F.lit(0).cast("bigint")
    state = {"has_index": False}

    def probe_and_keep(keys: DataFrame) -> DataFrame:
        if item_slice is not None:
            items = keys.where(item_slice).select(id_col)
        else:
            items = keys.select(id_col).distinct()
        if not state["has_index"]:
            report = items.select(id_col, zero.alias("n_index_hits"))
        else:
            # read with the schema the index is written with, so no
            # trigger runs a footer-inference job
            written = keys.select(*key_cols, *entry_cols).schema
            idx = spark.read.schema(written).parquet(idx_dir)
            hits = keys.join(F.broadcast(idx), key_cols)
            if verify is not None:
                hits = hits.where(verify)
            weight = F.lit(1)
            if min_shared is not None:
                hits = hits.groupBy(
                    id_col, entry[1], min_shared.alias("min_shared")
                ).agg(
                    F.count_distinct(*key_cols).alias("n_shared"),
                    F.count(F.lit(1)).alias("n_rows"),
                )
                weight = F.when(
                    F.col("min_shared").isNull(), F.col("n_rows")
                ).otherwise((F.col("n_shared") >= F.col("min_shared")).cast("int"))
            nhits = hits.groupBy(id_col).agg(F.sum(weight).alias("n"))
            report = items.join(nhits, id_col, "left").select(
                id_col, F.coalesce("n", zero).alias("n_index_hits")
            )
        # localCheckpoint, not persist: the store append below fires
        # recacheByPath on every cached plan reading the store, which would
        # rebuild a merely-persisted report against the post-append index
        # (every kept item self-matching); the checkpoint cuts the lineage.
        # Dropping the pin altogether re-evaluates the probe for each
        # branch of the write (measured: more jobs per run, video slower).
        report = report.localCheckpoint()
        # each id arrives in exactly one batch, so this batch's kept set
        # is the report's zero-hit rows, with no ledger read-back
        kept = report.where(F.col("n_index_hits") == 0).select(id_col)
        novel = keys.join(F.broadcast(kept), id_col).select(*key_cols, *entry_cols)
        seen = Observation()
        report.observe(
            seen,
            F.count(F.lit(1)).alias("items"),
            F.count(F.when(F.col("n_index_hits") > 0, 1)).alias("hits"),
        ).withColumn("side", F.lit("ledger")).unionByName(
            novel.distinct().withColumn("side", F.lit("index")),
            allowMissingColumns=True,
        ).write.mode("append").partitionBy("side").parquet(store_dir)
        # the partition dir exists iff index rows have ever landed: an
        # empty or all-dropped batch must not flip the flag onto an
        # unreadable empty dir
        state["has_index"] = os.path.isdir(idx_dir)
        probe_and_keep.observed = seen.get
        return report

    return probe_and_keep


def keeper_stream(
    spark: SparkSession,
    id_col: str,
    src: DataFrame,
    key_stream: Callable[[str], DataFrame],
    make_prober: Callable[[str], Callable[[DataFrame], DataFrame]],
    roundrobin: bool = False,
    bounds: "tuple | None" = None,
    keep_ledger_dir: "str | None" = None,
    on_report: "Callable[[DataFrame], None] | None" = None,
) -> DataFrame:
    """Run a keeper over ``src`` (keyed by ``doc_id``) replayed as four
    micro-batches; return the decision ledger (id_col, n_index_hits,
    kept).

    - The spool is round-robin (``roundrobin``) or by id range, with
      ``bounds`` the exact id (min, max) when known, or one per residue
      class to cut each class on its own range (see
      streaming.harness.spool_ordered_batches).
    - ``key_stream(spool_dir)`` builds the streaming probe-key frame,
      ``make_prober(store_dir)`` the per-trigger prober, and
      ``on_report`` receives each trigger's pinned report.
    - With ``keep_ledger_dir`` the store outlives the query (overwritten
      at start, ownership re-checked) and the returned frame is its
      parquet-backed ledger side; otherwise the ledger is collected and
      the store removed with the temp dir.
    """
    import tempfile

    from spark_streaming_twitter_spark.streaming.harness import (
        run_foreach_batch,
        spool_ordered_batches,
        spool_roundrobin_batches,
    )
    from spark_streaming_twitter_spark.text.corpus import _reclaim_ledger_dir

    with tempfile.TemporaryDirectory(
        prefix="keeper_stream_", ignore_cleanup_errors=True
    ) as tmp:
        # the spool lives in its own subdir: the partitioned store (side=...)
        # must not share a root with the FileStreamSource's scan, or its
        # partition inference sees conflicting directory structures
        spool_dir = os.path.join(tmp, "spool")
        if keep_ledger_dir is not None:
            _reclaim_ledger_dir(keep_ledger_dir)
            store_dir = keep_ledger_dir
        else:
            store_dir = os.path.join(tmp, "store")
        if roundrobin:
            spool_roundrobin_batches(src, "doc_id", spool_dir)
        else:
            spool_ordered_batches(src, "doc_id", spool_dir, bounds=bounds)
        prober = make_prober(store_dir)

        def trigger(bdf: DataFrame, _epoch_id: int) -> None:
            bdf = bdf.persist()
            report = prober(bdf)
            if on_report is not None:
                on_report(report)
            bdf.unpersist()

        run_foreach_batch(key_stream(spool_dir), trigger, output_mode="append")
        kept = (F.col("n_index_hits") == 0).alias("kept")
        ledger = keeper_ledger_frame(spark, store_dir, id_col).select(
            id_col, "n_index_hits", kept
        )
        if keep_ledger_dir is not None:
            return ledger
        return spark.createDataFrame(ledger.collect(), ledger.schema)
