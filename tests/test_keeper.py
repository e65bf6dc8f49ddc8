"""Unit tests for the keeper protocol (streaming/keeper.py) on tiny inputs.

Each key shape — chunk-LSH (image/audio), MinHash bands (text) and video
frame signatures — runs the one prober over hand-built batches with a
planted near-dup and an A~B~C chain where only B matches A: the dropped
B is quarantined, so C must be kept.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.streaming.keeper import (
    chunk_key_frame,
    keeper_store_dirs,
    make_keeper_prober,
)


def _phash():
    from spark_streaming_twitter_spark.registry import load_all

    load_all()  # phash's oracles compose registry entries from dedup
    from spark_streaming_twitter_spark.multimodal import phash

    return phash


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _store(spark, store_dir, id_col, idx_cols):
    """(ledger rows, index rows) of a keeper store, as sorted tuples."""
    ledger_dir, idx_dir = keeper_store_dirs(store_dir)
    ledger = _rows(spark.read.parquet(ledger_dir), id_col, "n_index_hits")
    index = _rows(spark.read.parquet(idx_dir), *idx_cols)
    return ledger, index


def _run(prober, batches, id_col):
    """Feed each batch to the prober; return all report rows."""
    got = []
    for keys in batches:
        got += _rows(prober(keys), id_col, "n_index_hits")
    return sorted(got)


def test_chunk_prober_quarantines_dropped_items(spark, tmp_path):
    ph = _phash()

    radius = 3
    a = 0x11223344
    b = a ^ 0x3  # 2 bits from A: a verified hit
    c = b ^ 0x300  # 2 bits from B, 4 from A: shares buckets with A, fails verify
    x = 0x0A0B0C0D  # unrelated
    sigs = spark.createDataFrame(
        [(1, a), (2, x), (3, b), (4, c)], "media_id long, sig long"
    )
    keys = chunk_key_frame(sigs, "sig", 4, 8)
    store_dir = str(tmp_path / "store")
    prober = ph.make_chunk_keeper_prober(spark, store_dir, radius)
    report = _run(
        prober,
        [keys.where(f"media_id {op}") for op in ("<= 2", "= 3", "= 4")],
        "media_id",
    )
    # B hits A through every chunk it shares with A (3 of 4); C's
    # candidate buckets against A fail the Hamming verify, and B's
    # entries never joined the index
    assert report == [(1, 0), (2, 0), (3, 3), (4, 0)]
    ledger, index = _store(spark, store_dir, "media_id", ("c", "chunk_val", "ref_sig"))
    assert ledger == report
    mask = 0xFF
    assert index == sorted(
        (i, (s >> (8 * i)) & mask, s) for s in (a, x, c) for i in range(4)
    )
    assert len(index) == len(set(index)), "an index row was written twice"


def test_text_prober_counts_shared_band_keys(spark, tmp_path):
    # A and B share band 0 (a near-dup); C shares band 1 with B only
    rows = [
        (1, 0, "a0"), (1, 1, "a1"),
        (2, 0, "a0"), (2, 1, "b1"),
        (3, 0, "c0"), (3, 1, "b1"),
        (4, 0, "a0"), (4, 1, "a1"),  # exact dup of A, same batch as C
    ]
    keys = spark.createDataFrame(rows, "doc_id long, band int, band_key string")
    store_dir = str(tmp_path / "store")
    prober = make_keeper_prober(
        spark, store_dir, "doc_id", ["band", "band_key"],
        item_slice=F.col("band") == 0,
    )
    report = _run(
        prober,
        [keys.where(f"doc_id {op}") for op in ("= 1", "= 2", ">= 3")],
        "doc_id",
    )
    assert report == [(1, 0), (2, 1), (3, 0), (4, 2)]
    ledger, index = _store(spark, store_dir, "doc_id", ("band", "band_key"))
    assert ledger == report
    assert index == [(0, "a0"), (0, "c0"), (1, "a1"), (1, "b1")]
    assert len(index) == len(set(index)), "an index row was written twice"


def test_video_prober_counts_distinct_shared_frames(spark, tmp_path):
    ph = _phash()

    need = ph.VIDEO_MIN_SHARED
    clips = {
        1: list(range(1, 17)),  # A
        # B: shares `need` frames with A, one of them repeated
        2: list(range(1, need + 1)) + [1, 1] + list(range(101, 109)),
        # C: shares `need` frames with B only
        3: list(range(101, 101 + need)) + list(range(201, 209)),
        # D: shares need-1 distinct frames with A, each twice — a row
        # count would pass the threshold, the distinct count does not
        4: [f for f in range(1, need) for _ in (0, 1)] + [301, 302],
    }
    rows = [(m, f) for m, fs in clips.items() for f in fs]
    keys = spark.createDataFrame(rows, "media_id long, frame_sig long")
    store_dir = str(tmp_path / "store")
    prober = ph.make_video_keeper_prober(spark, store_dir)
    report = _run(
        prober,
        [keys.where(f"media_id {op}") for op in ("= 1", "= 2", ">= 3")],
        "media_id",
    )
    # one report row per clip however often its frames repeat
    assert report == [(1, 0), (2, 1), (3, 0), (4, 0)]
    ledger, index = _store(spark, store_dir, "media_id", ("frame_sig", "kept_id"))
    assert ledger == report
    assert index == sorted({(f, m) for m in (1, 3, 4) for f in clips[m]})
    assert len(index) == len(set(index)), "an index row was written twice"
    # frame signatures repeat within a clip, so no slice holds one row
    # per clip: B's rows outnumber its distinct frames
    assert keys.where("media_id = 2").count() > len(set(clips[2]))


def test_chunk_and_band_slices_are_the_distinct_items(spark):
    from spark_streaming_twitter_spark.dedup.dedup import minhash_band_rows

    sigs = spark.createDataFrame(
        [(i, (i * 0x9E3779B1) & 0xFFFFFFFFFFFFFF) for i in range(1, 30)],
        "media_id long, sig long",
    )
    keys = chunk_key_frame(sigs, "sig", 4, 14)
    assert _rows(keys.where(F.col("c") == 0).select("media_id"), "media_id") == _rows(
        keys.select("media_id").distinct(), "media_id"
    )
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "")],
        "doc_id long, text string",
    )
    bands = minhash_band_rows(docs)
    assert _rows(bands.where(F.col("band") == 0).select("doc_id"), "doc_id") == _rows(
        bands.select("doc_id").distinct(), "doc_id"
    )


def test_ordered_spool_rejects_synth_without_bounds(spark, tmp_path):
    from spark_streaming_twitter_spark.streaming.harness import spool_ordered_batches

    ids = spark.createDataFrame([(1,), (2,)], "doc_id long")
    with pytest.raises(ValueError, match="bounds"):
        spool_ordered_batches(
            ids, "doc_id", str(tmp_path / "spool"),
            synth=lambda df: df, synth_id_col="media_id",
        )
