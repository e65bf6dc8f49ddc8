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


def test_prober_observes_report_counts(spark, tmp_path):
    """The store write observes each trigger's items and hits (items
    with at least one hit): they equal the returned report's counts on
    a first batch, a batch with hits, an empty batch and an all-dropped
    batch."""
    rows = [
        (1, 0, "a0"), (1, 1, "a1"),
        (2, 0, "a0"), (2, 1, "b1"),  # hits A
        (3, 0, "c0"), (3, 1, "c1"),
        (4, 0, "a0"), (4, 1, "x1"),  # hits A
        (5, 0, "y0"), (5, 1, "c1"),  # hits C
    ]
    keys = spark.createDataFrame(rows, "doc_id long, band int, band_key string")
    prober = make_keeper_prober(
        spark, str(tmp_path / "store"), "doc_id", ["band", "band_key"],
        item_slice=F.col("band") == 0,
    )
    for where, want in [
        ("doc_id = 1", (1, 0)),
        ("doc_id IN (2, 3)", (2, 1)),
        ("doc_id < 0", (0, 0)),
        ("doc_id >= 4", (2, 2)),
    ]:
        hits = [r.n_index_hits for r in prober(keys.where(where)).collect()]
        assert (len(hits), sum(h > 0 for h in hits)) == want, where
        assert prober.observed == {"items": want[0], "hits": want[1]}, where


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


A_IMG = 0x5A5  # < 2^12: its 14- and 12-bit chunk keys coincide, (0x5A5, 0, 0, 0)
A_AUD = 0x123456789ABC  # every 12-bit chunk non-zero
KEPT_CLIP = list(range(1000, 1016))


def _clip(shared, new):
    return KEPT_CLIP[:shared] + list(range(new, new + 16 - shared))


# (item, m, signature or frame signatures) per batch, and the expected
# n_index_hits of every item
TAGGED_CASES = {
    "radius_video_and_cross_modality": (
        [
            [(1, 0, A_IMG), (2, 1, A_AUD), (3, 2, KEPT_CLIP)],
            [
                (4, 0, A_IMG ^ 0x7F),  # Hamming 7 <= 8: dropped via 3 chunks
                (5, 1, A_AUD ^ 0x7F),  # Hamming 7 > 6: kept
                (6, 2, _clip(8, 2000)),  # 8 distinct shared frames: dropped
                (7, 2, _clip(7, 3000) + [KEPT_CLIP[0]]),  # 7 distinct: kept
                (8, 1, A_IMG),  # image 1's (c, chunk_val) keys, as audio: kept
                (9, 1, A_AUD),  # exact audio dup: all 4 chunks hit
            ],
        ],
        {1: 0, 2: 0, 3: 0, 4: 3, 5: 0, 6: 1, 7: 0, 8: 0, 9: 4},
    ),
    "index_of_one_modality": (
        [
            [(10, 0, A_IMG), (11, 0, A_AUD)],
            [(12, 1, A_IMG), (13, 2, KEPT_CLIP), (14, 0, A_AUD)],
        ],
        {10: 0, 11: 0, 12: 0, 13: 0, 14: 4},
    ),
    "all_dropped_batch": (
        [
            [(20, 0, A_IMG), (21, 1, A_AUD), (22, 2, KEPT_CLIP)],
            [(23, 0, A_IMG), (24, 1, A_AUD), (25, 2, _clip(12, 4000))],
        ],
        {20: 0, 21: 0, 22: 0, 23: 4, 24: 4, 25: 1},
    ),
}


@pytest.mark.parametrize("case", sorted(TAGGED_CASES))
def test_tagged_prober_equals_per_modality_probers(spark, tmp_path, case):
    """The modality-tagged prober over one store decides every item, with
    the same n_index_hits, as the image, audio and video probers over
    their own stores fed each modality's slice of the same batches."""
    ph = _phash()
    batches, want = TAGGED_CASES[case]

    def sig_rows(batch, m):
        rows = []
        for mid, k, sig in batch:
            if k == m:
                frames = sig if m == 2 else [sig]
                rows += [(mid, m, f, s) for f, s in enumerate(frames)]
        return rows

    def sigs(batch, modalities=(0, 1, 2)):
        return spark.createDataFrame(
            [r for m in modalities for r in sig_rows(batch, m)],
            "media_id long, m int, frame_idx int, sig long",
        )

    tagged = ph.make_media_keeper_prober(spark, str(tmp_path / "tagged"))
    got = _run(tagged, [ph.media_key_frame(sigs(b)) for b in batches], "media_id")
    assert got == sorted(want.items())

    per_modality = [
        (
            ph.make_chunk_keeper_prober(spark, str(tmp_path / "image"), ph.PHASH_RADIUS),
            lambda b: chunk_key_frame(sigs(b, [0]), "sig", ph.PHASH_CHUNKS, 14),
        ),
        (
            ph.make_chunk_keeper_prober(spark, str(tmp_path / "audio"), ph.AFP_RADIUS),
            lambda b: chunk_key_frame(sigs(b, [1]), "sig", ph.AFP_CHUNKS, 12),
        ),
        (
            ph.make_video_keeper_prober(spark, str(tmp_path / "video")),
            lambda b: sigs(b, [2]).select("media_id", F.col("sig").alias("frame_sig")),
        ),
    ]
    separate = []
    for prober, keys in per_modality:
        separate += _run(prober, [keys(b) for b in batches], "media_id")
    assert got == sorted(separate)

    ledger, index = _store(
        spark, str(tmp_path / "tagged"), "media_id", ("m", "c", "chunk_val", "ref")
    )
    assert ledger == got
    assert len(index) == len(set(index)), "an index row was written twice"
    # only kept items' keys joined the index
    kept = {mid for mid, n in want.items() if n == 0}
    keys = ph.media_key_frame(sigs([r for b in batches for r in b]))
    kept_keys = keys.where(F.col("media_id").isin(*kept))
    assert index == _rows(
        kept_keys.select("m", "c", "chunk_val", F.col("entry").alias("ref")).distinct(),
        "m", "c", "chunk_val", "ref",
    )
