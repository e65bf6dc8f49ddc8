"""Cross-query invariants for the round-10 self-referential dedup family.

The oracle parity suite already pins each query's exact output; these pin
the RELATIONS between family members that the oracles cannot see — the
properties a user composing the pipeline relies on.
"""

from __future__ import annotations

import pytest

from spark_streaming_twitter_spark.registry import load_all

SF = "/root/testdata/sf0.001"


def _specs():
    return load_all()


def _has(name: str) -> bool:
    return name in _specs()


@pytest.mark.skipif(
    not _has("stream_text_minhash_self_dedup"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_tws_and_table_index_self_dedups_agree(spark):
    """The two architectures implement ONE semantics: identical
    (doc_id, ref_id, n_bands) sets, bit for bit."""
    specs = _specs()
    tws = {
        (r.doc_id, r.ref_id, r.n_bands)
        for r in specs["stream_text_minhash_self_dedup"].fn(spark, SF).collect()
    }
    idx = {
        (r.doc_id, r.ref_id, r.n_bands)
        for r in specs["stream_text_minhash_self_dedup_batchidx"]
        .fn(spark, SF)
        .collect()
    }
    assert tws == idx


def test_keeper_drops_subset_of_self_dedup_flagged(spark):
    """A doc the KEEPER drops hit the kept-docs index; the all-docs index
    of the plain self-dedup contains every kept doc's keys, so the same
    doc must surface there as a flagged (doc_id, ref) pair — quarantine
    can only SHRINK the flag set, never add to it."""
    specs = _specs()
    keeper = specs["stream_text_minhash_keeper_dedup"].fn(spark, SF).collect()
    dropped = {r.doc_id for r in keeper if not r.kept}
    flagged = {
        r.doc_id
        for r in specs["stream_text_minhash_self_dedup_batchidx"]
        .fn(spark, SF)
        .collect()
    }
    assert dropped <= flagged, sorted(dropped - flagged)


def test_keeper_ledger_covers_every_doc(spark):
    """The keeper emits one decision row per streamed document."""
    from spark_streaming_twitter_spark.catalog import table

    specs = _specs()
    ledger = specs["stream_text_minhash_keeper_dedup"].fn(spark, SF).collect()
    n_docs = table(spark, SF, "documents").count()
    assert len(ledger) == n_docs
    assert len({r.doc_id for r in ledger}) == n_docs


@pytest.mark.skipif(
    not _has("stream_text_minhash_ttl_dedup"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_ttl_flagged_docs_subset_of_unbounded_flags(spark):
    """A doc flagged within the horizon has an earlier same-key arrival,
    so the unbounded self-dedup must flag it too — the TTL can only
    SHRINK the flagged-doc set (refs differ by design: latest-arrival vs
    first-owner)."""
    specs = _specs()
    ttl_docs = {
        r.doc_id
        for r in specs["stream_text_minhash_ttl_dedup"].fn(spark, SF).collect()
    }
    unbounded_docs = {
        r.doc_id
        for r in specs["stream_text_minhash_self_dedup_batchidx"]
        .fn(spark, SF)
        .collect()
    }
    assert ttl_docs <= unbounded_docs, sorted(ttl_docs - unbounded_docs)


@pytest.mark.skipif(
    not _has("stream_media_phash_self_dedup"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_image_self_dedup_pairs_are_batch_verified_pairs(spark):
    """Every (ref, media) pair the streaming image self-dedup emits is a
    pair the batch chunk-LSH + Hamming-verify pipeline also surfaces
    (owner arrived first => owner id < media id, matching the batch
    min/max orientation) — state-at-ingest finds a SUBSET of the batch
    answer, never an unverified pair."""
    specs = _specs()
    stream_pairs = {
        (r.ref_id, r.media_id)
        for r in specs["stream_media_phash_self_dedup"].fn(spark, SF).collect()
    }
    batch_pairs = {
        (r.media_a, r.media_b)
        for r in specs["media_phash_dup_pairs"].fn(spark, SF).collect()
    }
    assert stream_pairs <= batch_pairs, sorted(stream_pairs - batch_pairs)


@pytest.mark.skipif(
    not _has("stream_text_minhash_self_dedup_unordered"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_unordered_self_dedup_equals_ordered_twin(spark):
    """Kafka-disorder tolerance: over a round-robin spool (arrival order
    disagrees with id order everywhere) the min-id-reconciled processor
    must emit the EXACT (doc_id, ref_id, n_bands) set the ordered twin
    emits over the id-range spool — first-occurrence-wins semantics are
    a property of the data, not the arrival order."""
    specs = _specs()
    unordered = {
        (r.doc_id, r.ref_id, r.n_bands)
        for r in specs["stream_text_minhash_self_dedup_unordered"]
        .fn(spark, SF)
        .collect()
    }
    ordered = {
        (r.doc_id, r.ref_id, r.n_bands)
        for r in specs["stream_text_minhash_self_dedup"].fn(spark, SF).collect()
    }
    assert unordered == ordered


@pytest.mark.skipif(
    not _has("stream_media_phash_ttl_dedup"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_media_ttl_pairs_are_batch_verified_pairs(spark):
    """Every (ref, media) pair the TTL image dedup flags shares a chunk
    bucket and passes the Hamming verify, so the batch chunk-LSH pair
    detector must surface it too — the horizon can only SHRINK the pair
    set (and re-attribute to the latest arrival, which is still a
    verified batch pair)."""
    specs = _specs()
    ttl_pairs = {
        (r.ref_id, r.media_id)
        for r in specs["stream_media_phash_ttl_dedup"].fn(spark, SF).collect()
    }
    batch_pairs = {
        (r.media_a, r.media_b)
        for r in specs["media_phash_dup_pairs"].fn(spark, SF).collect()
    }
    assert ttl_pairs <= batch_pairs, sorted(ttl_pairs - batch_pairs)


def test_media_keeper_drops_are_batch_flagged_media(spark):
    """An image the keeper drops hit a KEPT index entry (an earlier
    arrival) through a shared chunk bucket with the Hamming verify — so
    it must appear as the larger side of a batch-verified dup pair.
    Quarantine can only shrink the flag set, never invent one."""
    specs = _specs()
    keeper = specs["stream_media_phash_keeper_dedup"].fn(spark, SF).collect()
    dropped = {r.media_id for r in keeper if not r.kept}
    flagged = {
        r.media_b
        for r in specs["media_phash_dup_pairs"].fn(spark, SF).collect()
    }
    assert dropped <= flagged, sorted(dropped - flagged)


def test_media_keeper_ledger_covers_every_decoded_image(spark):
    """One decision row per decoded image in the stream."""
    from spark_streaming_twitter_spark.multimodal.phash import (
        perceptual_hashes,
        phash_media_table,
    )

    specs = _specs()
    ledger = specs["stream_media_phash_keeper_dedup"].fn(spark, SF).collect()
    n_imgs = perceptual_hashes(phash_media_table(spark, SF)).count()
    assert len(ledger) == n_imgs
    assert len({r.media_id for r in ledger}) == n_imgs


def test_caption_drops_match_keeper_drops(spark):
    """The propagated caption flags are EXACTLY the keeper's dropped
    images (identity linkage), with the verified hit count in tow."""
    specs = _specs()
    keeper = {
        r.media_id: r.n_index_hits
        for r in specs["stream_media_phash_keeper_dedup"].fn(spark, SF).collect()
        if not r.kept
    }
    caps = {
        r.doc_id: r.n_index_hits
        for r in specs["stream_caption_drop_propagation"].fn(spark, SF).collect()
    }
    assert caps == keeper


@pytest.mark.skipif(
    not _has("stream_media_audio_ttl_dedup"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_audio_ttl_pairs_are_batch_verified_pairs(spark):
    """Audio TTL flags share a fingerprint chunk and pass the Hamming
    verify, so the batch audio pair detector must surface them too."""
    specs = _specs()
    ttl_pairs = {
        (r.ref_id, r.media_id)
        for r in specs["stream_media_audio_ttl_dedup"].fn(spark, SF).collect()
    }
    batch_pairs = {
        (r.media_a, r.media_b)
        for r in specs["media_audio_dup_pairs"].fn(spark, SF).collect()
    }
    assert ttl_pairs <= batch_pairs, sorted(ttl_pairs - batch_pairs)


@pytest.mark.skipif(
    not _has("stream_media_video_ttl_dedup"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_video_ttl_pairs_are_batch_verified_pairs(spark):
    """Video TTL pairs share >= 8 distinct frames (each frame's latest
    earlier holder is the ref), so the batch video pair detector must
    surface them as (ref, media) too."""
    specs = _specs()
    ttl_pairs = {
        (r.ref_id, r.media_id)
        for r in specs["stream_media_video_ttl_dedup"].fn(spark, SF).collect()
    }
    batch_pairs = {
        (r.media_a, r.media_b)
        for r in specs["media_video_dup_pairs"].fn(spark, SF).collect()
    }
    assert ttl_pairs <= batch_pairs, sorted(ttl_pairs - batch_pairs)


def test_audio_keeper_drops_are_batch_flagged_media(spark):
    """Keeper quarantine can only shrink the audio flag set."""
    specs = _specs()
    keeper = specs["stream_media_audio_keeper_dedup"].fn(spark, SF).collect()
    dropped = {r.media_id for r in keeper if not r.kept}
    flagged = {
        r.media_b
        for r in specs["media_audio_dup_pairs"].fn(spark, SF).collect()
    }
    assert dropped <= flagged, sorted(dropped - flagged)


def test_video_keeper_drops_are_batch_flagged_media(spark):
    """Keeper quarantine can only shrink the video flag set."""
    specs = _specs()
    keeper = specs["stream_media_video_keeper_dedup"].fn(spark, SF).collect()
    dropped = {r.media_id for r in keeper if not r.kept}
    flagged = {
        r.media_b
        for r in specs["media_video_dup_pairs"].fn(spark, SF).collect()
    }
    assert dropped <= flagged, sorted(dropped - flagged)


@pytest.mark.skipif(
    not _has("stream_media_phash_self_dedup_unordered"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_unordered_image_self_dedup_equals_ordered_twin(spark):
    """Disorder tolerance for the media column: the min-id-reconciled
    processor over a round-robin spool emits the exact verified pair set
    the ordered twin emits over the id-range spool."""
    specs = _specs()
    unordered = {
        (r.media_id, r.ref_id, r.hamming)
        for r in specs["stream_media_phash_self_dedup_unordered"]
        .fn(spark, SF)
        .collect()
    }
    ordered = {
        (r.media_id, r.ref_id, r.hamming)
        for r in specs["stream_media_phash_self_dedup"].fn(spark, SF).collect()
    }
    assert unordered == ordered


@pytest.mark.skipif(
    not _has("stream_media_audio_self_dedup_unordered"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_unordered_audio_self_dedup_equals_ordered_twin(spark):
    specs = _specs()
    unordered = {
        (r.media_id, r.ref_id, r.hamming)
        for r in specs["stream_media_audio_self_dedup_unordered"]
        .fn(spark, SF)
        .collect()
    }
    ordered = {
        (r.media_id, r.ref_id, r.hamming)
        for r in specs["stream_media_audio_self_dedup"].fn(spark, SF).collect()
    }
    assert unordered == ordered


@pytest.mark.skipif(
    not _has("stream_media_video_self_dedup_unordered"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_unordered_video_self_dedup_equals_ordered_twin(spark):
    specs = _specs()
    unordered = {
        (r.media_id, r.ref_id, r.n_shared)
        for r in specs["stream_media_video_self_dedup_unordered"]
        .fn(spark, SF)
        .collect()
    }
    ordered = {
        (r.media_id, r.ref_id, r.n_shared)
        for r in specs["stream_media_video_self_dedup"].fn(spark, SF).collect()
    }
    assert unordered == ordered


def test_unordered_keeper_ledger_covers_every_doc(spark):
    """Disorder keeper still emits exactly one decision row per doc, and
    batch-0 docs (ids ≡ 0 mod 4) are all kept (empty index)."""
    from spark_streaming_twitter_spark.catalog import table

    specs = _specs()
    ledger = specs["stream_text_minhash_keeper_dedup_unordered"].fn(
        spark, SF
    ).collect()
    n_docs = table(spark, SF, "documents").count()
    assert len(ledger) == n_docs
    assert all(r.kept for r in ledger if r.doc_id % 4 == 0)


@pytest.mark.skipif(
    not _has("stream_text_minhash_ttl_dedup_unordered"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_unordered_ttl_dedup_equals_ordered_twin(spark):
    """TTL semantics are order-free on the event-time axis: the sorted-
    window processor over a round-robin spool must emit the exact
    (doc_id, ref_id, n_bands) set the ordered twin emits."""
    specs = _specs()
    unordered = {
        (r.doc_id, r.ref_id, r.n_bands)
        for r in specs["stream_text_minhash_ttl_dedup_unordered"]
        .fn(spark, SF)
        .collect()
    }
    ordered = {
        (r.doc_id, r.ref_id, r.n_bands)
        for r in specs["stream_text_minhash_ttl_dedup"].fn(spark, SF).collect()
    }
    assert unordered == ordered


def test_stream_packer_equals_batch_packer(spark):
    """Incremental offset assignment (one carried scalar) reproduces the
    batch concat-and-slice layout bitwise."""
    specs = _specs()
    stream = {
        tuple(r)
        for r in specs["stream_pack_training_sequences"].fn(spark, SF).collect()
    }
    batch = {
        tuple(r)
        for r in specs["pack_training_sequences"].fn(spark, SF).collect()
    }
    assert stream == batch


@pytest.mark.skipif(
    not _has("stream_text_minhash_ttl_dedup_bounded_disorder"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_bounded_disorder_ttl_dedup_equals_ordered_twin(spark):
    """The watermark-SWEPT sorted-window processor over a block-reversed
    spool (bounded disorder D) must emit the exact ordered-twin set:
    sweep timing provably cannot change output, and the bounded-delay
    contract means no row is watermark-dropped."""
    specs = _specs()
    bounded = {
        (r.doc_id, r.ref_id, r.n_bands)
        for r in specs["stream_text_minhash_ttl_dedup_bounded_disorder"]
        .fn(spark, SF)
        .collect()
    }
    ordered = {
        (r.doc_id, r.ref_id, r.n_bands)
        for r in specs["stream_text_minhash_ttl_dedup"].fn(spark, SF).collect()
    }
    assert bounded == ordered


@pytest.mark.skipif(
    not _has("stream_media_phash_ttl_dedup_unordered"),
    reason="protobuf-gated tws queries unavailable on this host",
)
@pytest.mark.parametrize(
    "unordered_name,ordered_name",
    [
        ("stream_media_phash_ttl_dedup_unordered", "stream_media_phash_ttl_dedup"),
        ("stream_media_audio_ttl_dedup_unordered", "stream_media_audio_ttl_dedup"),
    ],
)
def test_unordered_media_ttl_dedup_equals_ordered_twin(
    spark, unordered_name, ordered_name
):
    """Media TTL semantics are order-free: the sorted (id, sig) window
    over a round-robin spool, with the Hamming verify moved to the
    reconciled read-back, must emit the ordered twin's exact
    (media_id, ref_id, hamming) set."""
    specs = _specs()
    unordered = {
        (r.media_id, r.ref_id, r.hamming)
        for r in specs[unordered_name].fn(spark, SF).collect()
    }
    ordered = {
        (r.media_id, r.ref_id, r.hamming)
        for r in specs[ordered_name].fn(spark, SF).collect()
    }
    assert unordered == ordered


@pytest.mark.skipif(
    not _has("stream_media_video_ttl_dedup_unordered"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_unordered_video_ttl_dedup_equals_ordered_twin(spark):
    """Frame-signature TTL under disorder: max-ref reconciliation per
    (signature, clip) then the shared-frames threshold must reproduce
    the ordered twin's (media_id, ref_id, n_shared) set."""
    specs = _specs()
    unordered = {
        (r.media_id, r.ref_id, r.n_shared)
        for r in specs["stream_media_video_ttl_dedup_unordered"]
        .fn(spark, SF)
        .collect()
    }
    ordered = {
        (r.media_id, r.ref_id, r.n_shared)
        for r in specs["stream_media_video_ttl_dedup"].fn(spark, SF).collect()
    }
    assert unordered == ordered


def test_unordered_media_keeper_ledgers_cover_every_item(spark):
    """Disorder keepers (image/audio/video) still emit exactly one
    decision row per item, and batch-0 items (ids ≡ 0 mod 4) are all
    kept (they probe an empty index)."""
    from spark_streaming_twitter_spark.multimodal.phash import (
        fp_audio_table,
        fp_video_table,
        phash_media_table,
    )

    specs = _specs()
    for qname, src_fn in [
        ("stream_media_phash_keeper_dedup_unordered", phash_media_table),
        ("stream_media_audio_keeper_dedup_unordered", fp_audio_table),
        ("stream_media_video_keeper_dedup_unordered", fp_video_table),
    ]:
        ledger = specs[qname].fn(spark, SF).collect()
        n_items = src_fn(spark, SF).count()
        assert len(ledger) == n_items, qname
        assert all(r.kept for r in ledger if r.media_id % 4 == 0), qname


def test_ranged_packer_tiles_offset_space(spark):
    """Multi-writer packing invariant: per-partition layouts tile the
    global offset space with no gaps or overlaps — each part starts at
    its handed-out range start, ends exactly where the next part
    begins, and the whole layout equals the single-writer packer's."""
    specs = _specs()
    rows = specs["pack_training_sequences_ranged"].fn(spark, SF).collect()
    by_part: dict[int, list] = {}
    for r in rows:
        by_part.setdefault(r.part, []).append(r)
    parts = sorted(by_part)
    expected_start = 0
    for p in parts:
        prows = by_part[p]
        range_start = {r.part_range_start for r in prows}
        assert range_start == {expected_start}, (p, range_start)
        assert min(r.start_offset for r in prows) == expected_start
        # within-part layout is itself gap-free: offsets sorted by doc_id
        # chain exactly
        off = expected_start
        for r in sorted(prows, key=lambda r: r.doc_id):
            assert r.start_offset == off, (p, r.doc_id)
            off += r.n_tokens
        expected_start = off
    plain = {
        (r.doc_id, r.n_tokens, r.start_offset, r.first_seq, r.last_seq)
        for r in specs["pack_training_sequences"].fn(spark, SF).collect()
    }
    ranged = {
        (r.doc_id, r.n_tokens, r.start_offset, r.first_seq, r.last_seq)
        for r in rows
    }
    assert ranged == plain


@pytest.mark.skipif(
    not _has("stream_media_phash_ttl_dedup_bounded_disorder"),
    reason="protobuf-gated tws queries unavailable on this host",
)
@pytest.mark.parametrize(
    "bounded_name,ordered_name",
    [
        (
            "stream_media_phash_ttl_dedup_bounded_disorder",
            "stream_media_phash_ttl_dedup",
        ),
        (
            "stream_media_audio_ttl_dedup_bounded_disorder",
            "stream_media_audio_ttl_dedup",
        ),
    ],
)
def test_bounded_disorder_media_ttl_equals_ordered_twin(
    spark, bounded_name, ordered_name
):
    """The watermark-swept media sorted-window TTL under a
    block-reversed spool must emit the ordered twin's exact
    (media_id, ref_id, hamming) set — sweep timing provably cannot
    change output and bounded delay means no watermark drops."""
    specs = _specs()
    bounded = {
        (r.media_id, r.ref_id, r.hamming)
        for r in specs[bounded_name].fn(spark, SF).collect()
    }
    ordered = {
        (r.media_id, r.ref_id, r.hamming)
        for r in specs[ordered_name].fn(spark, SF).collect()
    }
    assert bounded == ordered


@pytest.mark.skipif(
    not _has("stream_media_video_ttl_dedup_bounded_disorder"),
    reason="protobuf-gated tws queries unavailable on this host",
)
def test_bounded_disorder_video_ttl_equals_ordered_twin(spark):
    specs = _specs()
    bounded = {
        (r.media_id, r.ref_id, r.n_shared)
        for r in specs["stream_media_video_ttl_dedup_bounded_disorder"]
        .fn(spark, SF)
        .collect()
    }
    ordered = {
        (r.media_id, r.ref_id, r.n_shared)
        for r in specs["stream_media_video_ttl_dedup"].fn(spark, SF).collect()
    }
    assert bounded == ordered


def test_disorder_capstone_order_free_stages_match_ordered(spark):
    """In the disorder ingest capstone, quality and contamination are
    per-row (order-FREE) so they must equal the ordered capstone's
    flags doc for doc; the dup flags and the packed layout are
    arrival-DEFINED and covered by the oracle instead. Also: exactly
    the kept docs carry pack columns, and kept offsets tile with no
    gaps in (epoch, doc_id) arrival order."""
    specs = _specs()
    unord = specs["stream_corpus_ingest_pipeline_unordered"].fn(
        spark, SF
    ).collect()
    ordered = {
        r.doc_id: (r.quality, r.is_contaminated)
        for r in specs["stream_corpus_ingest_pipeline"].fn(spark, SF).collect()
    }
    assert {r.doc_id: (r.quality, r.is_contaminated) for r in unord} == ordered
    kept = [r for r in unord if r.keep]
    dropped = [r for r in unord if not r.keep]
    assert all(r.start_offset == -1 and r.n_tokens == -1 for r in dropped)
    off = 0
    for r in sorted(kept, key=lambda r: (r.doc_id % 4, r.doc_id)):
        assert r.start_offset == off, r.doc_id
        off += r.n_tokens


@pytest.mark.parametrize("order", ["ordered", "roundrobin"])
@pytest.mark.parametrize("layout", ["single", "ranged"])
def test_pack_batch_ledger_seeded_carry_equals_uninterrupted_run(
    spark, tmp_path, layout, order
):
    """A packer run seeds its (offset, batch) carry from the ledger it
    appends to, so stopping after k triggers and starting a fresh carry
    from the ledger must land exactly the uninterrupted run's ledger —
    with no stream, for both layouts and both arrival orders. k = 0
    seeds from a ledger that does not exist yet. The ids span 20 shards
    and 5 writer parts, so both cumsum stages and the range handoff see
    more than one key group."""
    from pyspark.sql import functions as F

    from spark_streaming_twitter_spark.text.corpus import (
        PACK_MAX_PARTS,
        PACK_PART_MIN,
        RANGED,
        SEQ_LEN,
        SINGLE,
        _ledger_carry,
        _pack_batch,
        _text_tokens,
    )

    ids = [i * 737 for i in range(28)]
    n_tok = [(i * 97) % 401 for i in range(28)]  # doc 0 has no tokens
    docs = spark.createDataFrame(
        [(d, " ".join(["w"] * n)) for d, n in zip(ids, n_tok)],
        "doc_id long, text string",
    )
    batch_of = [i // 7 if order == "ordered" else i % 4 for i in range(28)]
    batches = [
        docs.where(
            F.col("doc_id").isin([d for d, b in zip(ids, batch_of) if b == k])
        )
        for k in range(4)
    ]
    keys = SINGLE if layout == "single" else RANGED
    hi = max(ids) if keys == SINGLE else None

    # the uninterrupted layout: arrival order is (batch, doc_id); a
    # ranged batch cuts its ids into parts by the batch's own max id
    expected, carries, off = [], [{"offset": 0, "batch": 0}], 0
    for k in range(4):
        mine = sorted((d, n) for d, n, b in zip(ids, n_tok, batch_of) if b == k)
        span = max(PACK_PART_MIN, max(d for d, _ in mine) // PACK_MAX_PARTS + 1)
        starts: dict = {}
        for d, n in mine:
            row = (d, n, off, off // SEQ_LEN, (off + max(n - 1, 0)) // SEQ_LEN, k)
            if keys == RANGED:
                row += (d // span, starts.setdefault(d // span, off))
            expected.append(row)
            off += n
        carries.append({"offset": off, "batch": k + 1})
    assert len({r[3] for r in expected}) > 1  # several training sequences
    if keys == RANGED:
        assert len({(r[5], r[6]) for r in expected}) > 4  # several ranges

    cols = ["doc_id", "n_tokens", "start_offset", "first_seq", "last_seq"]
    cols += ["batch"] + (["part", "part_range_start"] if keys == RANGED else [])
    for k in (0, 2, 4):
        ledger = str(tmp_path / f"ledger_{k}")
        for lo, up in ((0, k), (k, 4)):
            carry = _ledger_carry(spark, ledger)
            assert carry == carries[lo], (k, lo)
            pack = _pack_batch(ledger, carry, keys, _text_tokens(), hi)
            for b in range(lo, up):
                pack(batches[b], b)
            assert carry == carries[up], (k, up)
        got = sorted(
            tuple(r) for r in spark.read.parquet(ledger).select(*cols).collect()
        )
        assert got == sorted(expected), k


def test_stream_ranged_packer_equals_batch_packer_and_tiles(spark):
    """The at-ingest multi-writer packer reproduces the batch layout
    bitwise on the shared columns, AND both handoffs tile: each
    (batch, part) range starts where the previous ends, and within a
    range offsets chain doc by doc with no gaps."""
    specs = _specs()
    rows = specs["stream_pack_training_sequences_ranged"].fn(
        spark, SF
    ).collect()
    batch = {
        (r.doc_id, r.n_tokens, r.start_offset, r.first_seq, r.last_seq)
        for r in specs["pack_training_sequences"].fn(spark, SF).collect()
    }
    assert {
        (r.doc_id, r.n_tokens, r.start_offset, r.first_seq, r.last_seq)
        for r in rows
    } == batch
    by_range: dict[tuple, list] = {}
    for r in rows:
        by_range.setdefault((r.batch, r.part), []).append(r)
    expected_start = 0
    for key in sorted(by_range):
        prows = by_range[key]
        assert {r.part_range_start for r in prows} == {expected_start}, key
        off = expected_start
        for r in sorted(prows, key=lambda r: r.doc_id):
            assert r.start_offset == off, (key, r.doc_id)
            off += r.n_tokens
        expected_start = off


def test_unordered_packer_layout_is_arrival_defined_and_gap_free(spark):
    """Under round-robin disorder the packer's layout is arrival order
    (epoch, then id within the trigger): offsets chain gap-free in that
    order, tile [0, total), and the doc->token-count map is exactly the
    ordered packer's (same corpus, different concatenation order)."""
    specs = _specs()
    rows = specs["stream_pack_training_sequences_unordered"].fn(
        spark, SF
    ).collect()
    assert all(r.arrival_epoch == r.doc_id % 4 for r in rows)
    off = 0
    for r in sorted(rows, key=lambda r: (r.arrival_epoch, r.doc_id)):
        assert r.start_offset == off, r.doc_id
        off += r.n_tokens
    ordered = {
        r.doc_id: r.n_tokens
        for r in specs["pack_training_sequences"].fn(spark, SF).collect()
    }
    assert {r.doc_id: r.n_tokens for r in rows} == ordered
    assert off == sum(ordered.values())


def test_attention_spans_tile_each_sequence_exactly(spark):
    """Per sequence, the doc spans must tile [0, n_tokens_filled) with no
    gaps or overlaps — the property a block-diagonal attention mask
    builder relies on — and agree with the manifest's doc counts."""
    specs = _specs()
    spans = specs["training_attention_spans"].fn(spark, SF).collect()
    manifest = {
        r.seq_id: (r.n_docs, r.n_tokens_filled)
        for r in specs["training_sequence_manifest"].fn(spark, SF).collect()
    }
    by_seq: dict[int, list] = {}
    for s in spans:
        assert 0 <= s.begin_tok < s.end_tok <= 2048, s
        assert s.n_span_tokens == s.end_tok - s.begin_tok
        by_seq.setdefault(s.seq_id, []).append(s)
    assert set(by_seq) == set(manifest)
    for seq_id, ss in by_seq.items():
        n_docs, filled = manifest[seq_id]
        assert len(ss) == n_docs, seq_id
        ss.sort(key=lambda s: s.begin_tok)
        pos = 0
        for s in ss:
            assert s.begin_tok == pos, (seq_id, s.doc_id)
            pos = s.end_tok
        assert pos == filled, seq_id


def test_epoch_shuffle_partitions_and_reorders(spark):
    """Each epoch's readers partition the sequence universe exactly once;
    positions are contiguous 1..count per reader; and the two epochs
    produce genuinely different orders (hash keys differ per epoch)."""
    specs = _specs()
    rows = specs["training_epoch_shuffle"].fn(spark, SF).collect()
    manifest_seqs = {
        r.seq_id
        for r in specs["training_sequence_manifest"].fn(spark, SF).collect()
    }
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1}
    orders = {}
    for epoch, ers in by_epoch.items():
        assert {r.seq_id for r in ers} == manifest_seqs
        assert len(ers) == len(manifest_seqs)  # no seq twice per epoch
        by_reader: dict[int, list] = {}
        for r in ers:
            assert r.reader == r.order_key % 4
            by_reader.setdefault(r.reader, []).append(r)
        for reader, rr in by_reader.items():
            rr.sort(key=lambda r: r.position)
            assert [r.position for r in rr] == list(range(1, len(rr) + 1))
            assert [r.order_key for r in rr] == sorted(
                r.order_key for r in rr
            )
        orders[epoch] = tuple(
            r.seq_id
            for r in sorted(ers, key=lambda r: (r.reader, r.position))
        )
    assert orders[0] != orders[1]


def test_attention_spans_apply_to_the_unordered_ledger(spark):
    """The unordered packer's docstring claims the attention-span
    derivation applies unchanged to its arrival-defined ledger: derive
    spans from that layout and check they tile every sequence of the
    unordered token stream exactly (same property the ordered spans
    satisfy, different layout)."""
    from spark_streaming_twitter_spark.text.corpus import (
        attention_spans_from_layout,
    )

    specs = _specs()
    layout = specs["stream_pack_training_sequences_unordered"].fn(spark, SF)
    rows = layout.collect()
    total = sum(r.n_tokens for r in rows)
    spans = attention_spans_from_layout(
        layout.sparkSession.createDataFrame(rows, layout.schema)
    ).collect()
    by_seq: dict[int, list] = {}
    for s in spans:
        by_seq.setdefault(s.seq_id, []).append(s)
    n_seqs = (total + 2047) // 2048
    assert set(by_seq) == set(range(n_seqs))
    for seq_id, ss in by_seq.items():
        ss.sort(key=lambda s: s.begin_tok)
        pos = 0
        for s in ss:
            assert s.begin_tok == pos, (seq_id, s.doc_id)
            pos = s.end_tok
        expected = min(2048, total - seq_id * 2048)
        assert pos == expected, seq_id


def test_erasure_pair_accounts_for_every_dropped_token(spark):
    """The re-pack delta and the tombstone masks are two answers to one
    opt-out: the delta's dropped-token total must equal the masks'
    tombstoned-token total, and its invalidated-sequence count must
    equal the number of mask rows."""
    specs = _specs()
    delta = specs["source_optout_repack_delta"].fn(spark, SF).collect()[0]
    masks = specs["source_optout_tombstone_masks"].fn(spark, SF).collect()
    assert delta.n_tokens_dropped == sum(m.n_tombstoned_tokens for m in masks)
    assert delta.n_seqs_invalidated == len(masks)


def test_ranged_unordered_packer_matches_single_writer_and_tiles(spark):
    """The multi-writer disordered packer's layout equals the
    single-writer disordered packer's bitwise on the shared columns, and
    its (batch, part) ranges tile the offset space in arrival order."""
    specs = _specs()
    rows = specs["stream_pack_training_sequences_ranged_unordered"].fn(
        spark, SF
    ).collect()
    single = {
        (r.doc_id, r.n_tokens, r.start_offset, r.first_seq, r.last_seq)
        for r in specs["stream_pack_training_sequences_unordered"]
        .fn(spark, SF)
        .collect()
    }
    assert {
        (r.doc_id, r.n_tokens, r.start_offset, r.first_seq, r.last_seq)
        for r in rows
    } == single
    by_range: dict[tuple, list] = {}
    for r in rows:
        assert r.batch == r.doc_id % 4
        by_range.setdefault((r.batch, r.part), []).append(r)
    expected_start = 0
    for key in sorted(by_range):
        prows = by_range[key]
        assert {r.part_range_start for r in prows} == {expected_start}, key
        off = expected_start
        for r in sorted(prows, key=lambda r: r.doc_id):
            assert r.start_offset == off, (key, r.doc_id)
            off += r.n_tokens
        expected_start = off


def test_attention_spans_apply_to_the_multimodal_layout(spark):
    """The multimodal packer's docstring claims the span derivation
    applies unchanged to its combined-token layout: spans must tile
    every sequence of the multimodal token stream exactly."""
    from spark_streaming_twitter_spark.text.corpus import (
        attention_spans_from_layout,
    )

    specs = _specs()
    layout = specs["pack_multimodal_sequences"].fn(spark, SF)
    total = layout.agg({"n_tokens": "sum"}).collect()[0][0]
    spans = attention_spans_from_layout(layout).collect()
    by_seq: dict[int, list] = {}
    for s in spans:
        by_seq.setdefault(s.seq_id, []).append(s)
    assert set(by_seq) == set(range((total + 2047) // 2048))
    for seq_id, ss in by_seq.items():
        ss.sort(key=lambda s: s.begin_tok)
        pos = 0
        for s in ss:
            assert s.begin_tok == pos, (seq_id, s.doc_id)
            pos = s.end_tok
        assert pos == min(2048, total - seq_id * 2048), seq_id


def test_multimodal_flagship_packs_exactly_the_keeper_survivors(spark):
    """The flagship capstone's layout must cover exactly the documents
    every modality's keeper kept, and its offsets must tile [0, total)
    in id order (ordered spool)."""
    from spark_streaming_twitter_spark.multimodal.phash import (
        stream_media_audio_keeper_dedup,
        stream_media_phash_keeper_dedup,
        stream_media_video_keeper_dedup,
    )

    specs = _specs()
    rows = specs["stream_multimodal_ingest_to_training"].fn(
        spark, SF
    ).collect()
    kept = set()
    for fn in (
        stream_media_phash_keeper_dedup,
        stream_media_audio_keeper_dedup,
        stream_media_video_keeper_dedup,
    ):
        kept |= {r.media_id for r in fn(spark, SF).collect() if r.kept}
    assert {r.doc_id for r in rows} == kept
    off = 0
    for r in sorted(rows, key=lambda r: r.doc_id):
        assert r.start_offset == off, r.doc_id
        off += r.n_tokens


def test_unordered_flagship_packs_exactly_the_unordered_survivors(spark):
    """The disordered flagship's layout must cover exactly the docs the
    DISORDER-TOLERANT keepers kept, and tile [0, total) in arrival
    order (epoch, then id)."""
    from spark_streaming_twitter_spark.multimodal.phash import (
        stream_media_audio_keeper_dedup_unordered,
        stream_media_phash_keeper_dedup_unordered,
        stream_media_video_keeper_dedup_unordered,
    )

    specs = _specs()
    rows = specs["stream_multimodal_ingest_to_training_unordered"].fn(
        spark, SF
    ).collect()
    kept = set()
    for fn in (
        stream_media_phash_keeper_dedup_unordered,
        stream_media_audio_keeper_dedup_unordered,
        stream_media_video_keeper_dedup_unordered,
    ):
        kept |= {r.media_id for r in fn(spark, SF).collect() if r.kept}
    assert {r.doc_id for r in rows} == kept
    off = 0
    for r in sorted(rows, key=lambda r: (r.doc_id % 4, r.doc_id)):
        assert r.start_offset == off, r.doc_id
        off += r.n_tokens


def test_run_order_resume_equals_uninterrupted_suffix(spark):
    """Resume-from-step (r12 verdict ask #2): recomputing reader R's
    order from checkpoint p — keys re-projected, filtered to one
    reader BEFORE ranking, re-ranked — must equal the uninterrupted
    run order's suffix row-for-row, and the checkpoint must actually
    split the stream (non-empty prefix AND suffix)."""
    from spark_streaming_twitter_spark.text.corpus import (
        RESUME_EPOCH,
        RESUME_READER,
        training_run_order,
        training_run_order_resumed,
    )

    sf = "/root/testdata/sf0.01"
    full = {
        r["position"]: (r["seq_id"], r["n_docs"], r["n_tokens_filled"])
        for r in training_run_order(spark, sf).collect()
        if r["epoch"] == RESUME_EPOCH and r["reader"] == RESUME_READER
    }
    p = len(full) // 2
    assert p >= 1, "fixture too small: empty prefix proves nothing"
    resumed = {
        r["position"]: (r["seq_id"], r["n_docs"], r["n_tokens_filled"])
        for r in training_run_order_resumed(spark, sf).collect()
    }
    assert resumed, "empty suffix proves nothing"
    expected = {pos: v for pos, v in full.items() if pos > p}
    assert resumed == expected


def test_persisted_flagship_is_parquet_backed_no_collect(spark):
    """The production read-back twin (r12 verdict ask #4) must return
    the kept ledger ITSELF: a parquet FileScan of the kept location,
    bitwise-equal rows to the harness-lifecycle flagship."""
    from spark_streaming_twitter_spark.text.corpus import (
        stream_multimodal_ingest_to_training,
        stream_multimodal_ingest_to_training_persisted,
    )

    sf = "/root/testdata/sf0.001"
    pers = stream_multimodal_ingest_to_training_persisted(spark, sf)
    plan = pers._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan, plan
    assert "flagship_ledger" in plan, plan
    got = sorted(map(tuple, pers.collect()))
    want = sorted(
        map(tuple, stream_multimodal_ingest_to_training(spark, sf).collect())
    )
    assert got == want


def test_persisted_twins_parquet_backed_and_bitwise_equal(spark):
    """r13 verdict #4: the unordered and fused flagships' persisted
    twins return the parquet-backed kept ledger (FileScan of the
    per-user kept location, no collect in the lifecycle) with rows
    bitwise-equal to their harness-lifecycle variants."""
    from spark_streaming_twitter_spark.text.corpus import (
        stream_multimodal_ingest_to_training_fused,
        stream_multimodal_ingest_to_training_fused_persisted,
        stream_multimodal_ingest_to_training_unordered,
        stream_multimodal_ingest_to_training_unordered_persisted,
    )

    sf = "/root/testdata/sf0.001"
    for pers_fn, base_fn, marker in (
        (
            stream_multimodal_ingest_to_training_unordered_persisted,
            stream_multimodal_ingest_to_training_unordered,
            "flagship_unordered_ledger",
        ),
        (
            stream_multimodal_ingest_to_training_fused_persisted,
            stream_multimodal_ingest_to_training_fused,
            "flagship_fused_ledger",
        ),
    ):
        pers = pers_fn(spark, sf)
        plan = pers._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" in plan, plan
        assert marker in plan, plan
        got = sorted(map(tuple, pers.collect()))
        want = sorted(map(tuple, base_fn(spark, sf).collect()))
        assert got == want, marker


def test_packer_and_keeper_persisted_twins_parquet_backed(spark):
    """r14 verdict #4: the persisted read-back shape extended beyond the
    flagship — the streaming text packer and one keeper per modality
    (text/image/audio/video) each return the parquet-backed kept ledger
    (FileScan of the per-user kept location) with rows bitwise-equal to
    their harness-lifecycle variants."""
    from spark_streaming_twitter_spark.dedup.dedup import (
        stream_text_minhash_keeper_dedup,
        stream_text_minhash_keeper_dedup_persisted,
    )
    from spark_streaming_twitter_spark.multimodal.phash import (
        stream_media_audio_keeper_dedup,
        stream_media_audio_keeper_dedup_persisted,
        stream_media_phash_keeper_dedup,
        stream_media_phash_keeper_dedup_persisted,
        stream_media_video_keeper_dedup,
        stream_media_video_keeper_dedup_persisted,
    )
    from spark_streaming_twitter_spark.text.corpus import (
        stream_pack_multimodal_sequences,
        stream_pack_multimodal_sequences_persisted,
        stream_pack_training_sequences,
        stream_pack_training_sequences_persisted,
        stream_pack_training_sequences_ranged,
        stream_pack_training_sequences_ranged_persisted,
    )

    sf = "/root/testdata/sf0.001"
    for pers_fn, base_fn, marker in (
        (
            stream_pack_training_sequences_persisted,
            stream_pack_training_sequences,
            "pack_training_ledger",
        ),
        (
            stream_pack_multimodal_sequences_persisted,
            stream_pack_multimodal_sequences,
            "pack_mm_ledger",
        ),
        (
            stream_pack_training_sequences_ranged_persisted,
            stream_pack_training_sequences_ranged,
            "pack_ranged_ledger",
        ),
        (
            stream_text_minhash_keeper_dedup_persisted,
            stream_text_minhash_keeper_dedup,
            "text_keeper_ledger",
        ),
        (
            stream_media_phash_keeper_dedup_persisted,
            stream_media_phash_keeper_dedup,
            "phash_keeper_ledger",
        ),
        (
            stream_media_audio_keeper_dedup_persisted,
            stream_media_audio_keeper_dedup,
            "audio_keeper_ledger",
        ),
        (
            stream_media_video_keeper_dedup_persisted,
            stream_media_video_keeper_dedup,
            "video_keeper_ledger",
        ),
    ):
        pers = pers_fn(spark, sf)
        plan = pers._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" in plan, plan
        assert marker in plan, plan
        got = sorted(map(tuple, pers.collect()))
        want = sorted(map(tuple, base_fn(spark, sf).collect()))
        assert got == want, marker


def test_kept_ledger_dir_is_namespaced_and_ownership_verified(tmp_path):
    """ADVICE r13: the persisted flagship's kept location is per-user
    (concurrent users can't corrupt each other's ledger) and refuses a
    pre-planted symlink or non-directory instead of rmtree-ing through
    it."""
    import os

    import pytest

    from spark_streaming_twitter_spark.text.corpus import _kept_ledger_dir

    os.environ["SPARK_GRAFT_LEDGER_BASE"] = str(tmp_path)
    try:
        d = _kept_ledger_dir("some_ledger")
        assert str(tmp_path) in d and str(os.getuid()) in d
        # same name, same user -> same stable location (read-back works)
        assert _kept_ledger_dir("some_ledger") == d
        # a planted symlink at the ledger path is rejected, not followed
        target = tmp_path / "victim"
        target.mkdir()
        os.symlink(target, d)
        with pytest.raises(RuntimeError, match="refusing"):
            _kept_ledger_dir("some_ledger")
        os.unlink(d)
        # a plain file squatting on the path is rejected too
        with open(d, "w") as fh:
            fh.write("squat")
        with pytest.raises(RuntimeError, match="refusing"):
            _kept_ledger_dir("some_ledger")
    finally:
        del os.environ["SPARK_GRAFT_LEDGER_BASE"]


def test_run_order_recovery_is_total_on_empty_ledgers(spark, tmp_path):
    """ADVICE r13: reading a ledger that never materialized (zero docs
    packed before the crash) must resume from 0 / yield an empty run
    order — never raise AnalysisException."""
    from spark_streaming_twitter_spark.text.corpus import (
        _ledger_or_none,
        _run_order_from_ledgers,
    )

    missing = str(tmp_path / "never_written")
    assert _ledger_or_none(spark, missing) is None
    # dir exists but holds no data files (empty micro-batch write shape)
    empty = tmp_path / "only_success"
    empty.mkdir()
    (empty / "_SUCCESS").touch()
    assert _ledger_or_none(spark, str(empty)) is None
    out = _run_order_from_ledgers(spark, missing, str(empty))
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "epoch",
        "reader",
        "position",
        "seq_id",
        "n_docs",
        "first_doc",
        "last_doc",
        "n_tokens_filled",
    ]


def test_stream_run_order_equals_batch_chain(spark):
    """The streaming run order (per-trigger sequence discovery + hash
    assignment, epoch-start rank) must reproduce the batch chain
    bitwise on the ordered spool — and each seq must be assigned
    exactly once (no duplicate (epoch, seq_id) rows)."""
    from spark_streaming_twitter_spark.text.corpus import (
        stream_training_run_order,
        training_run_order,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, stream_training_run_order(spark, sf).collect()))
    want = sorted(map(tuple, training_run_order(spark, sf).collect()))
    assert got == want
    keys = [(r[0], r[3]) for r in got]  # (epoch, seq_id)
    assert len(keys) == len(set(keys))


def test_unordered_run_order_keeps_schedule_changes_provenance(spark):
    """Disorder must change WHICH docs fill each sequence, never the
    read schedule: (epoch, reader, position, seq_id) identical to the
    ordered chain; provenance columns arrival-defined (and genuinely
    different on this fixture, so the invariant isn't vacuous)."""
    from spark_streaming_twitter_spark.text.corpus import (
        stream_training_run_order,
        stream_training_run_order_unordered,
    )

    sf = "/root/testdata/sf0.001"
    ordered = stream_training_run_order(spark, sf).collect()
    unordered = stream_training_run_order_unordered(spark, sf).collect()
    sched = lambda rows: sorted((r[0], r[1], r[2], r[3]) for r in rows)
    assert sched(ordered) == sched(unordered)
    prov = lambda rows: sorted(map(tuple, rows))
    assert prov(ordered) != prov(unordered), (
        "fixture produced identical layouts - disorder test is vacuous"
    )


def test_fused_unordered_equals_four_stream_unordered(spark):
    """Under round-robin disorder the trigger grid is id % 4 for every
    spool, so the fused one-consumer flagship and the 4-stream flagship
    must produce the SAME layout bit for bit — two architectures, one
    answer."""
    from spark_streaming_twitter_spark.text.corpus import (
        stream_multimodal_ingest_to_training_fused_unordered,
        stream_multimodal_ingest_to_training_unordered,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        map(
            tuple,
            stream_multimodal_ingest_to_training_fused_unordered(
                spark, sf
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            stream_multimodal_ingest_to_training_unordered(
                spark, sf
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
