"""Multimodal plumbing tests: stub gating, schemas, Arrow batch behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_twitter_spark.multimodal import columns as mm

SF = "/root/testdata/sf0.001"


def test_media_table_schema_and_kinds(spark):
    media = mm.media_table(spark, SF)
    assert dict(media.dtypes)["payload"] == "binary"
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_decode_parses_ppm_and_bmp_headers(spark):
    media = mm.encoded_media_table(spark, SF)
    rows = mm.decode_media(media).collect()
    assert rows
    fmts = {r.fmt for r in rows}
    assert fmts == {"ppm", "bmp"}
    for r in rows:
        assert r.fmt in ("ppm", "bmp")
        assert r.width == r.media_id % 640 + 64
        assert r.height == r.media_id % 480 + 48
        assert r.n_bytes > (0 if r.fmt == "ppm" else 54)


def test_decode_header_parser_edge_cases():
    # PPM with comment lines between tokens; BMP top-down (negative height);
    # unknown magic -> NULLs, never an exception.
    assert mm._parse_image_header(b"P6\n# a comment\n12 34\n255\n\xff") == (
        "ppm",
        12,
        34,
    )
    import struct

    bmp = (
        b"BM"
        + struct.pack("<IHHI", 54, 0, 0, 54)
        + struct.pack("<IiiHH", 40, 7, -9, 1, 24)
        + b"\x00" * 24
    )
    assert mm._parse_image_header(bmp) == ("bmp", 7, 9)
    if not mm._HAVE_PIL:
        assert mm._parse_image_header(b"\x89PNG\r\n") == (None, None, None)
    assert mm._parse_image_header(b"P6garbage") == ("ppm", None, None)


def test_encode_wav_rejects_out_of_range_samples():
    # a ValueError, not an assert: python -O must not let int16 wrap
    import pytest

    assert mm.decode_wav(mm.encode_wav(2, [-32768, 32767]))[2] == [-32768, 32767]
    for bad in ([0, 32768], [-32769]):
        with pytest.raises(ValueError, match="int16 range"):
            mm.encode_wav(len(bad), bad)


def test_byte_histogram_fracs_sum_to_one(spark):
    media = mm.media_table(spark, SF).limit(10)
    sums = (
        mm.byte_histograms(media)
        .groupBy("media_id")
        .agg(F.sum("frac").alias("s"))
        .collect()
    )
    assert len(sums) == 10
    for r in sums:
        assert abs(r.s - 1.0) < 1e-9


def test_frame_sampling_stride_and_offsets(spark):
    media = mm.media_table(spark, SF).where(F.col("kind") == "video").limit(3)
    frames = mm.sample_frames(media).collect()
    assert frames
    by_media: dict[int, list[int]] = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    for idxs in by_media.values():
        assert idxs == sorted(idxs)
        assert all(i % mm.FRAME_STRIDE == 0 for i in idxs)
    assert all(r.frame_bytes >= 0 for r in frames)


def test_png_codec_roundtrip_all_filters_and_corruption():
    """encode_png writes every PNG filter type (y % 5); decode_png must
    unfilter all five exactly, and reject truncation / CRC corruption /
    non-PNG bytes instead of raising."""
    for did in (0, 3, 6, 9, 12, 999):  # h >= 5 rows exercises all filters
        w, h = did % 16 + 4, did % 12 + 4
        raw = bytes((did * 31 + i) % 256 for i in range(w * h * 3))
        png = mm.encode_png(w, h, raw)
        assert mm._parse_image_header(png) == ("png", w, h)
        assert mm.decode_png(png) == (w, h, raw)
    assert mm.decode_png(b"not a png at all") is None
    intact = mm.encode_png(4, 4, bytes(48))
    assert mm.decode_png(intact[:30]) is None
    corrupt = bytearray(intact)
    corrupt[40] ^= 1
    assert mm.decode_png(bytes(corrupt)) is None


def test_phash_malformed_payloads_drop_per_row(spark):
    """The 'malformed payloads drop per-row' contract must hold for
    junk-TRAILED payloads too: the body offset comes from the parsed
    header end, so trailing bytes make the length check fail and the row
    drops — it is never silently hashed from the wrong byte range."""
    from spark_streaming_twitter_spark.multimodal import phash as ph

    w = h = 8
    body = bytes((7 * i) % 256 for i in range(w * h * 3))
    good = f"P6\n{w} {h}\n255\n".encode("ascii") + body
    rows = [
        (1, good),
        (2, good + b"JUNK"),          # trailing junk -> drop
        (3, good[:-5]),               # truncated body -> drop
        (4, b"P6\n8 8\n255"),         # header only, no body ws -> drop
        (5, b"BM" + bytes(60)),       # not PPM -> drop
        (6, f"P6\n# c\n{w}\n# c\n{h}\n255\n".encode("ascii") + body),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r.dhash for r in ph.perceptual_hashes(df).collect()}
    assert set(got) == {1, 6}
    assert got[1] == got[6]  # comments in the header don't shift the body


def test_phash_codes_match_independent_python_replay(spark):
    """dHash/aHash from the DECODED payload must equal an independent
    pure-Python computation from the generator formula — pinning both the
    fixture encode and the numpy decode/hash path, bit for bit."""
    from spark_streaming_twitter_spark.multimodal import phash as ph

    got = {
        r.media_id: (r.dhash, r.ahash)
        for r in ph.perceptual_hashes(
            ph.phash_media_table(spark, SF)
        ).collect()
    }
    assert len(got) == len([d for d in range(500) if d % 3 == 0])
    for did in (0, 3, 21, 24, 141, 498):
        g, v = did // 24, (did % 24) // 3
        w, h = g % 16 + 8, g % 12 + 8
        step, off = (2 * g + 71) % 256, g * 131 + v

        def p(i):
            return (off + i * step) % 256

        ys = [(gy * h) // 8 for gy in range(8)]
        xs = [(gx * w) // 8 for gx in range(8)]
        cells = [
            [sum(p((y * w + x) * 3 + c) for c in range(3)) for x in xs]
            for y in ys
        ]
        dh = sum(
            1 << (y * 7 + x)
            for y in range(8)
            for x in range(7)
            if cells[y][x] > cells[y][x + 1]
        )
        total = sum(sum(r) for r in cells)
        ah = sum(
            1 << (y * 8 + x)
            for y in range(8)
            for x in range(8)
            if y * 8 + x < 56 and cells[y][x] * 64 > total
        )
        assert got[did] == (dh, ah), did


def test_phash_dup_pairs_recover_planted_groups(spark):
    """The banded pair query must surface within-group brightness variants
    (the planted near-dups) and every emitted pair must satisfy the verify
    threshold; pigeonhole says NO pair within Hamming radius 3 can be
    missed by the 4-chunk banding."""
    from spark_streaming_twitter_spark.multimodal import phash as ph

    codes = {
        r.media_id: r.dhash
        for r in ph.media_phash_codes(spark, SF).collect()
    }
    pairs = {
        (r.media_a, r.media_b): r.hamming_dhash
        for r in ph.media_phash_dup_pairs(spark, SF).collect()
    }
    assert pairs, "no near-dup pairs found on the planted fixture"
    within = [p for p in pairs if p[0] // 24 == p[1] // 24]
    assert len(within) >= len(pairs) * 2 // 3, (
        "planted groups should dominate the matches"
    )
    for (a, b), hd in pairs.items():
        assert a < b
        assert hd == bin(codes[a] ^ codes[b]).count("1")
        assert hd <= ph.PHASH_RADIUS
    # pigeonhole recall guarantee at radius <= 3
    import itertools

    for a, b in itertools.combinations(sorted(codes), 2):
        hd = bin(codes[a] ^ codes[b]).count("1")
        if hd <= 3:
            assert (a, b) in pairs, (a, b, hd)


def test_audio_fingerprints_match_independent_python_replay(spark):
    """Energy-envelope fingerprints from the DECODED WAV payload must
    equal an independent pure-Python computation from the generator
    formula, and the banded pair query must recover every planted
    within-group variant pair (measured max within-group distance 2,
    inside the radius-3 pigeonhole guarantee)."""
    from spark_streaming_twitter_spark.multimodal import phash as ph

    got = {
        r.media_id: r.fingerprint
        for r in ph.audio_fingerprints(
            ph.fp_audio_table(spark, SF)
        ).collect()
    }
    ids = [d for d in range(500) if d % 3 == 1]
    assert len(got) == len(ids)
    want = {}
    for did in ids:
        g, v = did // 24, (did % 24) // 3
        n = g % 256 + 200
        kg = ((g * 4093 + 31) % 65536) | 1
        off = g * 37 + v * 16
        flen = n // ph.AFP_FRAMES
        energy = [
            sum(
                abs(((off + i * i * kg) % 65536) - 32768)
                for i in range(f * flen, (f + 1) * flen)
            )
            for f in range(ph.AFP_FRAMES)
        ]
        want[did] = sum(
            1 << f
            for f in range(ph.AFP_FRAMES - 1)
            if energy[f] > energy[f + 1]
        )
    assert got == want

    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in ph.media_audio_dup_pairs(spark, SF).collect()
    }
    import itertools

    for a, b in itertools.combinations(ids, 2):
        if a // 24 == b // 24:
            hd = bin(got[a] ^ got[b]).count("1")
            assert hd <= 3, (a, b, hd)
            assert (a, b) in pairs, (a, b)


def test_video_dup_pairs_shared_frames_match_construction(spark):
    """Exact brute-force replay: per-frame signatures recomputed in pure
    Python from the generator, n_shared as the DISTINCT shared-signature
    set size ((media_id, frame_sig) deduped before the join, clips-per-
    signature df-cap), and the qualitative floor — variants share their
    16 - max(va, vb) unmodified frames, so every within-group pair whose
    surviving distinct unmodified signatures clear the threshold must
    appear."""
    from collections import Counter, defaultdict

    from spark_streaming_twitter_spark.multimodal import phash as ph

    got = {
        (r.media_a, r.media_b): r.n_shared
        for r in ph.media_video_dup_pairs(spark, SF).collect()
    }
    assert got

    ids = [d for d in range(500) if d % 3 == 2]

    def sigs_of(did):
        g, v = did // 24, (did % 24) // 3
        kg = ((g * 4093 + 31) % 256) | 1
        out = []
        for f in range(ph.VIDEO_FRAMES):
            bump = 5 + v * 11 if f < v else 0
            c0 = g * 53 + f * 29 + bump
            out.append(
                sum(
                    ((c0 + j * kg) % 256) * (j + 1)
                    for j in range(ph.VIDEO_FRAME_BYTES)
                )
            )
        return out

    sigs = {d: sigs_of(d) for d in ids}
    dsigs = {d: set(s) for d, s in sigs.items()}
    occ = Counter(s for d in ids for s in dsigs[d])  # clips per signature
    kept = {
        d: {s for s in dsigs[d] if occ[s] <= ph.VIDEO_SIG_MAX_OCC}
        for d in ids
    }
    inv = defaultdict(list)
    for d in ids:
        for s in kept[d]:
            inv[s].append(d)
    import itertools

    want: dict[tuple[int, int], int] = defaultdict(int)
    for s, docs in inv.items():
        for a, b in itertools.combinations(sorted(docs), 2):
            want[(a, b)] += 1
    want = {
        k: v for k, v in want.items() if v >= ph.VIDEO_MIN_SHARED
    }
    assert got == want
    # qualitative floor: unmodified frames (f >= max(va, vb)) have
    # v-independent signatures, so their surviving distinct set is shared
    for a, b in itertools.combinations(ids, 2):
        if a // 24 == b // 24:
            vmax = max((a % 24) // 3, (b % 24) // 3)
            floor = len(
                {
                    sigs[a][f]
                    for f in range(vmax, ph.VIDEO_FRAMES)
                    if sigs[a][f] in kept[a]
                }
            )
            if floor >= ph.VIDEO_MIN_SHARED:
                assert got.get((a, b), 0) >= floor, (a, b, floor)


def test_phash_group_keeper_keeps_highest_detail_variant(spark):
    """Keeper invariants: every drop row's group contains its keeper; the
    keeper is never dropped; the keeper maximizes bit_count(dhash) with
    min-id tie-break among its group's members."""
    from spark_streaming_twitter_spark.multimodal import phash as ph

    codes = {
        r.media_id: r.dhash
        for r in ph.media_phash_codes(spark, SF).collect()
    }
    drops = ph.media_phash_group_keeper(spark, SF).collect()
    assert drops
    by_group: dict[int, list] = {}
    for r in drops:
        by_group.setdefault(r.group_id, []).append(r)
    for gid, rows in by_group.items():
        kept = {r.kept_media_id for r in rows}
        assert kept == {next(iter(kept))}, "one keeper per group"
        keeper = next(iter(kept))
        assert keeper not in {r.drop_media_id for r in rows}
        members = [r.drop_media_id for r in rows] + [keeper]
        best = max(
            members,
            key=lambda m: (bin(codes[m]).count("1"), -m),
        )
        assert keeper == best, (gid, keeper, best)


def test_caption_drops_are_image_linked_and_never_the_keeper(spark):
    """Cross-modality propagation invariants: every propagated caption
    drop is an image-linked doc (doc_id % 3 == 0 on this fixture), its
    keeper is in the same dedup group, and no keeper's own caption is
    ever dropped."""
    from spark_streaming_twitter_spark.multimodal import phash as ph

    rows = ph.media_caption_drop_propagation(spark, SF).collect()
    assert rows
    keepers = {r.kept_media_id for r in rows}
    dropped = {r.doc_id for r in rows}
    assert not keepers & dropped
    for r in rows:
        assert r.doc_id % 3 == 0, r
        assert r.kept_media_id % 3 == 0, r
        assert r.caption_len > 0 and r.kept_caption_len > 0, r


def test_keeper_prober_report_is_pinned_across_index_append(spark, tmp_path):
    """Prober contract: probe_and_keep returns the batch's PINNED
    decision report, and the pin must survive the index append. The
    append fires recacheByPath on every cached plan reading the index
    dir — a merely-persisted report would silently rebuild against the
    post-append listing and self-match its own batch (every kept item
    gains >= n_chunks hits). Regression shape: epoch-2 report read
    AFTER the append must still match the ledger rows written for that
    epoch, bit for bit."""
    from pyspark.sql import functions as F

    from spark_streaming_twitter_spark.registry import load_all

    load_all()  # phash's oracles compose registry entries from dedup
    from spark_streaming_twitter_spark.multimodal import phash as ph
    from spark_streaming_twitter_spark.streaming.keeper import (
        chunk_key_frame,
        keeper_ledger_frame,
    )

    store_dir = str(tmp_path / "store")
    prober = ph.make_chunk_keeper_prober(spark, store_dir, ph.PHASH_RADIUS)
    media = ph.phash_media_table(spark, SF)
    sig = ph.perceptual_hashes(media)
    chunks = chunk_key_frame(sig, "dhash", ph.PHASH_CHUNKS, 14)
    lo, hi = media.agg(F.min("media_id"), F.max("media_id")).first()
    cut = lo + (hi - lo) // 2
    r1 = prober(chunks.where(F.col("media_id") <= cut))
    r2 = prober(chunks.where(F.col("media_id") > cut))
    # read AFTER both appends: the pinned reports must equal the ledger
    # (the store's side=ledger partition)
    ledger = {
        (r.media_id, r.n_index_hits)
        for r in keeper_ledger_frame(spark, store_dir, "media_id").collect()
    }
    got = {(r.media_id, r.n_index_hits) for r in r1.collect()} | {
        (r.media_id, r.n_index_hits) for r in r2.collect()
    }
    assert got == ledger
    # epoch 2 must contain real probe results against epoch 1 only —
    # a recache-poisoned report would give EVERY epoch-2 item hits
    e2_hits = [r.n_index_hits for r in r2.collect()]
    assert any(h == 0 for h in e2_hits), "poisoned report: all self-matched"


def test_pack_batch_observed_total_and_empty_batch(spark, tmp_path):
    """r15 packer internals: the running total rides the ledger write as
    an observed metric. An EMPTY micro-batch must write nothing, leave
    the carried offset unchanged (sum over zero rows observes NULL), and
    a following batch must continue from the same offset."""
    from pyspark.sql import functions as F

    from spark_streaming_twitter_spark.registry import load_all

    load_all()  # corpus oracles compose registry entries from dedup/phash
    from spark_streaming_twitter_spark.text.corpus import _make_pack_batch

    ledger = str(tmp_path / "ledger")
    carry = {"offset": 0}
    pack = _make_pack_batch(ledger, carry)
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f")], "doc_id long, text string"
    )
    pack(docs.where(F.col("doc_id") <= 2), 0)
    assert carry["offset"] == 5
    empty = docs.where(F.col("doc_id") < 0)
    pack(empty, 1)
    assert carry["offset"] == 5  # NULL-sum guard: unchanged
    pack(docs.where(F.col("doc_id") == 3), 2)
    assert carry["offset"] == 6
    rows = {
        (r.doc_id, r.n_tokens, r.start_offset)
        for r in spark.read.parquet(ledger).collect()
    }
    assert rows == {(1, 3, 0), (2, 2, 3), (3, 1, 5)}
