"""The media batch kernels (multimodal/kernels.py), fed pandas frames
directly, and the one-pass key build against the per-modality chains.

Every decoder test puts one malformed payload among well-formed ones:
the malformed row (and only it) must drop, and every other row must be
exactly what the clean batch yields.
"""

from __future__ import annotations

import struct

import pandas as pd

from spark_streaming_twitter_spark.multimodal import kernels as K
from spark_streaming_twitter_spark.multimodal.columns import _mp4_box


def _ids(*ids):
    return pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64")})


def _rows(pdf):
    return sorted(map(tuple, pdf.itertuples(index=False)))


def _with_payload(payloads, mid, payload):
    out = payloads.copy()
    out.loc[out["media_id"] == mid, "payload"] = [payload]
    return out


def _assert_only_dropped(kernel, payloads, mid, bad):
    clean = kernel(payloads)
    got = kernel(_with_payload(payloads, mid, bad))
    assert _rows(got) == _rows(clean[clean["media_id"] != mid])


def test_phash_kernel_drops_bad_header_only():
    payloads = K.encode_ppm_batch(_ids(0, 3, 27))
    good = payloads["payload"][1]
    _assert_only_dropped(K.phash_batch, payloads, 3, b"P5" + good[2:])
    body = good[good.index(b"255\n") + 4 :]
    _assert_only_dropped(K.phash_batch, payloads, 3, b"P6\n0 8\n255\n" + body)


def test_phash_kernel_drops_trailing_junk_only():
    payloads = K.encode_ppm_batch(_ids(0, 3, 27))
    good = payloads["payload"][1]
    _assert_only_dropped(K.phash_batch, payloads, 3, good + b"\x00junk")


def test_audio_kernel_drops_truncated_or_non_pcm_wav_only():
    payloads = K.encode_wav_batch(_ids(1, 4, 28))
    good = payloads["payload"][1]
    _assert_only_dropped(K.afp_batch, payloads, 4, good[:-3])
    # fmt chunk body starts at byte 20: audio format 3 is IEEE float
    non_pcm = good[:20] + struct.pack("<H", 3) + good[22:]
    _assert_only_dropped(K.afp_batch, payloads, 4, non_pcm)


def _split_mdat(payload: bytes) -> "tuple[bytes, bytes]":
    """(everything before the trailing mdat box, the mdat body)."""
    cut = len(payload) - 8 - K.VIDEO_FRAMES * K.VIDEO_FRAME_BYTES
    assert payload[cut + 4 : cut + 8] == b"mdat"
    return payload[:cut], payload[cut + 8 :]


def test_video_kernel_drops_mp4_without_mdat_only():
    payloads = K.encode_mp4_batch(_ids(2, 5, 29))
    head, _ = _split_mdat(payloads["payload"][1])
    _assert_only_dropped(K.video_sig_batch, payloads, 5, head)


def test_video_kernel_stops_at_first_short_frame():
    payloads = K.encode_mp4_batch(_ids(2, 5, 29))
    head, body = _split_mdat(payloads["payload"][1])
    # the last frame loses 5 bytes: frames 0..14 stay, frame 15 is short
    short = head + _mp4_box(b"mdat", body[:-5])
    clean = K.video_sig_batch(payloads)
    got = K.video_sig_batch(_with_payload(payloads, 5, short))
    want = clean[(clean["media_id"] != 5) | (clean["frame_idx"] < K.VIDEO_FRAMES - 1)]
    assert _rows(got) == _rows(want)
    assert (got["media_id"] == 5).sum() == K.VIDEO_FRAMES - 1
    # stsz claims frame 3 overruns the mdat body: frames 0..2 stay, and
    # no later frame is read from frame 3's bytes
    good = payloads["payload"][1]
    entry3 = good.index(b"stsz") + 16 + 4 * 3
    oversized = good[:entry3] + struct.pack(">I", 4000) + good[entry3 + 4 :]
    got = K.video_sig_batch(_with_payload(payloads, 5, oversized))
    want = clean[(clean["media_id"] != 5) | (clean["frame_idx"] < 3)]
    assert _rows(got) == _rows(want)


def test_media_keys_kernel_routes_each_id_by_modality():
    ids = _ids(0, 1, 2, 3, 4, 5, 24, 25, 26)
    got = K.media_keys_batch(ids)
    assert list(got.dtypes) == ["int64", "int32", "int32", "int64"]
    img = K.phash_batch(K.encode_ppm_batch(_ids(0, 3, 24)))
    aud = K.afp_batch(K.encode_wav_batch(_ids(1, 4, 25)))
    vid = K.video_sig_batch(K.encode_mp4_batch(_ids(2, 5, 26)))
    assert _rows(got) == sorted(
        [(r.media_id, 0, 0, r.dhash) for r in img.itertuples()]
        + [(r.media_id, 1, 0, r.fingerprint) for r in aud.itertuples()]
        + [(r.media_id, 2, r.frame_idx, r.frame_sig) for r in vid.itertuples()]
    )
    # a batch without one modality still yields the typed frame
    assert list(K.media_keys_batch(_ids(0, 3)).dtypes) == list(got.dtypes)
    assert len(K.media_keys_batch(_ids())) == 0


def test_one_pass_keys_equal_per_modality_chains(spark):
    """media_keys_from_ids over a tiny mixed id set yields, per modality,
    exactly the rows of that modality's two-mapInPandas chain, repeats
    included: clips of one group share their unedited frames."""
    from spark_streaming_twitter_spark.registry import load_all

    load_all()  # phash's oracles compose registry entries from dedup
    from spark_streaming_twitter_spark.multimodal import phash as ph

    ids = [0, 1, 2, 3, 4, 5, 8, 11, 24, 25, 26, 27, 28, 29]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = ph.media_keys_from_ids(docs).collect()

    def sliced(k):
        return docs.where(docs.doc_id % 3 == k)

    def rows(df, *cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    by_m = {k: sorted((r.media_id, r.frame_idx, r.sig) for r in got if r.m == k) for k in range(3)}
    img = ph.perceptual_hashes(ph.phash_media_from_ids(sliced(0)))
    aud = ph.audio_fingerprints(ph.fp_audio_from_ids(sliced(1)))
    vid = ph.video_frame_signatures(ph.fp_video_from_ids(sliced(2)))
    assert by_m[0] == [(i, 0, s) for i, s in rows(img, "media_id", "dhash")]
    assert by_m[1] == [(i, 0, s) for i, s in rows(aud, "media_id", "fingerprint")]
    assert by_m[2] == rows(vid, "media_id", "frame_idx", "frame_sig")
    frame_sigs = [s for _, _, s in by_m[2]]
    assert len(frame_sigs) > len(set(frame_sigs)), "no repeated frame signature"
