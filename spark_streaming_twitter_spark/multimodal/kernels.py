"""Pandas batch kernels of the near-dup media fixtures: payload encoders
and signature decoders.

Each kernel maps one pandas batch to another; ``multimodal.phash`` binds
them into ``mapInPandas`` with ``per_batch``. They are plain module
functions with no Spark state, so Python workers import them by
reference and tests feed them pandas frames directly.

- Encoders take ``doc_id`` rows and emit ``(media_id, payload)`` with
  ``media_id = doc_id``: a real PPM image, WAV clip or MP4 container
  (the generators are described in ``multimodal.phash``).
- Decoders take ``(media_id, payload)`` rows, parse the real bytes and
  emit signatures. A malformed payload drops its own row and nothing
  else (the per-row tolerance contract).
- ``media_keys_batch`` routes each id by ``doc_id % 3`` through its
  modality's encoder and decoder, so one Python pass builds the probe
  signatures of all three kinds.
"""

from __future__ import annotations

import re
import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from spark_streaming_twitter_spark.multimodal.columns import (
    _mp4_box,
    decode_mp4,
    decode_wav,
    encode_wav,
)

PHASH_GRID = 8  # sample grid side: 8x8 cells
DHASH_BITS = 56  # 8 rows x 7 horizontal comparisons
AFP_FRAMES = 49  # 49 frame energies -> 48 comparison bits
VIDEO_FRAMES = 16  # frames per fixture clip
VIDEO_FRAME_BYTES = 48  # bytes per frame payload

# Full P6 header through maxval: the match end IS the pixel-body offset
# (one whitespace after maxval per the PPM spec).
_PPM_HEADER = re.compile(
    rb"P6\s+(?:#[^\n]*\s+)*(\d+)\s+(?:#[^\n]*\s+)*(\d+)\s+"
    rb"(?:#[^\n]*\s+)*\d+\s"
)

def per_batch(
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
) -> Callable[[Iterator], Iterator]:
    """The ``mapInPandas`` body that applies ``kernel`` to every batch."""

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            yield kernel(pdf)

    return run


def _payloads(pdf: pd.DataFrame, payloads: list) -> pd.DataFrame:
    return pd.DataFrame(
        {"media_id": pdf["doc_id"].to_numpy(), "payload": payloads}
    )


def encode_ppm_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """(doc_id) -> (media_id, payload): binary PPM images whose pixel
    ramp is ``(g*131 + i*step_g + v) % 256``."""
    payloads = []
    for did in pdf["doc_id"]:
        did = int(did)
        g, v = did // 24, (did % 24) // 3
        w, h = g % 16 + 8, g % 12 + 8
        step, off = (2 * g + 71) % 256, g * 131 + v
        # exact integer ramp: every term is non-negative and i*step < 2^63
        body = (
            ((off + np.arange(w * h * 3, dtype=np.int64) * step) % 256)
            .astype(np.uint8)
            .tobytes()
        )
        payloads.append(f"P6\n{w} {h}\n255\n".encode("ascii") + body)
    return _payloads(pdf, payloads)


def phash_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """(media_id, payload) -> (media_id, dhash, ahash) from decoded PPM
    pixels (see multimodal.phash.perceptual_hashes)."""
    shifts = np.arange(DHASH_BITS, dtype=np.int64)
    out: dict[str, list] = {"media_id": [], "dhash": [], "ahash": []}
    for mid, payload in zip(pdf["media_id"], pdf["payload"]):
        payload = bytes(payload)
        m = _PPM_HEADER.match(payload)
        if m is None:
            continue
        w, h = int(m.group(1)), int(m.group(2))
        # a payload whose length is not header + w*h*3 is malformed:
        # hashing the LAST w*h*3 bytes of a junk-trailed payload would
        # silently hash the wrong bytes
        if w <= 0 or h <= 0 or len(payload) != m.end() + w * h * 3:
            continue
        px = np.frombuffer(payload, np.uint8, count=w * h * 3, offset=m.end())
        gray = px.reshape(h, w, 3).astype(np.int64).sum(axis=2)
        ys = (np.arange(PHASH_GRID) * h) // PHASH_GRID
        xs = (np.arange(PHASH_GRID) * w) // PHASH_GRID
        cells = gray[np.ix_(ys, xs)]
        dbits = (cells[:, :-1] > cells[:, 1:]).reshape(-1)
        total = int(cells.sum())
        abits = cells.reshape(-1)[:DHASH_BITS] * 64 > total
        out["media_id"].append(mid)
        out["dhash"].append(int(np.sum(dbits.astype(np.int64) << shifts)))
        out["ahash"].append(int(np.sum(abits.astype(np.int64) << shifts)))
    return pd.DataFrame(out, dtype="int64")


def encode_wav_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """(doc_id) -> (media_id, payload): 16-bit mono PCM WAV clips whose
    sample i is ``((g*37 + i*i*kg + v*16) % 65536) - 32768``."""
    payloads = []
    for did in pdf["doc_id"]:
        did = int(did)
        g, v = did // 24, (did % 24) // 3
        n = g % 256 + 200
        kg = ((g * 4093 + 31) % 65536) | 1
        off = g * 37 + v * 16
        # exact integer waveform: off + i*i*kg < 2^63 for every fixture i
        i = np.arange(n, dtype=np.int64)
        payloads.append(encode_wav(n, ((off + i * i * kg) % 65536) - 32768))
    return _payloads(pdf, payloads)


def afp_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """(media_id, payload) -> (media_id, fingerprint) from decoded WAV
    PCM (see multimodal.phash.audio_fingerprints)."""
    shifts = np.arange(AFP_FRAMES - 1, dtype=np.int64)
    out: dict[str, list] = {"media_id": [], "fingerprint": []}
    for mid, payload in zip(pdf["media_id"], pdf["payload"]):
        decoded = decode_wav(bytes(payload))
        if decoded is None:
            continue
        _rate, n, samples = decoded
        flen = n // AFP_FRAMES
        if flen == 0:
            continue
        arr = np.abs(
            np.array(samples[: AFP_FRAMES * flen], dtype=np.int64)
        ).reshape(AFP_FRAMES, flen)
        energy = arr.sum(axis=1)
        bits = energy[:-1] > energy[1:]
        out["media_id"].append(mid)
        out["fingerprint"].append(int(np.sum(bits.astype(np.int64) << shifts)))
    return pd.DataFrame(out, dtype="int64")


def _mp4(frames: "list[bytes]") -> bytes:
    """ftyp + moov(mvhd, trak/stsz sizing ``frames``) + mdat(frames)."""
    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    stsz_body = (
        struct.pack(">I", 0)
        + struct.pack(">II", 0, len(frames))
        + b"".join(struct.pack(">I", len(fr)) for fr in frames)
    )
    trak = _mp4_box(
        b"trak",
        _mp4_box(
            b"mdia",
            _mp4_box(b"minf", _mp4_box(b"stbl", _mp4_box(b"stsz", stsz_body))),
        ),
    )
    mvhd_body = (
        struct.pack(">I", 0)
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", 600, len(frames) * 40)
        + struct.pack(">I", 0x00010000)
        + struct.pack(">HH", 0x0100, 0)
        + b"\x00" * 8
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", 2)
    )
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd_body) + trak)
    return ftyp + moov + _mp4_box(b"mdat", b"".join(frames))


def encode_mp4_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """(doc_id) -> (media_id, payload): MP4 clips of VIDEO_FRAMES frames
    of VIDEO_FRAME_BYTES bytes, frame f byte j ``(g*53 + f*29 + j*kg) %
    256`` with the first v frames re-encoded."""
    f_col = np.arange(VIDEO_FRAMES, dtype=np.int64).reshape(-1, 1)
    j_row = np.arange(VIDEO_FRAME_BYTES, dtype=np.int64)
    payloads = []
    for did in pdf["doc_id"]:
        did = int(did)
        g, v = did // 24, (did % 24) // 3
        kg = ((g * 4093 + 31) % 256) | 1
        # exact integer frame matrix: every term is non-negative, < 2^63
        bump = np.where(f_col < v, 5 + v * 11, 0)
        mat = ((g * 53 + f_col * 29 + j_row * kg + bump) % 256).astype(np.uint8)
        payloads.append(_mp4([row.tobytes() for row in mat]))
    return _payloads(pdf, payloads)


def video_sig_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """(media_id, payload) -> (media_id, frame_idx, frame_sig) from
    decoded MP4s (see multimodal.phash.video_frame_signatures)."""
    out: dict[str, list] = {"media_id": [], "frame_idx": [], "frame_sig": []}
    for mid, payload in zip(pdf["media_id"], pdf["payload"]):
        payload = bytes(payload)
        meta = decode_mp4(payload)
        if meta is None or not meta.get("samples"):
            continue
        # locate the mdat body with a top-level box walk
        pos, mdat = 0, None
        while pos + 8 <= len(payload):
            (size,) = struct.unpack_from(">I", payload, pos)
            if size < 8 or pos + size > len(payload):
                break
            if payload[pos + 4 : pos + 8] == b"mdat":
                mdat = payload[pos + 8 : pos + size]
                break
            pos += size
        if mdat is None:
            continue
        # frame offsets are monotone, so the walk stops at the first
        # frame whose end exceeds the mdat body (the first short frame)
        off = 0
        for f, sz in enumerate(meta["samples"]):
            if off + sz > len(mdat):
                break
            frame = np.frombuffer(mdat, np.uint8, count=sz, offset=off)
            out["media_id"].append(mid)
            out["frame_idx"].append(f)
            out["frame_sig"].append(
                int(frame.astype(np.int64) @ np.arange(1, sz + 1, dtype=np.int64))
            )
            off += sz
    return pd.DataFrame(out, dtype="int64")


def _tagged(sigs: pd.DataFrame, m: int, sig_col: str, frame_idx=0) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "media_id": sigs["media_id"],
            "m": m,
            "frame_idx": frame_idx,
            "sig": sigs[sig_col],
        }
    )


def media_keys_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """(doc_id) -> (media_id, m, frame_idx, sig), ``m = doc_id % 3``:
    the image dHash (m 0) or audio fingerprint (m 1) at frame_idx 0, or
    one row per decoded video frame signature (m 2). Each id goes
    through its own modality's encoder and decoder, real bytes both
    ways, so a malformed payload still drops only its own rows."""
    m = pdf["doc_id"] % 3
    vid = video_sig_batch(encode_mp4_batch(pdf[m == 2]))
    return pd.concat(
        [
            _tagged(phash_batch(encode_ppm_batch(pdf[m == 0])), 0, "dhash"),
            _tagged(afp_batch(encode_wav_batch(pdf[m == 1])), 1, "fingerprint"),
            _tagged(vid, 2, "frame_sig", vid["frame_idx"]),
        ],
        ignore_index=True,
    ).astype({"m": "int32", "frame_idx": "int32"})
