"""Per-bucket update rules of the streaming self and TTL dedup, Spark-free.

A bucket is one LSH key: a (chunk, chunk_val) of an image or audio
signature, a video frame signature, or a text MinHash (band, band_key).
Its state is a list of ``(id, sig)`` entries sorted by id, where ``sig``
is None for a kind without a signature (text, video); ``new`` maps each
id arriving in this trigger to its signature. Every rule returns
``(state', emits)``, where each emit is ``(id, sig, ref_id, ref_sig)``:
a candidate pair, verified later by the kind's pair rule. ``update``
runs one rule over one trigger's rows of one bucket.

- ``first_owner``: ordered self dedup. The first arrival owns the
  bucket; every later one pairs with it.
- ``min_owner``: self dedup under any arrival order. The smallest id
  seen so far owns the bucket; a smaller arrival demotes the owner,
  which re-emits against the new one. The read-back takes the minimum
  emitted owner per bucket.
- ``last_seen``: ordered TTL dedup. Each arrival pairs with the latest
  earlier one within ``horizon``.
- ``sorted_window``: TTL dedup under any arrival order. The bucket keeps
  every id; each trigger emits adjacent pairs within ``horizon`` that
  have a new endpoint. A late arrival only fills a gap, so an item's
  predecessor only moves up, and the read-back takes the maximum
  emitted ref per (bucket, item).
- ``expire``: the event-time sweep. Event time is ``TS_BASE + id``
  seconds; an entry goes once it is more than ``horizon`` below the
  watermark, when no future arrival can be within reach of it.
"""

from __future__ import annotations

TS_BASE = 1_700_000_000  # event time of id 0, in epoch seconds

Entries = list[tuple[int, "int | None"]]


def first_owner(state: Entries, new: dict, horizon=None):
    items = sorted(new.items())
    owner = state[0] if state else items.pop(0)
    return [owner], [(m, s, *owner) for m, s in items]


def min_owner(state: Entries, new: dict, horizon=None):
    items = sorted(new.items())
    if state and state[0][0] < items[0][0]:
        owner, emit = state[0], items
    else:
        owner, emit = items[0], items[1:] + state
    return [owner], [(m, s, *owner) for m, s in emit]


def last_seen(state: Entries, new: dict, horizon: int):
    last = state[-1] if state else None
    emits = []
    for m, s in sorted(new.items()):
        if last is not None and m - last[0] <= horizon:
            emits.append((m, s, *last))
        last = (m, s)
    return [last], emits


def sorted_window(state: Entries, new: dict, horizon: int):
    window = sorted({**dict(state), **new}.items())
    emits = [
        (m, s, p, ps)
        for (p, ps), (m, s) in zip(window, window[1:])
        if (p in new or m in new) and m - p <= horizon
    ]
    return window, emits


def expire(state: Entries, watermark_ms: int, horizon: int) -> Entries:
    return [(m, s) for m, s in state if (TS_BASE + m + horizon) * 1000 >= watermark_ms]


def update(rule, state: Entries, ids, sigs, horizon: int, radius: int | None = None):
    """One trigger of one bucket: ``ids``/``sigs`` are its arriving rows,
    ``sigs`` None for a kind without a signature. A clip that repeats a
    frame signature arrives once per frame and counts once. With
    ``radius`` (which needs ``sigs``), emits whose signatures are
    further apart in Hamming distance are dropped."""
    ids = map(int, ids)
    new = dict.fromkeys(ids) if sigs is None else dict(zip(ids, map(int, sigs)))
    state, emits = rule(state, new, horizon)
    if radius is not None:
        emits = [e for e in emits if (e[1] ^ e[3]).bit_count() <= radius]
    return state, emits
