"""Spark-free tests of the streaming self/TTL dedup's per-bucket update
rules (streaming/bucket_rules.py): each rule on its edge cases, and the
order-free invariant the disorder-tolerant strategies rest on."""

from __future__ import annotations

import random
from collections import defaultdict

from spark_streaming_twitter_spark.streaming.bucket_rules import (
    TS_BASE,
    expire,
    first_owner,
    last_seen,
    min_owner,
    sorted_window,
    update,
)


def test_distance_equal_to_horizon_is_flagged_and_one_past_is_not():
    for rule in (last_seen, sorted_window):
        _, emits = rule([(10, 5)], {15: 5}, 5)
        assert emits == [(15, 5, 10, 5)], rule.__name__
        _, emits = rule([(10, 5)], {16: 5}, 5)
        assert emits == [], rule.__name__


def test_repeated_frame_signature_counts_once():
    sig = 123456
    # one clip, three frames with the same signature: one arrival
    state, emits = update(first_owner, [(3, sig)], [7, 7, 7], [sig] * 3, None)
    assert state == [(3, sig)]
    assert emits == [(7, sig, 3, sig)]
    state, emits = update(first_owner, [], [9, 9], [sig, sig], None)
    assert state == [(9, sig)] and emits == []


def test_update_verifies_radius():
    _, emits = update(first_owner, [(1, 0b0000)], [2, 3], [0b0011, 0b0111], None, 2)
    assert emits == [(2, 0b0011, 1, 0b0000)]


def test_demoted_owner_reemits_against_new_owner():
    state, emits = min_owner([(10, 0xA)], {4: 0xB, 12: 0xC}, None)
    assert state == [(4, 0xB)]
    assert sorted(emits) == [(10, 0xA, 4, 0xB), (12, 0xC, 4, 0xB)]
    # a larger arrival keeps the owner and is the only emit
    state, emits = min_owner(state, {7: 0xD}, None)
    assert state == [(4, 0xB)] and emits == [(7, 0xD, 4, 0xB)]


def test_window_gap_fill_moves_predecessor_up():
    state, emits = sorted_window([(10, 1)], {20: 2}, 100)
    assert emits == [(20, 2, 10, 1)]
    state, emits = sorted_window(state, {15: 3}, 100)
    assert state == [(10, 1), (15, 3), (20, 2)]
    assert emits == [(15, 3, 10, 1), (20, 2, 15, 3)]
    # only adjacent pairs with a new endpoint are emitted
    _, emits = sorted_window(state, {40: 4}, 100)
    assert emits == [(40, 4, 20, 2)]


def test_expiry_never_drops_an_id_within_the_horizon():
    horizon = 7
    state = [(m, m) for m in range(0, 40)]
    for wm in range(0, 60):
        kept = expire(state, (TS_BASE + wm) * 1000, horizon)
        # any future arrival x >= wm can pair with m iff x - m <= horizon
        needed = [(m, s) for m, s in state if m >= wm - horizon]
        assert kept == needed, wm
    assert expire(state, (TS_BASE + 46) * 1000, horizon) == [(39, 39)]
    assert expire(state, (TS_BASE + 47) * 1000, horizon) == []


# -- order-free invariant ----------------------------------------------------

N_CHUNKS, CHUNK_BITS, RADIUS = 4, 4, 3


def _planted(seed: int = 7) -> "dict[int, int]":
    """Ids 0..119 -> 16-bit signatures: near-dup groups of 2-5 variants
    (0-2 flipped bits), members scattered over the id range."""
    rng = random.Random(seed)
    ids = list(range(120))
    rng.shuffle(ids)
    sigs = {}
    while ids:
        base = rng.getrandbits(16)
        for _ in range(rng.randint(2, 5)):
            if not ids:
                break
            s = base
            for _ in range(rng.randint(0, 2)):
                s ^= 1 << rng.randrange(16)
            sigs[ids.pop()] = s
    return sigs


def _keys(sig: int):
    mask = (1 << CHUNK_BITS) - 1
    return [(c, (sig >> (c * CHUNK_BITS)) & mask) for c in range(N_CHUNKS)]


def _replay(
    rule, batches, sigs, horizon, radius=None, delay=None, carry="sig", final=None
):
    """Feed arrival batches through one rule per bucket; with ``delay``,
    sweep state after each batch at watermark = max id seen - delay.
    Rows carry their signature, or the constant ``carry`` (None: no
    signature at all); ``final`` receives the end state."""
    state: dict = {}
    emitted = []
    seen = -1
    for batch in batches:
        rows = defaultdict(lambda: ([], []))
        for m in batch:
            for key in _keys(sigs[m]):
                rows[key][0].append(m)
                rows[key][1].append(sigs[m])
        for key, (ids, ss) in sorted(rows.items()):
            if carry != "sig":
                ss = None if carry is None else [carry] * len(ids)
            state[key], emits = update(
                rule, state.get(key, []), ids, ss, horizon, radius
            )
            emitted += [(key, *e) for e in emits]
        if delay is not None and batch:
            seen = max(seen, *batch)
            wm_ms = (TS_BASE + seen - delay) * 1000
            state = {k: expire(v, wm_ms, horizon) for k, v in state.items()}
    if final is not None:
        final.update(state)
    return emitted


def _assert_unsigned_matches_constant(rule, batches, sigs, horizon, delay=None):
    """With no signature (sigs=None) a rule emits the same (id, ref)
    pairs and keeps the same state ids as with one constant signature."""
    runs = []
    for carry in (0, None):
        final: dict = {}
        emitted = _replay(
            rule, batches, sigs, horizon, delay=delay, carry=carry, final=final
        )
        runs.append(
            (
                [(k, m, r) for k, m, _, r, _ in emitted],
                {k: [m for m, _ in v] for k, v in final.items()},
            )
        )
    assert runs[0][0], rule.__name__
    assert runs[0] == runs[1], rule.__name__


def _min_owner_pairs(emitted):
    owner, members = {}, defaultdict(set)
    for key, m, s, r, rs in emitted:
        owner[key] = min(owner.get(key, (r, rs)), (r, rs))
        members[key].add((m, s))
    return [(m, s, *owner[k]) for k, ms in members.items() for m, s in ms]


def _max_ref_pairs(emitted):
    ref: dict = {}
    for key, m, s, r, rs in emitted:
        ref[(key, m, s)] = max(ref.get((key, m, s), (r, rs)), (r, rs))
    return [(m, s, *r) for (_, m, s), r in ref.items()]


def _verified(pairs):
    return {
        (m, r, (s ^ rs).bit_count())
        for m, s, r, rs in pairs
        if (s ^ rs).bit_count() <= RADIUS
    }


def _orders(sigs, block=5):
    ids = sorted(sigs)
    n = len(ids)
    ordered = [ids[q * n // 4 : (q + 1) * n // 4] for q in range(4)]
    roundrobin = [[m for m in ids if m % 4 == q] for q in range(4)]
    arrival = [m for i in range(0, n, block) for m in reversed(ids[i : i + block])]
    reversed_blocks = [arrival[q * n // 6 : (q + 1) * n // 6] for q in range(6)]
    return ordered, roundrobin, reversed_blocks


def test_self_rules_are_order_free():
    sigs = _planted()
    ordered, roundrobin, reversed_blocks = _orders(sigs)
    want = _verified(
        e[1:] for e in _replay(first_owner, ordered, sigs, None, RADIUS)
    )
    # the oracle: every bucket's owner is its global min id
    owners: dict = {}
    for m in sorted(sigs):
        for key in _keys(sigs[m]):
            owners.setdefault(key, m)
    assert want == _verified(
        (m, sigs[m], owners[k], sigs[owners[k]])
        for m in sigs
        for k in _keys(sigs[m])
        if owners[k] != m
    )
    assert len({m for m, _, _ in want}) >= 20
    for batches in (roundrobin, reversed_blocks):
        got = _verified(_min_owner_pairs(_replay(min_owner, batches, sigs, None)))
        assert got == want
    _assert_unsigned_matches_constant(first_owner, ordered, sigs, None)
    for batches in (roundrobin, reversed_blocks):
        _assert_unsigned_matches_constant(min_owner, batches, sigs, None)


def test_ttl_rules_are_order_free():
    sigs = _planted()
    horizon, block = 30, 5
    ordered, roundrobin, reversed_blocks = _orders(sigs, block)
    want = _verified(
        e[1:] for e in _replay(last_seen, ordered, sigs, horizon, RADIUS, delay=0)
    )
    # the oracle: the latest earlier same-bucket id, within the horizon
    expect = set()
    for m in sigs:
        for key in _keys(sigs[m]):
            prev = [p for p in sigs if p < m and key in _keys(sigs[p])]
            if prev and m - max(prev) <= horizon:
                expect.add((m, sigs[m], max(prev), sigs[max(prev)]))
    assert want == _verified(expect)
    # the horizon matters on this input
    unbounded = _max_ref_pairs(_replay(sorted_window, ordered, sigs, 10 * horizon))
    assert _verified(unbounded) != want
    got = _verified(_max_ref_pairs(_replay(sorted_window, roundrobin, sigs, horizon)))
    assert got == want
    got = _verified(
        _max_ref_pairs(
            _replay(sorted_window, reversed_blocks, sigs, horizon, delay=block)
        )
    )
    assert got == want
    _assert_unsigned_matches_constant(last_seen, ordered, sigs, horizon, delay=0)
    _assert_unsigned_matches_constant(sorted_window, roundrobin, sigs, horizon)
    _assert_unsigned_matches_constant(
        sorted_window, reversed_blocks, sigs, horizon, delay=block
    )
