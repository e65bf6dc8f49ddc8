"""The ordered spool's batch cuts (streaming.harness.ordered_cuts).

The all-modality media keeper stream spools every id once but cuts each
modality (id % 3) on its own id range, so an id lands in the batch its
modality's standalone keeper oracle replays
(``id <= lo + (hi - lo + 1) * q // 4`` over that modality's range). A
single (min, max) range keeps the cut the document spools have always
used.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from spark_streaming_twitter_spark.streaming.harness import (
    _ordered_bucket,
    ordered_cuts,
)
from tests.conftest import SF_ORACLE

# gaps inside and between the modalities' ranges, and ranges that start
# and end far apart, so the three modalities' cuts interleave
SPARSE = [0, 1, 3, 4, 5, 9, 14, 40, 41, 42, 100, 101, 203, 500, 502, 998,
          1000, 1003, 1004, 2049, 4000, 4001, 4002, 7777, 9000]


def batch(i: int, cuts: tuple) -> int:
    return sum(i > c for c in cuts[i % len(cuts)])


def oracle_batch(i: int, lo: int, hi: int, n: int = 4) -> int:
    """The keeper oracles' CASE ladder over one modality's range."""
    return next(
        (q - 1 for q in range(1, n) if i <= lo + (hi - lo + 1) * q // n), n - 1
    )


def modality_bounds(ids: list) -> tuple:
    """(min, max) per id % 3, None for a modality with no ids — the
    shape phash.media_id_bounds returns."""
    by_mod = [[i for i in ids if i % 3 == m] for m in range(3)]
    return tuple((min(g), max(g)) if g else None for g in by_mod)


def sf_ids() -> list:
    return (
        pq.read_table(f"{SF_ORACLE}/documents.parquet", columns=["doc_id"])
        .column("doc_id")
        .to_pylist()
    )


@pytest.mark.parametrize(
    "ids",
    [
        pytest.param(None, id="sf0.01"),
        pytest.param(SPARSE, id="sparse"),
        pytest.param([i for i in SPARSE if i % 3 != 2], id="no_video"),
    ],
)
def test_all_modality_cut_equals_each_modalitys_own_cut(ids):
    ids = sf_ids() if ids is None else ids
    bounds = modality_bounds(ids)
    shared = ordered_cuts(bounds)
    assert len(shared) == 3
    for i in ids:
        own = ordered_cuts(bounds[i % 3])  # the modality's standalone spool
        assert batch(i, shared) == batch(i, own) == oracle_batch(i, *bounds[i % 3])
    # not vacuous: one document-range cut would batch some id differently
    doc_range = ordered_cuts((min(ids), max(ids)))
    assert any(batch(i, shared) != batch(i, doc_range) for i in ids)


def test_single_range_keeps_the_document_cuts():
    ids = sf_ids()
    lo, hi = min(ids), max(ids)
    assert ordered_cuts((lo, hi)) == ([lo + (hi - lo + 1) * q // 4 for q in (1, 2, 3)],)
    assert ordered_cuts((lo, hi), 6) == ([lo + (hi - lo + 1) * q // 6 for q in range(1, 6)],)
    cuts = ordered_cuts((lo, hi))
    assert all(batch(i, cuts) == oracle_batch(i, lo, hi) for i in ids)


def test_bucket_column_evaluates_the_cuts(spark):
    """The spool's Spark bucket expression labels every id with the batch
    the cuts give, per-modality and single-range, an empty modality too."""
    ids = SPARSE
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    no_video = modality_bounds([i for i in ids if i % 3 != 2])
    for bounds in (modality_bounds(ids), no_video, (min(ids), max(ids))):
        cuts = ordered_cuts(bounds)
        got = dict(
            df.select("doc_id", _ordered_bucket("doc_id", cuts)).collect()
        )
        want = {i: batch(i, cuts) for i in ids if cuts[i % len(cuts)] is not None}
        assert {i: got[i] for i in want} == want
