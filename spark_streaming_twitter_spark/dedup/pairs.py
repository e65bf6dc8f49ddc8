"""The shared-key pair kernel of the batch near-dup scorers.

Every batch pair scorer finds its candidates the same way: an
inverted-index self-join on a shared key (shingle, band bucket, chunk
slice, frame signature, term, fingerprint), each unordered pair once
with the smaller id first (``a.id < b.id``), never an item with itself.
A key shared by ``df`` items emits df*(df-1)/2 join rows, so a
boilerplate key is quadratic in corpus size; ``rare_keys`` is the
document-frequency cap that bounds every key's term at cap^2, keyed on
the same columns as the self-join so its window and the join share one
shuffle key. Chunk-LSH scorers (SimHash, dHash, audio fingerprints) key
on fixed-width signature slices: two signatures within Hamming radius
below the chunk count share a slice (pigeonhole), so the slice join
finds every such pair and the full-signature Hamming verify keeps the
radius.

Imports only pyspark, so any package module can import it.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _keys(keys: "str | Sequence[str]") -> "list[str]":
    return [keys] if isinstance(keys, str) else list(keys)


def rare_keys(df: DataFrame, keys: "str | Sequence[str]", cap: int) -> DataFrame:
    """The rows of ``df`` whose key occurs at most ``cap`` times, from one
    count window partitioned by the key."""
    occ = F.count(F.lit(1)).over(Window.partitionBy(*_keys(keys)))
    return df.withColumn("__occ", occ).where(F.col("__occ") <= cap).drop("__occ")


def key_matches(
    df: DataFrame,
    id_col: str,
    keys: "str | Sequence[str]",
    extra: "Column | None" = None,
) -> DataFrame:
    """The self-join of ``df`` as ``a`` and ``b``: equal on ``keys``,
    ``a.id_col < b.id_col``, and ``extra`` (a condition over ``a.``/``b.``
    columns) when given. One row per shared key row pair."""
    conds = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in _keys(keys)]
    conds.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    if extra is not None:
        conds.append(extra)
    return df.alias("a").join(df.alias("b"), functools.reduce(operator.and_, conds))


def shared_key_pairs(
    df: DataFrame,
    id_col: str,
    keys: "str | Sequence[str]",
    out: "tuple[str, str, str]",
) -> DataFrame:
    """``out`` = (id_a, id_b, n): each pair sharing a key, with its number
    of shared key rows."""
    id_a, id_b, n = out
    return (
        key_matches(df, id_col, keys)
        .groupBy(F.col(f"a.{id_col}").alias(id_a), F.col(f"b.{id_col}").alias(id_b))
        .agg(F.count(F.lit(1)).alias(n))
    )


def chunk_slices(df: DataFrame, sig: str, n_chunks: int, bits: int) -> DataFrame:
    """``df`` with one row per chunk index ``c`` in 0..n_chunks-1 and
    ``chunk_val``, the c-th ``bits``-wide slice of ``sig``. No distinct
    is needed: over unique items it is one row per key by construction."""
    mask = (1 << bits) - 1
    return df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("c")
    ).withColumn("chunk_val", F.expr(f"shiftright({sig}, c * {bits}) & {mask}"))


def hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    sig: str,
    n_chunks: int,
    bits: int,
    radius: int,
    out: "tuple[str, str, str]",
    also: "Sequence[str]" = (),
) -> DataFrame:
    """``out`` = (id_a, id_b, hamming): chunk-LSH candidates (a shared
    slice), each pair once, whose full ``sig`` Hamming distance is at
    most ``radius``; ``hamming_<col>`` reports each ``also`` signature's
    distance beside it. Complete whenever ``radius < n_chunks``."""
    id_a, id_b, ham = out
    vals = [sig, *also]
    chunks = chunk_slices(sigs.select(id_col, *vals), sig, n_chunks, bits)
    cand = (
        key_matches(chunks, id_col, ("c", "chunk_val"))
        .select(
            F.col(f"a.{id_col}").alias(id_a),
            F.col(f"b.{id_col}").alias(id_b),
            *[F.col(f"{s}.{v}").alias(f"{s}_{v}") for v in vals for s in "ab"],
        )
        .distinct()
    )

    def dist(v: str) -> Column:
        return F.bit_count(F.col(f"a_{v}").bitwiseXOR(F.col(f"b_{v}"))).cast("int")

    return cand.select(
        id_a, id_b, dist(sig).alias(ham), *[dist(v).alias(f"hamming_{v}") for v in also]
    ).where(F.col(ham) <= radius)
