"""Similarity search over the ``embeddings`` table (SURVEY.md §2.8).

Three tiers, each a different point on the exactness/scale curve:

1. ``similarity_topk_cosine`` — exact brute-force top-k: query-set x corpus
   join with integer-scaled dot products (see ``dedup.dedup.scaled_dot``:
   bitwise-deterministic on any engine/topology). The correctness baseline.
2. ``similarity_ann_lsh_topk`` — random-hyperplane LSH (Charikar): 4 bands
   of 8 sign-bits each; a candidate needs only one matching band. Exact
   cosine re-rank on candidates only. The 100 TB path: the corpus is
   bucketed ONCE (4 rows/vector), queries probe buckets via an equi-join —
   no cross product anywhere.
3. ``similarity_ivf_topk`` — IVF-style two-stage search: coarse centroids
   (per-label exact integer mean), queries route to the nearest centroid,
   exact search within that cell only. At scale the cell id is the shuffle/
   partition key, giving data locality the flat index can't.

Plus ``similarity_topk_numpy``: the same brute-force ranking via
``mapInPandas`` + numpy matmul — the Arrow-batched escape hatch pattern for
when per-element expressions become the bottleneck (a 1536-dim production
embedding). BLAS reassociates float sums, so its SCORES are not bitwise
portable; its oracle is therefore a bounded check on the per-query top-k
neighbor-ID sets (scores dropped), which must match the exact
integer-scaled ranking's.

The hyperplane weights are deterministic int literals generated from md5 in
Python and embedded in BOTH the Spark plan and the DuckDB oracle — no
runtime hashing in the hot path, and at cluster scale they ship inside the
serialized plan (a few KB), not as a side table.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from spark_streaming_twitter_spark.catalog import stage, table, widen
from spark_streaming_twitter_spark.dedup.dedup import (
    scaled_dot,
    scaled_dot_sql,
    scaled_norm2,
)
from spark_streaming_twitter_spark.functions.hashing import (
    portable_hash,
    portable_hash_sql,
)
from spark_streaming_twitter_spark.registry import query

TOP_K = 5
QUERY_STRIDE = 100  # vec_id % stride == 0 -> query set (corpus stays full)
DIM = 64
LSH_BANDS = 4
LSH_BITS = 8  # sign bits per band
QUANT = float(1 << 20)  # element quantization for integer plane dots


def _plane_weight(band: int, bit: int, d: int) -> int:
    """Deterministic pseudo-random hyperplane weight in [-1000, 1000]."""
    h = hashlib.md5(f"{band}:{bit}:{d}".encode()).hexdigest()
    return int(h[:15], 16) % 2001 - 1000


_PLANES: list[list[list[int]]] = [
    [[_plane_weight(band, bit, d) for d in range(DIM)] for bit in range(LSH_BITS)]
    for band in range(LSH_BANDS)
]


def _quantized(col: Column) -> Column:
    """Element-wise round(x * 2^20) as BIGINT (exact, portable)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("bigint"))


def _band_sig(qcol_name: str, band: int) -> Column:
    """8-bit sign signature of a quantized vector against one plane band.

    Built as ONE parsed SQL expression per band: the 512 plane weights ride
    inline as array literals, so plan construction is a single expr parse
    instead of thousands of py4j literal round-trips (measured ~1.7 s of
    driver-side fn time per query call the literal-by-literal way).
    """
    bits = []
    for bit in range(LSH_BITS):
        plane = "array(" + ",".join(str(w) for w in _PLANES[band][bit]) + ")"
        dot = (
            f"aggregate(zip_with({qcol_name}, {plane}, (x, w) -> x * w), "
            "0L, (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << bit} ELSE 0 END)")
    return F.expr(" + ".join(bits))


def _band_sig_sql(vec: str, band: int) -> str:
    bits = []
    for bit in range(LSH_BITS):
        plane = "[" + ", ".join(str(w) for w in _PLANES[band][bit]) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(q_{vec}, {plane}), "
            "p -> CAST(p[1] AS BIGINT) * p[2]))"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN {1 << bit} ELSE 0 END")
    return " + ".join(bits)


_QUANT_SQL = (
    "list_transform({vec}, x -> CAST(round(CAST(x AS DOUBLE) * %r) AS BIGINT))"
    % QUANT
)


def _corpus_with_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen: per-element vector expressions over a single-file scan would
    # run one task; at scale the corpus has many splits and this is a no-op.
    emb = widen(table(spark, sf_dir, "embeddings").select("vec_id", "embedding"), spark)
    # Every consumer evaluates this frame 2-4 times (both sides of the
    # bucket/cell joins, plus the exact re-rank's query and neighbor
    # sides), each paying the scan + per-element norm transform. Cache
    # it: this is the prepared-vectors table an ANN build materializes
    # anyway; it reads only the fixture parquet (never a path any query
    # writes), so no recacheByPath hazard. It is a SCOPED staging
    # persist: bench.py releases it between timed runs, so reruns and
    # sibling ANN entries rebuild it inside their own timed region
    # instead of riding a warm cache.
    return stage(emb.withColumn("n2", scaled_norm2(F.col("embedding"))))


def _ivf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, embedding, n2, qv): the prepared IVF corpus.
    Every consumer reads it two or three times (centroids, the routed
    rows, the cell scan), so it is staged once — the prepared-vectors
    table an IVF build materializes anyway, released between bench runs
    (catalog.stage)."""
    emb = widen(
        table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding"),
        spark,
    )
    return stage(
        emb.withColumn("n2", scaled_norm2(F.col("embedding"))).withColumn(
            "qv", _quantized(F.col("embedding"))
        )
    )


_COSINE_SQL = (
    f"CAST({{dot}} AS DOUBLE) / (sqrt(CAST({{na}} AS DOUBLE)) * "
    "sqrt(CAST({nb} AS DOUBLE)))"
)


def _topk_filter(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _exact_page(
    corpus: DataFrame,
    vec: str,
    dot: "Callable[[Column, Column], Column]",
    neighbors: "DataFrame | None" = None,
) -> DataFrame:
    """Brute-force exact top-k of the stride queries over ``corpus``
    (vec_id, ``vec``, n2): the query set broadcasts against the neighbor
    scan and cosine is ``dot`` over the norms' square roots — the
    similarity_topk_cosine shape for any exact integer dot. The
    neighbors are ``corpus`` itself unless ``neighbors`` (a filtered
    corpus of the same columns) is given."""
    queries = corpus.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec).alias("q_vec"),
        F.col("n2").alias("q_n2"),
    )
    cosine = dot(F.col("q_vec"), F.col(vec)).cast("double") / (
        F.sqrt(F.col("q_n2").cast("double")) * F.sqrt(F.col("n2").cast("double"))
    )
    return _topk_filter(
        (corpus if neighbors is None else neighbors)
        .crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("cosine")
        )
    )


# ---------------------------------------------------------------------------
# The IVF coarse quantizer, shared by every IVF search, dedup, ingest and
# maintenance path (and kmeans): exact-integer centroids are the per-cell
# floor mean of the quantized vectors, and a vector routes to its cells by
# integer dot, ranked (dot DESC, label ASC) — the oracles' tie-break.
# ---------------------------------------------------------------------------


def _int_dot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot of two bigint arrays (already-quantized domain —
    no rounding step, unlike scaled_dot over raw floats)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _dim_sums(vecs: DataFrame, key: str, vec: "str | Column") -> DataFrame:
    """(key, d0, s, cnt): per-(cell, dim) integer sum and member count."""
    return (
        vecs.select(key, F.posexplode(vec).alias("d0", "v"))
        .groupBy(key, "d0")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("cnt"))
    )


def _centroids(
    vecs: DataFrame, key: str = "label", vec: "str | Column" = "qv"
) -> DataFrame:
    """(key, cvec): exact-integer floor-mean centroid per ``key``. DIV
    truncates toward zero, so subtracting pmod first makes the quotient
    exact and truncation == floor, with no double rounding even when the
    dim-sums exceed 2^53."""
    return (
        _dim_sums(vecs, key, vec)
        .select(key, "d0", F.expr("(s - pmod(s, cnt)) DIV cnt").alias("c"))
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d0", "c"))), lambda x: x["c"]
            ).alias("cvec")
        )
    )


def _cell_stats(
    vecs: DataFrame, key: str, vec: "str | Column" = "qv"
) -> "dict[int, list[list[int]]]":
    """{cell: [[sum, count] per dim]} collected to the driver — index
    metadata, n_cells x DIM integers at any corpus size."""
    stats: dict[int, dict[int, list[int]]] = {}
    for r in _dim_sums(vecs, key, vec).collect():
        stats.setdefault(int(r[key]), {})[int(r["d0"])] = [int(r["s"]), int(r["cnt"])]
    return {cell: [dims[d] for d in sorted(dims)] for cell, dims in stats.items()}


def _floor_div_centroid(st: "list[list[int]]") -> "list[int]":
    """Exact-integer floor-mean centroid from per-dim [sum, count] stats
    (Python's // already floors, matching _centroids)."""
    return [s // n for s, n in st]


def _route(
    rows: DataFrame, centroids: DataFrame, id_col: str, nprobe: int
) -> DataFrame:
    """``rows`` (id_col, qv, ...) x their top-``nprobe`` cells: the
    centroid table broadcasts against the rows, and each row ranks every
    cell by (dot DESC, label ASC) into ``rr``. Adds label and rr."""
    w = Window.partitionBy(id_col).orderBy(F.col("cdot").desc(), F.col("label").asc())
    return (
        rows.crossJoin(F.broadcast(centroids))
        .withColumn("cdot", _int_dot(F.col("qv"), F.col("cvec")))
        .withColumn("rr", F.row_number().over(w))
        .where(F.col("rr") <= nprobe)
        .drop("cvec", "cdot")
    )


def _cell_literal(cells: "dict[int, list[int]]") -> Column:
    """The centroid table {label: cvec} as one literal
    array<struct<label, cvec>> in label order, parsed as a single SQL
    expression (no per-element literal round-trips)."""
    return F.expr(
        "array("
        + ", ".join(
            f"named_struct('label', {int(lab)}L, 'cvec', array("
            + ", ".join(f"{int(c)}L" for c in cells[lab])
            + "))"
            for lab in sorted(cells)
        )
        + ")"
    )


def _top_cells(cells: Column, nprobe: int) -> Column:
    """The row's top-``nprobe`` cells of literal ``cells`` as
    array<struct<negdot, label>>: a pure projection, no join and no
    shuffle. Each dot is materialized once by the transform (higher-order
    expressions don't CSE — SCALE.md), and sorting (-dot, label)
    ascending is (dot DESC, label ASC), the oracles' tie-break."""
    scored = F.transform(
        cells,
        lambda s: F.struct(
            (-_int_dot(F.col("qv"), s["cvec"])).alias("negdot"),
            s["label"].alias("label"),
        ),
    )
    return F.slice(F.array_sort(scored), 1, nprobe)


_ORACLE_PRELUDE = f"""
WITH corpus AS (
  SELECT vec_id, embedding,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2
  FROM corpus WHERE vec_id % {QUERY_STRIDE} = 0
)
"""


@query(
    "similarity_topk_cosine",
    oracle=f"""
{_ORACLE_PRELUDE},
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q JOIN corpus c ON q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
""",
    doc="Exact brute-force cosine top-k: the query set broadcasts against "
    "the corpus scan (queries << corpus), so the corpus never shuffles; "
    "per-query ranking shuffles only (query, neighbor, score) triples. "
    "Integer-scaled dots -> bitwise-deterministic scores and ranks.",
    bench=True,
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_page(_corpus_with_norms(spark, sf_dir), "embedding", scaled_dot)


# The ANN (LSH) candidate-generation + re-rank CTE chain, shared by the
# similarity_ann_lsh_topk / multiprobe / recall oracles. The bucket CTEs
# are probe-independent (the corpus index is built once); the cand/scored/
# ranked chain is generated per probe policy with a name suffix so two
# policies can coexist in one oracle (the probed-recall query).
_ANN_BUCKETS_CTES = f"""
quantized AS (
  SELECT vec_id, embedding, n2,
         {_QUANT_SQL.format(vec="embedding")} AS q_embedding
  FROM corpus
),
buckets AS (
  SELECT vec_id, embedding, n2, band,
         CASE band {" ".join(f"WHEN {b} THEN {_band_sig_sql('embedding', b)}" for b in range(LSH_BANDS))} END AS sig
  FROM quantized
  CROSS JOIN (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS band)
)"""

_PROBE_FLIPS = [0] + [1 << b for b in range(LSH_BITS)]


def _ann_cand_ranked_ctes(
    multiprobe: bool, suffix: str = "", neighbor_mod: int | None = None
) -> str:
    if multiprobe:
        flips = ", ".join(str(x) for x in _PROBE_FLIPS)
        probe_src = f"""(
    SELECT qb0.vec_id, qb0.band, xor(qb0.sig, f.flip) AS sig
    FROM buckets qb0
    CROSS JOIN (SELECT unnest([{flips}]) AS flip) f
    WHERE qb0.vec_id % {QUERY_STRIDE} = 0
  ) qb"""
        qfilter = ""
    else:
        probe_src = "buckets qb"
        qfilter = f"WHERE qb.vec_id % {QUERY_STRIDE} = 0"
    pred = (
        f" AND cb.vec_id % {neighbor_mod} = 1"
        if neighbor_mod is not None
        else ""
    )
    return f""",
cand{suffix} AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM {probe_src}
  JOIN buckets cb ON qb.band = cb.band AND qb.sig = cb.sig
                 AND qb.vec_id <> cb.vec_id{pred}
  {qfilter}
),
scored{suffix} AS (
  SELECT c.query_id, c.neighbor_id,
         CAST({scaled_dot_sql("q.embedding", "n.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
           AS cosine
  FROM cand{suffix} c
  JOIN corpus q ON q.vec_id = c.query_id
  JOIN corpus n ON n.vec_id = c.neighbor_id
),
ranked{suffix} AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored{suffix}
)"""


_ANN_RANKED_CTES = _ANN_BUCKETS_CTES + _ann_cand_ranked_ctes(False)


@query(
    "similarity_ann_lsh_topk",
    oracle=f"""
{_ORACLE_PRELUDE},
{_ANN_RANKED_CTES}
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
""",
    doc="ANN via random-hyperplane LSH: 4 bands x 8 sign-bits (integer "
    "plane dots on 2^20-quantized elements — exact and portable); corpus "
    "bucketed once, queries probe via equi-join on (band, sig), exact "
    "cosine re-rank on candidates only. Probabilistic recall by design; "
    "the oracle replicates the same algorithm so results are identical.",
    bench=True,
)
def similarity_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_with_norms(spark, sf_dir)
    return _exact_rerank_topk(corpus, _lsh_candidates(corpus, multiprobe=False))


def _lsh_candidates(
    corpus: DataFrame, multiprobe: bool, neighbor_mod: int | None = None
) -> DataFrame:
    """(query_id, neighbor_id) LSH candidate pairs; corpus bucketed ONCE.

    ``multiprobe=True`` additionally probes, per band, every signature at
    Hamming distance 1 from the query's (8 one-bit flips + the original =
    9 probes/band). The expansion is QUERY-side only — the corpus index is
    untouched, which is the multi-probe trade: more probe lookups against
    the same index buys recall without any extra index space or build
    cost (Lv et al., VLDB'07 — the composition-of-equi-joins shape holds).
    ``neighbor_mod``: optional metadata predicate (``vec_id % mod = 1``)
    applied to the INDEX side of the bucket probe before ranking — the
    pre-filtered-ANN composition, same as the IVF variant.
    """
    quantized = corpus.withColumn("q_embedding", _quantized(F.col("embedding")))
    # One explode, not a 4-way union: a union of N projections of the same
    # input recomputes the quantization N times on each side of the bucket
    # self-join (see dedup.minhash_buckets for the same trap) — the exploded
    # struct array keeps a single linear plan, bucketing the corpus ONCE.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                _band_sig("q_embedding", band).alias("sig"),
            )
            for band in range(LSH_BANDS)
        ]
    )
    buckets = quantized.select(
        "vec_id", "embedding", "n2", F.explode(band_structs).alias("bs")
    ).select(
        "vec_id",
        "embedding",
        "n2",
        F.col("bs.band").alias("band"),
        F.col("bs.sig").alias("sig"),
    )
    qb = buckets.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), "band", "sig"
    )
    if multiprobe:
        flips = F.array(*[F.lit(x) for x in _PROBE_FLIPS])
        qb = qb.withColumn("flip", F.explode(flips)).select(
            "query_id",
            "band",
            F.col("sig").bitwiseXOR(F.col("flip")).alias("sig"),
        )
    index = buckets.select(
        F.col("vec_id").alias("neighbor_id"), "band", "sig"
    )
    if neighbor_mod is not None:
        index = index.where(F.col("neighbor_id") % neighbor_mod == 1)
    return (
        qb.join(index, ["band", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def _exact_rerank_topk(corpus: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact integer-scaled cosine re-rank of a candidate pair set."""
    q = corpus.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("q_n2"),
    )
    n = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("n2").alias("n_n2"),
    )
    cosine = scaled_dot(F.col("q_emb"), F.col("n_emb")).cast("double") / (
        F.sqrt(F.col("q_n2").cast("double")) * F.sqrt(F.col("n_n2").cast("double"))
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
    )
    return _topk_filter(scored)


@query(
    "similarity_ann_recall",
    oracle=f"""
{_ORACLE_PRELUDE},
{_ANN_RANKED_CTES},
exact_scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q JOIN corpus c ON q.query_id <> c.vec_id
),
exact_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM exact_scored
)
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= {TOP_K}) e
LEFT JOIN (SELECT query_id, neighbor_id FROM ranked WHERE rank <= {TOP_K}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
""",
    doc="ANN quality measurement as a first-class query: per-query recall@k "
    "of the LSH index against the exact brute-force ranking — the metric "
    "that governs the bands/bits tradeoff before pointing the index at "
    "100 TB. Both rankings are integer-scaled and fully deterministic, so "
    "the recall fractions are bitwise-reproducible (k*id/k arithmetic, "
    "no float sums) and the DuckDB twin re-derives the identical number.",
)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ann = similarity_ann_lsh_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = exact.join(ann, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("hit").alias("n_hits"),
        (F.count("hit").cast("double") / F.count(F.lit(1))).alias("recall"),
    )


@query(
    "similarity_ann_multiprobe_topk",
    oracle=f"""
{_ORACLE_PRELUDE},
{_ANN_BUCKETS_CTES}{_ann_cand_ranked_ctes(True)}
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
""",
    doc="Multi-probe LSH ANN: same 4x8-bit index as "
    "similarity_ann_lsh_topk, but each query also probes the 8 "
    "Hamming-distance-1 band signatures (9 probes/band via a query-side "
    "explode; the corpus index is bucketed once and unchanged). Candidate "
    "set is a strict superset of the unprobed one, so recall@k can only "
    "rise; cost rises only in probe-join fan-out, not index size — the "
    "knob that buys recall at 100 TB without rebuilding the index. Exact "
    "integer-scaled re-rank on candidates, deterministic as ever.",
    bench=True,
)
def similarity_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_with_norms(spark, sf_dir)
    return _exact_rerank_topk(corpus, _lsh_candidates(corpus, multiprobe=True))


@query(
    "similarity_ann_recall_probed",
    oracle=f"""
{_ORACLE_PRELUDE},
{_ANN_BUCKETS_CTES}{_ann_cand_ranked_ctes(False)}{_ann_cand_ranked_ctes(True, suffix="_p")},
exact_scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q JOIN corpus c ON q.query_id <> c.vec_id
),
exact_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM exact_scored
)
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(p.neighbor_id) AS BIGINT) AS n_hits_probed,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall,
       CAST(count(p.neighbor_id) AS DOUBLE) / count(*) AS recall_probed,
       CAST(count(p.neighbor_id) >= count(a.neighbor_id) AS INT)
         AS probed_not_worse
FROM (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= {TOP_K}) e
LEFT JOIN (SELECT query_id, neighbor_id FROM ranked WHERE rank <= {TOP_K}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
LEFT JOIN (SELECT query_id, neighbor_id FROM ranked_p WHERE rank <= {TOP_K}) p
  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
GROUP BY e.query_id
""",
    doc="The multi-probe recall/cost curve made a first-class metric: "
    "per-query recall@k of the unprobed AND the Hamming-1-probed index "
    "against the exact ranking, side by side, plus the invariant flag "
    "probed_not_worse. That flag is a theorem, not an observation: the "
    "probed candidate set is a superset (flip 0 = the original probe), and "
    "under exact re-rank with the shared (cosine DESC, id ASC) tie-break a "
    "superset can only keep or add true top-k members — so the oracle "
    "pins it to 1 for every query. Everything is integer-scaled and "
    "bitwise-deterministic, like similarity_ann_recall.",
)
def similarity_ann_recall_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    ann = similarity_ann_lsh_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    probed = similarity_ann_multiprobe_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit_p")
    )
    joined = exact.join(ann, ["query_id", "neighbor_id"], "left").join(
        probed, ["query_id", "neighbor_id"], "left"
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("hit").alias("n_hits"),
        F.count("hit_p").alias("n_hits_probed"),
        (F.count("hit").cast("double") / F.count(F.lit(1))).alias("recall"),
        (F.count("hit_p").cast("double") / F.count(F.lit(1))).alias(
            "recall_probed"
        ),
        (F.count("hit_p") >= F.count("hit")).cast("int").alias(
            "probed_not_worse"
        ),
    )


@query(
    "similarity_ivf_topk",
    oracle=f"""
{_ORACLE_PRELUDE},
quantized AS (
  SELECT c.vec_id, e.label, {_QUANT_SQL.format(vec="c.embedding")} AS qv, c.n2
  FROM corpus c JOIN embeddings e ON c.vec_id = e.vec_id
),
dims AS (
  SELECT vec_id, label, qv, n2,
         unnest(generate_series(1, {DIM})) AS d
  FROM quantized
),
centroid_dims AS (
  -- exact integer FLOOR division: BOTH engines truncate toward zero
  -- (DuckDB // and Spark DIV agree: -7/2 -> -3), so subtract the positive
  -- modulus first to make the quotient exact — then truncation == floor.
  SELECT label, d,
         CAST((sum(qv[d]) - (((sum(qv[d]) % count(*)) + count(*)) % count(*)))
              // count(*) AS BIGINT) AS c
  FROM dims GROUP BY label, d
),
centroids AS (
  SELECT label, list(c ORDER BY d) AS cvec FROM centroid_dims GROUP BY label
),
routed AS (
  SELECT q.vec_id AS query_id, c.label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_sum(list_transform(list_zip(q.qv, c.cvec),
                                            p -> CAST(p[1] AS BIGINT) * p[2]))
                    DESC, c.label ASC) AS rn
  FROM quantized q CROSS JOIN centroids c
  WHERE q.vec_id % {QUERY_STRIDE} = 0
),
cell AS (SELECT query_id, label FROM routed WHERE rn = 1),
scored AS (
  SELECT cell.query_id, n.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.embedding", "n.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
           AS cosine
  FROM cell
  JOIN quantized qn ON qn.label = cell.label
  JOIN corpus n ON n.vec_id = qn.vec_id AND n.vec_id <> cell.query_id
  JOIN corpus q ON q.vec_id = cell.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
""",
    doc="IVF-style two-stage search: coarse centroids = exact integer mean "
    "per label cell (floor-div of bigint dim-sums — no float accumulation), "
    "queries route to argmax-dot centroid, exact search within the cell "
    "only. At scale the cell id partitions the corpus: each query touches "
    "1/n_cells of the data with co-located shuffle reads.",
    bench=True,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_probe_topk(spark, sf_dir, 1)


@query(
    "similarity_topk_numpy",
    oracle=f"""
{_ORACLE_PRELUDE},
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q JOIN corpus c ON q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id,
       list_aggregate(list_sort(list(neighbor_id)), 'string_agg', ',')
         AS neighbor_ids
FROM ranked WHERE rank <= {TOP_K}
GROUP BY query_id
""",
    doc="Brute-force top-k via mapInPandas + numpy matmul: the Arrow-batched "
    "Pandas-UDF pattern for high-dim embeddings where per-element Catalyst "
    "expressions dominate. Query matrix rides the closure (broadcast); each "
    "Arrow batch of corpus vectors does one (batch x dim)@(dim x q) GEMM. "
    "BLAS float sums are not bitwise portable and can reorder true ties or "
    "near-ties straddling the rank-K boundary, so the GEMM is used only as "
    "a PRUNER: each batch keeps a padded 2K float top-k, and the surviving "
    "candidates are RE-SCORED with the exact integer-scaled dot (identical "
    "formula + (cosine DESC, id ASC) tie-break to the oracle) before the "
    "final rank — the float path decides speed, never the answer. The "
    "oracle then checks the per-query top-k NEIGHBOR-ID SET (sorted by id, "
    "scores dropped) against the exact integer-scaled ranking's.",
)
def similarity_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qrows = (
        emb.where(F.col("vec_id") % QUERY_STRIDE == 0).collect()
    )  # query set is tiny by contract (vec_id % stride)
    q_ids = np.array([r.vec_id for r in qrows])
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    # Per-batch float prune keeps 2K (not K) candidates: a true top-K
    # neighbor can only be lost here if float rounding demotes it past
    # K other vectors IN ITS OWN BATCH — the padding makes that require a
    # K-deep reorder, not a single boundary tie.
    BATCH_KEEP = 2 * TOP_K

    def topk_batches(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            cos = (mat @ q_mat.T) / np.outer(norms, q_norm)
            out = []
            for qi, qid in enumerate(q_ids):
                col = cos[:, qi]
                mask = ids != qid
                cand_ids, cand_cos = ids[mask], col[mask]
                k = min(BATCH_KEEP, len(cand_ids))
                if k == 0:
                    continue
                part = np.argpartition(-cand_cos, k - 1)[:k]
                out.append(
                    pd.DataFrame(
                        {"query_id": qid, "neighbor_id": cand_ids[part]}
                    )
                )
            if out:
                yield pd.concat(out)

    cand = emb.mapInPandas(topk_batches, "query_id long, neighbor_id long")
    # Exact integer-scaled re-rank of the pruned candidate set — same
    # scaled_dot + tie-break as similarity_topk_cosine and the oracle, so
    # the emitted ranking is bitwise-deterministic. Candidate count is
    # O(queries * batches * 2K): tiny, so the query side broadcasts.
    corpus = _corpus_with_norms(spark, sf_dir)
    qdf = corpus.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("q_n2"),
    )
    exact_cos = scaled_dot(F.col("q_emb"), F.col("n_emb")).cast("double") / (
        F.sqrt(F.col("q_n2").cast("double"))
        * F.sqrt(F.col("n_n2").cast("double"))
    )
    scored = (
        cand.join(
            corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
                F.col("n2").alias("n_n2"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "neighbor_id", exact_cos.alias("cosine"))
    )
    return (
        _topk_filter(scored)
        .groupBy("query_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("neighbor_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("neighbor_ids")
        )
    )


SEMANTIC_TAU = 0.45  # matches dedup_embedding_cosine_pairs (fixture max ~0.52)


@query(
    "dedup_semantic_within_cells",
    oracle=f"""
{_ORACLE_PRELUDE},
quantized AS (
  SELECT c.vec_id, e.label, {_QUANT_SQL.format(vec="c.embedding")} AS qv, c.n2
  FROM corpus c JOIN embeddings e ON c.vec_id = e.vec_id
),
dims AS (
  SELECT vec_id, label, qv, n2,
         unnest(generate_series(1, {DIM})) AS d
  FROM quantized
),
centroid_dims AS (
  SELECT label, d,
         CAST((sum(qv[d]) - (((sum(qv[d]) % count(*)) + count(*)) % count(*)))
              // count(*) AS BIGINT) AS c
  FROM dims GROUP BY label, d
),
centroids AS (
  SELECT label, list(c ORDER BY d) AS cvec FROM centroid_dims GROUP BY label
),
routed AS (
  SELECT q.vec_id, c.label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_sum(list_transform(list_zip(q.qv, c.cvec),
                                            p -> CAST(p[1] AS BIGINT) * p[2]))
                    DESC, c.label ASC) AS rn
  FROM quantized q CROSS JOIN centroids c
),
cells AS (SELECT vec_id, label FROM routed WHERE rn = 1),
close_pairs AS (
  SELECT cb.vec_id AS vec_id, ca.vec_id AS keeper_cand,
         CAST({scaled_dot_sql("a.embedding", "b.embedding")} AS DOUBLE)
           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
           AS cosine
  FROM cells ca
  JOIN cells cb ON ca.label = cb.label AND ca.vec_id < cb.vec_id
  JOIN corpus a ON a.vec_id = ca.vec_id
  JOIN corpus b ON b.vec_id = cb.vec_id
  WHERE CAST({scaled_dot_sql("a.embedding", "b.embedding")} AS DOUBLE)
          / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
        >= {SEMANTIC_TAU}
),
best AS (
  SELECT vec_id, keeper_cand,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, keeper_cand ASC) AS rn
  FROM close_pairs
)
SELECT c.vec_id, c.label AS cell,
       CAST(b.keeper_cand IS NOT NULL AS INT) AS dropped,
       b.keeper_cand AS keeper_id
FROM cells c
LEFT JOIN (SELECT vec_id, keeper_cand FROM best WHERE rn = 1) b
  USING (vec_id)
""",
    doc="SemDeDup-class semantic dedup (Abbas et al. 2023 shape): route "
    "EVERY vector to its nearest exact-integer coarse centroid, then find "
    "near-duplicate pairs ONLY within a cell — the clustering bounds the "
    "pairwise stage to O(sum cell_i^2), never a global self-join; at "
    "100 TB the cell count scales with the corpus so cell size (and the "
    "per-cell quadratic term) stays constant, and the cell id is the "
    "shuffle key. Drop rule is deterministic and pair-local: a vector is "
    "dropped iff a SMALLER-id cell-mate has cosine >= tau; keeper_id is "
    "its highest-cosine such mate (tie: smallest id). All dots are "
    "integer-scaled (bitwise-portable); the oracle replays routing, "
    "pairing, and keeper choice exactly. Complements "
    "dedup_embedding_cosine_pairs (the O(n^2) exact baseline) and the "
    "MinHash family (token-level): this is the EMBEDDING-level scale "
    "path.",
)
def dedup_semantic_within_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _ivf_corpus(spark, sf_dir)
    cells = _route(
        corpus.select("vec_id", "qv"), _centroids(corpus), "vec_id", 1
    ).select("vec_id", F.col("label").alias("cell"))
    routed = cells.join(
        corpus.select("vec_id", "embedding", "n2"), "vec_id"
    )
    a = routed.select(
        F.col("vec_id").alias("keeper_cand"),
        F.col("cell"),
        F.col("embedding").alias("emb_a"),
        F.col("n2").alias("n2_a"),
    )
    b = routed.select(
        F.col("vec_id").alias("vec_id"),
        F.col("cell"),
        F.col("embedding").alias("emb_b"),
        F.col("n2").alias("n2_b"),
    )
    cosine = scaled_dot(F.col("emb_a"), F.col("emb_b")).cast("double") / (
        F.sqrt(F.col("n2_a").cast("double"))
        * F.sqrt(F.col("n2_b").cast("double"))
    )
    close = (
        a.join(b, "cell")
        .where(F.col("keeper_cand") < F.col("vec_id"))
        .select("vec_id", "keeper_cand", cosine.alias("cosine"))
        .where(F.col("cosine") >= SEMANTIC_TAU)
    )
    w_best = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("keeper_cand").asc()
    )
    best = (
        close.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("keeper_cand").alias("keeper_id"))
    )
    return cells.join(best, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.col("keeper_id").isNotNull().cast("int").alias("dropped"),
        "keeper_id",
    )


IVF_NPROBE = 2  # cells probed by the nprobe variant (top-1 is the base IVF)

# Shared IVF oracle chain for the nprobe variant + its recall twin: same
# exact-integer centroid construction as similarity_ivf_topk, with the
# cells/scored/ranked chain generated per probe depth (suffix-named so two
# depths coexist in one oracle).
_IVF_PREFIX_CTES = f"""
quantized AS (
  SELECT c.vec_id, e.label, {_QUANT_SQL.format(vec="c.embedding")} AS qv, c.n2
  FROM corpus c JOIN embeddings e ON c.vec_id = e.vec_id
),
dims AS (
  SELECT vec_id, label, qv, n2,
         unnest(generate_series(1, {DIM})) AS d
  FROM quantized
),
centroid_dims AS (
  SELECT label, d,
         CAST((sum(qv[d]) - (((sum(qv[d]) % count(*)) + count(*)) % count(*)))
              // count(*) AS BIGINT) AS c
  FROM dims GROUP BY label, d
),
centroids AS (
  SELECT label, list(c ORDER BY d) AS cvec FROM centroid_dims GROUP BY label
),
routed AS (
  SELECT q.vec_id AS query_id, c.label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_sum(list_transform(list_zip(q.qv, c.cvec),
                                            p -> CAST(p[1] AS BIGINT) * p[2]))
                    DESC, c.label ASC) AS rn
  FROM quantized q CROSS JOIN centroids c
  WHERE q.vec_id % {QUERY_STRIDE} = 0
)"""


def _ivf_ranked_ctes(
    nprobe: int, suffix: str = "", neighbor_mod: int | None = None
) -> str:
    pred = (
        f" AND n.vec_id % {neighbor_mod} = 1"
        if neighbor_mod is not None
        else ""
    )
    return f""",
cells{suffix} AS (SELECT query_id, label FROM routed WHERE rn <= {nprobe}),
scored{suffix} AS (
  SELECT cells{suffix}.query_id, n.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.embedding", "n.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
           AS cosine
  FROM cells{suffix}
  JOIN quantized qn ON qn.label = cells{suffix}.label
  JOIN corpus n ON n.vec_id = qn.vec_id AND n.vec_id <> cells{suffix}.query_id{pred}
  JOIN corpus q ON q.vec_id = cells{suffix}.query_id
),
ranked{suffix} AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored{suffix}
)"""


def _ivf_probe_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    neighbor_mod: int | None = None,
) -> DataFrame:
    """Query side of IVF with a configurable probe depth (exact re-rank).

    ``neighbor_mod``: optional metadata predicate (``vec_id % mod = 1``)
    applied to the CANDIDATES of the probed cells BEFORE ranking — the
    pre-filtered-ANN composition; the filter lands on the corpus scan, so
    ineligible vectors never enter the candidate join.
    """
    corpus = _ivf_corpus(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        "qv",
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("q_n2"),
    )
    cells = _route(queries, _centroids(corpus), "query_id", nprobe)
    neighbors = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").alias("n_emb"),
        F.col("n2").alias("n_n2"),
    )
    if neighbor_mod is not None:
        neighbors = neighbors.where(
            F.col("neighbor_id") % neighbor_mod == 1
        )
    cosine = scaled_dot(F.col("q_emb"), F.col("n_emb")).cast("double") / (
        F.sqrt(F.col("q_n2").cast("double")) * F.sqrt(F.col("n_n2").cast("double"))
    )
    scored = (
        neighbors.join(F.broadcast(cells), "label")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
    )
    return _topk_filter(scored)


@query(
    "similarity_ivf_nprobe_topk",
    oracle=f"""
{_ORACLE_PRELUDE},
{_IVF_PREFIX_CTES}{_ivf_ranked_ctes(IVF_NPROBE)}
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
""",
    doc=f"IVF with nprobe={IVF_NPROBE} — the IVF recall knob, twin to LSH "
    "multi-probe: each query searches its top-2 nearest cells instead of "
    "1, doubling the probed fraction of the corpus (2/n_cells) without "
    "touching the index or the partitioning. Cell members are disjoint "
    "(one label per vector), so the candidate set is exactly the union "
    "of the probed cells; exact integer-scaled re-rank as always.",
)
def similarity_ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_probe_topk(spark, sf_dir, IVF_NPROBE)


@query(
    "similarity_ivf_recall_nprobe",
    oracle=f"""
{_ORACLE_PRELUDE},
{_IVF_PREFIX_CTES}{_ivf_ranked_ctes(1)}{_ivf_ranked_ctes(IVF_NPROBE, suffix="_p")},
exact_scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q JOIN corpus c ON q.query_id <> c.vec_id
),
exact_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM exact_scored
)
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(p.neighbor_id) AS BIGINT) AS n_hits_nprobe,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall,
       CAST(count(p.neighbor_id) AS DOUBLE) / count(*) AS recall_nprobe,
       CAST(count(p.neighbor_id) >= count(a.neighbor_id) AS INT)
         AS nprobe_not_worse
FROM (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= {TOP_K}) e
LEFT JOIN (SELECT query_id, neighbor_id FROM ranked WHERE rank <= {TOP_K}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
LEFT JOIN (SELECT query_id, neighbor_id FROM ranked_p WHERE rank <= {TOP_K}) p
  ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
GROUP BY e.query_id
""",
    doc="The IVF recall/cost curve: per-query recall@k at nprobe=1 vs "
    f"nprobe={IVF_NPROBE} against the exact ranking, plus the invariant "
    "flag nprobe_not_worse — a theorem by the same superset argument as "
    "similarity_ann_recall_probed (probing more cells only adds "
    "candidates; exact re-rank with the shared tie-break can only keep "
    "or add true top-k members). Together the two recall queries give "
    "the index-tuning picture for both ANN families.",
)
def similarity_ivf_recall_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    base = _ivf_probe_topk(spark, sf_dir, 1).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    probed = _ivf_probe_topk(spark, sf_dir, IVF_NPROBE).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit_p")
    )
    joined = exact.join(base, ["query_id", "neighbor_id"], "left").join(
        probed, ["query_id", "neighbor_id"], "left"
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("hit").alias("n_hits"),
        F.count("hit_p").alias("n_hits_nprobe"),
        (F.count("hit").cast("double") / F.count(F.lit(1))).alias("recall"),
        (F.count("hit_p").cast("double") / F.count(F.lit(1))).alias(
            "recall_nprobe"
        ),
        (F.count("hit_p") >= F.count("hit")).cast("int").alias(
            "nprobe_not_worse"
        ),
    )


@query(
    "similarity_diversified_topk",
    oracle=f"""
{_ORACLE_PRELUDE},
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, e.label,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q
  JOIN corpus c ON q.query_id <> c.vec_id
  JOIN embeddings e ON e.vec_id = c.vec_id
),
label_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, label
                               ORDER BY cosine DESC, neighbor_id ASC)
              AS label_rank
  FROM scored
),
diversified AS (
  SELECT query_id, neighbor_id, label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM label_ranked WHERE label_rank <= 2
)
SELECT query_id, neighbor_id, CAST(label AS INT) AS label,
       CAST(rank AS BIGINT) AS rank, cosine
FROM diversified WHERE rank <= {TOP_K}
""",
    doc="Diversified top-k — search-result diversification by source "
    "cluster (at most 2 results per label in each query's top-k page), "
    "serving-side constraint every retrieval stack layers over raw "
    "similarity (dedupe near-identical sources, force topical spread "
    "in RAG context windows). Two stacked rank windows: per-(query, "
    "label) quota first, then the global cut over survivors — both "
    "rank over bitwise-deterministic integer-scaled cosines, so the "
    "diversified page is hash-exact. Plan shape matches the exact "
    "scorer (query set broadcasts, corpus streams); the label quota "
    "window keys on (query, label) — same shuffle cardinality class "
    "as the plain ranking.",
)
def similarity_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_with_norms(spark, sf_dir).join(
        table(spark, sf_dir, "embeddings").select("vec_id", "label"), "vec_id"
    )
    queries = corpus.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("q_n2"),
    )
    pairs = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    )
    cosine = scaled_dot(F.col("q_emb"), F.col("embedding")).cast("double") / (
        F.sqrt(F.col("q_n2").cast("double"))
        * F.sqrt(F.col("n2").cast("double"))
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("int").alias("label"),
        cosine.alias("cosine"),
    )
    w_label = Window.partitionBy("query_id", "label").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    w_global = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("label_rank", F.row_number().over(w_label))
        .where(F.col("label_rank") <= 2)
        .withColumn("rank", F.row_number().over(w_global).cast("bigint"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "label", "rank", "cosine")
    )


# Matryoshka retrieval (Kusupati et al. 2022, "Matryoshka Representation
# Learning"): MRL-trained embeddings pack coarse semantics into their prefix
# dims, so searching on the first MRL_DIMS coordinates buys a DIMS/MRL_DIMS
# compute-and-bandwidth cut; the recall twin measures what that truncation
# costs on THIS corpus (synthetic fixtures aren't MRL-trained, so the
# measured recall is the honest pessimistic floor).
MRL_DIMS = 16

_MRL_EMB = f"embedding[1:{MRL_DIMS}]"

_MRL_PRELUDE = f"""
WITH m_corpus AS (
  SELECT vec_id, {_MRL_EMB} AS m_emb,
         {scaled_dot_sql(_MRL_EMB, _MRL_EMB)} AS m_n2
  FROM embeddings
),
m_queries AS (
  SELECT vec_id AS query_id, m_emb AS q_emb, m_n2 AS q_n2
  FROM m_corpus WHERE vec_id % {QUERY_STRIDE} = 0
),
m_scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "c.m_emb")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.m_n2 AS DOUBLE)))
           AS cosine
  FROM m_queries q JOIN m_corpus c ON q.query_id <> c.vec_id
),
m_ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM m_scored
)"""


def _mrl_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(table(spark, sf_dir, "embeddings").select("vec_id", "embedding"), spark)
    trunc = F.slice(F.col("embedding"), 1, MRL_DIMS)
    return emb.select(
        "vec_id", trunc.alias("m_emb")
    ).withColumn("m_n2", scaled_norm2(F.col("m_emb")))


@query(
    "similarity_matryoshka_topk",
    oracle=f"""
{_MRL_PRELUDE}
SELECT query_id, neighbor_id, rank, cosine FROM m_ranked WHERE rank <= {TOP_K}
""",
    doc="Matryoshka-truncated retrieval (Kusupati et al. 2022): exact "
    "cosine top-k over only the first 16 of 64 embedding dims — a 4x cut "
    "in dot-product flops and scan bytes (with column pruning down to "
    "the prefix at a columnar store that splits dims). Same broadcast-"
    "query/streaming-corpus shape as similarity_topk_cosine; the "
    "truncation is one slice() at the scan.",
)
def similarity_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _mrl_corpus(spark, sf_dir)
    queries = corpus.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("m_emb").alias("q_emb"),
        F.col("m_n2").alias("q_n2"),
    )
    pairs = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    )
    cosine = scaled_dot(F.col("q_emb"), F.col("m_emb")).cast("double") / (
        F.sqrt(F.col("q_n2").cast("double"))
        * F.sqrt(F.col("m_n2").cast("double"))
    )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine.alias("cosine")
    )
    return _topk_filter(scored)


@query(
    "similarity_matryoshka_recall",
    oracle=f"""
{_MRL_PRELUDE},
corpus AS (
  SELECT vec_id, embedding,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2
  FROM corpus WHERE vec_id % {QUERY_STRIDE} = 0
),
exact_scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q JOIN corpus c ON q.query_id <> c.vec_id
),
exact_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM exact_scored
)
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(count(m.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(m.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= {TOP_K}) e
LEFT JOIN (SELECT query_id, neighbor_id FROM m_ranked WHERE rank <= {TOP_K}) m
  ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
GROUP BY e.query_id
""",
    doc="Recall@5 of 16-dim Matryoshka-truncated search against the full "
    "64-dim exact ranking — the index-design metric for prefix-dim "
    "retrieval (coarse-search-then-rerank at 100 TB: truncated pass "
    "prunes, full-dim pass re-ranks survivors). Same deterministic "
    "integer-scaled arithmetic as every recall metric here.",
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    mrl = similarity_matryoshka_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = exact.join(mrl, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("hit").alias("n_hits"),
        (F.count("hit").cast("double") / F.count(F.lit(1))).alias("recall"),
    )


MRL_POOL = 50  # truncated-pass candidate pool per query before full re-rank


@query(
    "similarity_matryoshka_rerank_topk",
    oracle=f"""
{_MRL_PRELUDE},
corpus AS (
  SELECT vec_id, embedding,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2
  FROM corpus WHERE vec_id % {QUERY_STRIDE} = 0
),
cand AS (
  SELECT query_id, neighbor_id FROM m_ranked WHERE rank <= {MRL_POOL}
),
rescored AS (
  SELECT c.query_id, c.neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "f.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(f.n2 AS DOUBLE)))
           AS cosine
  FROM cand c
  JOIN queries q ON q.query_id = c.query_id
  JOIN corpus f ON f.vec_id = c.neighbor_id
),
reranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rescored
)
SELECT query_id, neighbor_id, rank, cosine
FROM reranked WHERE rank <= {TOP_K}
""",
    doc="The OPERATIONAL Matryoshka pattern (coarse-then-rerank): the "
    "16-dim truncated pass prunes the corpus to a 50-candidate pool per "
    "query (4x cheaper flops on 100% of the corpus), then the full "
    "64-dim exact cosine re-ranks only the pool (full-precision flops on "
    "1% of it). At 100 TB the full-dim vectors are fetched for POOL "
    "rows per query instead of streamed corpus-wide — the bandwidth "
    "shape IVF-PQ buys with codebooks, bought here with dimension "
    "prefixes instead. Both passes integer-scaled and deterministic.",
)
def similarity_matryoshka_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mrl_rerank_topk(spark, sf_dir, MRL_POOL)


def _mrl_rerank_topk(spark: SparkSession, sf_dir: str, pool: int) -> DataFrame:
    full = _corpus_with_norms(spark, sf_dir)
    trunc = _mrl_corpus(spark, sf_dir)
    m_queries = trunc.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("m_emb").alias("q_emb"),
        F.col("m_n2").alias("q_n2"),
    )
    m_pairs = trunc.join(
        F.broadcast(m_queries), F.col("query_id") != F.col("vec_id")
    )
    m_cos = scaled_dot(F.col("q_emb"), F.col("m_emb")).cast("double") / (
        F.sqrt(F.col("q_n2").cast("double"))
        * F.sqrt(F.col("m_n2").cast("double"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("m_cos").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        m_pairs.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), m_cos.alias("m_cos")
        )
        .withColumn("m_rank", F.row_number().over(w))
        .where(F.col("m_rank") <= pool)
        .select("query_id", "neighbor_id")
    )
    f_queries = full.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("q_n2"),
    )
    rescored = (
        cand.join(F.broadcast(f_queries), "query_id")
        .join(
            full.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("n_emb"),
                F.col("n2").alias("n_n2"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                scaled_dot(F.col("q_emb"), F.col("n_emb")).cast("double")
                / (
                    F.sqrt(F.col("q_n2").cast("double"))
                    * F.sqrt(F.col("n_n2").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    return _topk_filter(rescored)


MRL_POOLS = (10, 50, 250)  # pool-size sweep for the rerank tuning curve


def _mrl_pool_cte(pool: int) -> str:
    """Per-pool candidate/rescored/reranked CTE chain (suffix _p{pool})."""
    return f""",
cand_p{pool} AS (
  SELECT query_id, neighbor_id FROM m_ranked WHERE rank <= {pool}
),
rescored_p{pool} AS (
  SELECT c.query_id, c.neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "f.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(f.n2 AS DOUBLE)))
           AS cosine
  FROM cand_p{pool} c
  JOIN queries q ON q.query_id = c.query_id
  JOIN corpus f ON f.vec_id = c.neighbor_id
),
reranked_p{pool} AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rescored_p{pool}
)"""


@query(
    "similarity_matryoshka_pool_recall",
    oracle=f"""
{_MRL_PRELUDE},
corpus AS (
  SELECT vec_id, embedding,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2
  FROM corpus WHERE vec_id % {QUERY_STRIDE} = 0
),
exact_scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q JOIN corpus c ON q.query_id <> c.vec_id
),
exact_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM exact_scored
),
exact_top AS (
  SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= {TOP_K}
){"".join(_mrl_pool_cte(p) for p in MRL_POOLS)}
{" UNION ALL ".join(
    f'''SELECT CAST({p} AS BIGINT) AS pool,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(r.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(r.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM exact_top e
LEFT JOIN (SELECT query_id, neighbor_id FROM reranked_p{p}
           WHERE rank <= {TOP_K}) r
  ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id'''
    for p in MRL_POOLS
)}
""",
    doc="The Matryoshka POOL-SIZE tuning curve: corpus-level recall@5 of "
    "the two-tier search at candidate pools 10/50/250 — the number that "
    "sizes the truncated-pass pool before a 100 TB run, exactly as "
    "similarity_ivf_recall_nprobe sizes nprobe and "
    "similarity_ann_recall_probed sizes multi-probe. Recall can only "
    "rise with pool size (candidate supersets); one aggregate row per "
    "pool, integer hit counts, one IEEE division each.",
)
def similarity_matryoshka_pool_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = similarity_topk_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    out = None
    for pool in MRL_POOLS:
        rr = _mrl_rerank_topk(spark, sf_dir, pool).select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        )
        row = (
            exact.join(rr, ["query_id", "neighbor_id"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("hit").alias("n_hits"),
                (F.count("hit").cast("double") / F.count(F.lit(1))).alias(
                    "recall"
                ),
            )
            .select(F.lit(pool).cast("long").alias("pool"), "*")
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# FILTERED vector search: metadata predicate + top-k, and the post-filter
# recall trap every vector store documents (pre-filter vs post-filter).
# ---------------------------------------------------------------------------

_FILTERED_PRELUDE = f"""
WITH corpus AS (
  SELECT vec_id, embedding, label,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, label AS q_label,
         n2 AS q_n2
  FROM corpus WHERE vec_id % {QUERY_STRIDE} = 0
),
fscored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q JOIN corpus c
    ON q.query_id <> c.vec_id AND c.label = q.q_label
),
franked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM fscored
)
"""


def _filtered_corpus_queries(spark: SparkSession, sf_dir: str):
    emb = widen(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", "label"
        ),
        spark,
    )
    corpus = emb.withColumn("n2", scaled_norm2(F.col("embedding")))
    queries = corpus.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        F.col("n2").alias("q_n2"),
    )
    return corpus, queries


@query(
    "similarity_filtered_topk",
    oracle=f"""
{_FILTERED_PRELUDE}
SELECT query_id, neighbor_id, rank, cosine
FROM franked WHERE rank <= {TOP_K}
""",
    doc="FILTERED vector search — the vector-store operation plain ANN "
    "misses: top-k cosine where every neighbor must satisfy a metadata "
    "predicate (here: same label as the query — the same-language/"
    "same-tenant constraint). PRE-filtering is the correct plan and the "
    "declarative one: the predicate joins into the scan before any "
    "ranking, so the k results are the true best among ELIGIBLE "
    "vectors, and Catalyst pushes the label equality into the broadcast "
    "hash join condition — the corpus still streams in place, never "
    "shuffles. Integer-scaled dots, bitwise-deterministic page.",
)
def similarity_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _filtered_corpus_queries(spark, sf_dir)
    pairs = corpus.join(
        F.broadcast(queries),
        (F.col("query_id") != F.col("vec_id"))
        & (F.col("label") == F.col("q_label")),
    )
    cosine = scaled_dot(F.col("q_emb"), F.col("embedding")).cast(
        "double"
    ) / (
        F.sqrt(F.col("q_n2").cast("double"))
        * F.sqrt(F.col("n2").cast("double"))
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine.alias("cosine"),
    )
    return _topk_filter(scored)


@query(
    "similarity_postfilter_loss",
    oracle=f"""
{_FILTERED_PRELUDE},
uscored AS (
  SELECT q.query_id, q.q_label, c.vec_id AS neighbor_id, c.label,
         CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE)))
           AS cosine
  FROM queries q JOIN corpus c ON q.query_id <> c.vec_id
),
utop AS (
  SELECT * FROM (
    SELECT query_id, q_label, neighbor_id, label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM uscored
  ) WHERE rank <= {TOP_K}
),
post AS (
  SELECT query_id, neighbor_id FROM utop WHERE label = q_label
),
truth AS (
  SELECT query_id, neighbor_id FROM franked WHERE rank <= {TOP_K}
)
SELECT t.query_id,
       CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_postfilter_kept,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
FROM (SELECT query_id FROM queries) t
LEFT JOIN (SELECT query_id, count(*) AS n_kept FROM post GROUP BY 1) p
  USING (query_id)
LEFT JOIN (
  SELECT p.query_id, count(*) AS n_hits
  FROM post p JOIN truth t ON t.query_id = p.query_id
                          AND t.neighbor_id = p.neighbor_id
  GROUP BY 1
) h USING (query_id)
""",
    doc="The POST-filter recall trap, measured: rank the unfiltered "
    "corpus first, then apply the metadata predicate to the top-k page "
    "(what a naive 'ANN then WHERE' pipeline does) — per query this "
    "keeps only the page's label-matching survivors "
    "(n_postfilter_kept <= k, often 0 when labels are selective) and "
    "n_hits of them coincide with the TRUE filtered top-k. "
    "Pre-filtering (similarity_filtered_topk) always returns k eligible "
    "results; post-filtering returns a shrunken, biased page — this "
    "query makes that loss a number per query, the evidence behind "
    "'push predicates INTO vector search, never after it'. Same "
    "broadcast-join shape as the exact scorer, two rank windows.",
)
def similarity_postfilter_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, queries = _filtered_corpus_queries(spark, sf_dir)
    pairs = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("vec_id")
    )
    cosine = scaled_dot(F.col("q_emb"), F.col("embedding")).cast(
        "double"
    ) / (
        F.sqrt(F.col("q_n2").cast("double"))
        * F.sqrt(F.col("n2").cast("double"))
    )
    uscored = pairs.select(
        "query_id",
        "q_label",
        F.col("vec_id").alias("neighbor_id"),
        "label",
        cosine.alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    utop = uscored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= TOP_K
    )
    post = utop.where(F.col("label") == F.col("q_label")).select(
        "query_id", "neighbor_id"
    )
    truth = similarity_filtered_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    n_kept = post.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    n_hits = (
        post.join(truth, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = queries.select("query_id")
    return (
        base.join(n_kept, "query_id", "left")
        .join(n_hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias(
                "n_postfilter_kept"
            ),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        )
    )


# ---------------------------------------------------------------------------
# FILTERED + ANN composed: the predicate applied to IVF candidates BEFORE
# ranking (similarity_filtered_topk pre-filters the exact scorer only; this
# proves the composition the approximate index needs at 100 TB), plus the
# filtered-recall metric vs the exact filtered page at two selectivities.
# ---------------------------------------------------------------------------

FILTERED_IVF_MOD = 4  # headline predicate: vec_id % 4 = 1 (25% eligible)
FILTERED_IVF_MODS = (4, 16)  # recall reported at 25% and 6.25% selectivity


def _exact_mod_topk(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """Exact filtered page for the ``vec_id % mod = 1`` predicate: the
    brute-force scorer over eligible vectors only — ground truth for the
    filtered-IVF recall metric."""
    corpus = _corpus_with_norms(spark, sf_dir)
    return _exact_page(
        corpus, "embedding", scaled_dot, corpus.where(F.col("vec_id") % mod == 1)
    )


def _exact_mod_page_sql(mod: int) -> str:
    """Oracle CTE for :func:`_exact_mod_topk` (name ``fex{mod}``)."""
    return f"""
fex{mod} AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY CAST({scaled_dot_sql("q.q_emb", "c.embedding")} AS DOUBLE)
                        / (sqrt(CAST(q.q_n2 AS DOUBLE))
                           * sqrt(CAST(c.n2 AS DOUBLE))) DESC,
                      c.vec_id ASC) AS rank
    FROM queries q
    JOIN corpus c ON q.query_id <> c.vec_id AND c.vec_id % {mod} = 1
  ) WHERE rank <= {TOP_K}
)"""


@query(
    "similarity_filtered_ivf_topk",
    oracle=f"""
{_ORACLE_PRELUDE},
{_IVF_PREFIX_CTES}{_ivf_ranked_ctes(IVF_NPROBE, neighbor_mod=FILTERED_IVF_MOD)}
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
""",
    doc=f"FILTERED vector search through the APPROXIMATE index — the "
    "composition similarity_filtered_topk (exact scorer) leaves "
    "unproven: the metadata predicate (vec_id % 4 = 1, a 25%-selective "
    "tenant/shard constraint orthogonal to the cell structure) is "
    f"applied to the IVF candidates of the nprobe={IVF_NPROBE} probed "
    "cells BEFORE ranking, so ineligible vectors never enter the "
    "candidate join — the filter lands on the corpus scan next to the "
    "cell-membership filter, exactly how a production vector store "
    "pushes predicates into candidate generation. The page is the true "
    "top-k among eligible PROBED-cell members; recall vs the exact "
    "filtered page is measured by similarity_filtered_ivf_recall. "
    "Shuffle shape identical to similarity_ivf_nprobe_topk (routing "
    "window + broadcast cells join); the predicate only shrinks it.",
    bench=True,
)
def similarity_filtered_ivf_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _ivf_probe_topk(
        spark, sf_dir, IVF_NPROBE, neighbor_mod=FILTERED_IVF_MOD
    )


@query(
    "similarity_filtered_lsh_topk",
    oracle=f"""
{_ORACLE_PRELUDE},
{_ANN_BUCKETS_CTES}{_ann_cand_ranked_ctes(False, neighbor_mod=FILTERED_IVF_MOD)}
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {TOP_K}
""",
    doc="FILTERED vector search through the LSH index — the sibling of "
    "similarity_filtered_ivf_topk completing the claim that BOTH ANN "
    "families compose with pre-filtering: the vec_id % 4 = 1 predicate "
    "lands on the INDEX side of the (band, sig) bucket probe, so "
    "ineligible vectors never become candidates and the exact re-rank "
    "sees only eligible ones. Plan shape identical to "
    "similarity_ann_lsh_topk (one corpus bucketing, equi-join probe); "
    "the predicate only shrinks the index side. At high predicate "
    "selectivity this is strictly better than filtering after the "
    "probe: bucket collision lists shrink by the selectivity before "
    "the join ever shuffles.",
)
def similarity_filtered_lsh_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    corpus = _corpus_with_norms(spark, sf_dir)
    return _exact_rerank_topk(
        corpus,
        _lsh_candidates(
            corpus, multiprobe=False, neighbor_mod=FILTERED_IVF_MOD
        ),
    )


def _filtered_ivf_recall_oracle() -> str:
    arms = []
    for mod in FILTERED_IVF_MODS:
        arms.append(
            f"""
SELECT CAST({mod} AS BIGINT) AS selectivity_mod, e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
       CAST(count(a.neighbor_id) AS DOUBLE) / count(*) AS recall
FROM fex{mod} e
LEFT JOIN (SELECT query_id, neighbor_id FROM ranked_f{mod}
           WHERE rank <= {TOP_K}) a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY 2"""
        )
    ranked = "".join(
        _ivf_ranked_ctes(IVF_NPROBE, suffix=f"_f{mod}", neighbor_mod=mod)
        for mod in FILTERED_IVF_MODS
    )
    pages = ",".join(_exact_mod_page_sql(mod) for mod in FILTERED_IVF_MODS)
    return f"""
{_ORACLE_PRELUDE},
{_IVF_PREFIX_CTES}{ranked},
{pages}
{" UNION ALL ".join(arms)}
"""


@query(
    "similarity_filtered_ivf_recall",
    oracle=_filtered_ivf_recall_oracle(),
    doc="The filtered-ANN recall metric — sibling of similarity_ann_recall "
    "for the PRE-FILTERED approximate path: per query and per predicate "
    "selectivity (vec_id % 4 = 1 -> 25% eligible, % 16 -> 6.25%), "
    "recall@k of the filtered IVF page (predicate composed into "
    "candidate generation, similarity_filtered_ivf_topk's plan) against "
    "the exact filtered page (brute force over eligible vectors). "
    "Selectivity is the axis that breaks post-filtering (measured by "
    "similarity_postfilter_loss); this query shows pre-filtered IVF "
    "degrades only by CELL-BOUNDARY loss — the probed cells may miss "
    "eligible true neighbors — which is the nprobe knob's job, not the "
    "predicate's. Both pages share the deterministic tie-break, so the "
    "metric is bitwise-stable.",
)
def similarity_filtered_ivf_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = None
    for mod in FILTERED_IVF_MODS:
        exact = _exact_mod_topk(spark, sf_dir, mod).select(
            "query_id", "neighbor_id"
        )
        approx = _ivf_probe_topk(
            spark, sf_dir, IVF_NPROBE, neighbor_mod=mod
        ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        arm = (
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("hit").alias("n_hits"),
                (F.count("hit").cast("double") / F.count(F.lit(1))).alias(
                    "recall"
                ),
            )
            .select(
                F.lit(mod).cast("bigint").alias("selectivity_mod"),
                "query_id",
                "n_exact",
                "n_hits",
                "recall",
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


# ---------------------------------------------------------------------------
# Semantic decontamination: benchmark contamination in EMBEDDING space —
# the vector-space sibling of dedup.dedup_decontaminate's shingle overlap.
# ---------------------------------------------------------------------------

SEMDECON_THRESHOLD = 0.3  # flags 48 of 490 corpus vectors at sf0.01


@query(
    "semantic_decontaminate",
    oracle=f"""
WITH norms AS (
  SELECT vec_id, embedding,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
),
bench AS (
  SELECT vec_id AS b_id, embedding AS b_emb, n2 AS b_n2
  FROM norms WHERE vec_id % 50 = 0
),
corpus AS (SELECT * FROM norms WHERE vec_id % 50 <> 0),
hits AS (
  SELECT c.vec_id, b.b_id,
         CAST({scaled_dot_sql("c.embedding", "b.b_emb")} AS DOUBLE)
           / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(b.b_n2 AS DOUBLE)))
           AS cosine
  FROM corpus c CROSS JOIN bench b
  WHERE CAST({scaled_dot_sql("c.embedding", "b.b_emb")} AS DOUBLE)
          / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(b.b_n2 AS DOUBLE)))
        >= {SEMDECON_THRESHOLD}
),
agg AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_close,
         max(cosine) AS max_cosine
  FROM hits GROUP BY 1
),
nearest AS (
  SELECT vec_id, b_id AS nearest_bench_id FROM (
    SELECT vec_id, b_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, b_id ASC) AS rn
    FROM hits
  ) WHERE rn = 1
)
SELECT a.vec_id, a.n_bench_close, n.nearest_bench_id, a.max_cosine
FROM agg a JOIN nearest n USING (vec_id)
""",
    doc="SEMANTIC decontamination — benchmark contamination caught in "
    "embedding space, the vector sibling of dedup_decontaminate's "
    "shingle-overlap check (paraphrased or reformatted eval items share "
    "no 3-gram but sit next to the benchmark in embedding space; "
    "training on them inflates evals exactly like verbatim copies): "
    "every corpus vector scoring cosine >= 0.3 against ANY benchmark "
    "vector (the vec_id % 50 = 0 held-out set) is flagged with its "
    "closest benchmark item (min-id tie-break), the number of "
    "benchmark items it is close to, and the max cosine — the drop "
    "list is the flagged vec_ids, the columns are the audit trail. "
    "Scale: the benchmark set BROADCASTS (eval suites are thousands of "
    "rows vs a 100 TB corpus), the corpus streams in place with "
    "integer-scaled dots, and the only shuffle is the per-vector "
    "window over threshold SURVIVORS — contamination-bounded, not "
    "corpus-bounded. For a corpus too big even for that scan, the IVF "
    "cell routing composes exactly as in similarity_filtered_ivf_topk.",
)
def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    norms = _corpus_with_norms(spark, sf_dir)
    bench = norms.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("n2").alias("b_n2"),
    )
    corpus = norms.where(F.col("vec_id") % 50 != 0)
    cosine = scaled_dot(F.col("embedding"), F.col("b_emb")).cast(
        "double"
    ) / (
        F.sqrt(F.col("n2").cast("double"))
        * F.sqrt(F.col("b_n2").cast("double"))
    )
    hits = (
        corpus.crossJoin(F.broadcast(bench))
        .select("vec_id", "b_id", cosine.alias("cosine"))
        .where(F.col("cosine") >= SEMDECON_THRESHOLD)
    )
    w_rank = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("b_id").asc()
    )
    w_all = Window.partitionBy("vec_id")
    return (
        hits.withColumn("rn", F.row_number().over(w_rank))
        .withColumn(
            "n_bench_close", F.count(F.lit(1)).over(w_all).cast("bigint")
        )
        .withColumn("max_cosine", F.max("cosine").over(w_all))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "n_bench_close",
            F.col("b_id").alias("nearest_bench_id"),
            "max_cosine",
        )
    )


# ANN-routed decontamination CTE chain (suffix _a so the recall oracle can
# hold it next to the exact chain): centroids are built over the CORPUS
# side only (the benchmark is not part of the index), each benchmark
# vector is routed to its top-nprobe corpus cells by the exact-integer
# centroid dot (same floor-div centroid construction as _IVF_PREFIX_CTES),
# and only corpus rows in a probed cell are scored. A corpus row has ONE
# label, so each (corpus, bench) pair surfaces at most once — no DISTINCT.
_SEMDECON_ANN_CTES = f"""
qnorms AS (
  SELECT e.vec_id, e.label, e.embedding,
         {scaled_dot_sql("e.embedding", "e.embedding")} AS n2,
         {_QUANT_SQL.format(vec="e.embedding")} AS qv
  FROM embeddings e
),
bench_a AS (
  SELECT vec_id AS b_id, embedding AS b_emb, n2 AS b_n2, qv AS b_qv
  FROM qnorms WHERE vec_id % 50 = 0
),
corpus_a AS (
  SELECT vec_id, label, embedding, n2 FROM qnorms WHERE vec_id % 50 <> 0
),
cdims_a AS (
  SELECT label, qv, unnest(generate_series(1, {DIM})) AS d
  FROM qnorms WHERE vec_id % 50 <> 0
),
centroid_dims_a AS (
  SELECT label, d,
         CAST((sum(qv[d]) - (((sum(qv[d]) % count(*)) + count(*)) % count(*)))
              // count(*) AS BIGINT) AS c
  FROM cdims_a GROUP BY label, d
),
centroids_a AS (
  SELECT label, list(c ORDER BY d) AS cvec FROM centroid_dims_a GROUP BY label
),
routed_a AS (
  SELECT b.b_id, c.label,
         row_number() OVER (
           PARTITION BY b.b_id
           ORDER BY list_sum(list_transform(list_zip(b.b_qv, c.cvec),
                                            p -> CAST(p[1] AS BIGINT) * p[2]))
                    DESC, c.label ASC) AS rn
  FROM bench_a b CROSS JOIN centroids_a c
),
bcells_a AS (SELECT b_id, label FROM routed_a WHERE rn <= {IVF_NPROBE}),
hits_a AS (
  SELECT c.vec_id, j.b_id,
         CAST({scaled_dot_sql("c.embedding", "b.b_emb")} AS DOUBLE)
           / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(b.b_n2 AS DOUBLE)))
           AS cosine
  FROM bcells_a j
  JOIN bench_a b ON b.b_id = j.b_id
  JOIN corpus_a c ON c.label = j.label
  WHERE CAST({scaled_dot_sql("c.embedding", "b.b_emb")} AS DOUBLE)
          / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(b.b_n2 AS DOUBLE)))
        >= {SEMDECON_THRESHOLD}
)"""


def _semdecon_ann_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, b_id, cosine) threshold hits through the IVF routing —
    the Spark twin of ``hits_a``. The benchmark side (|bench| x nprobe
    cell assignments, with the bench embeddings in tow) BROADCASTS; the
    corpus is probed by an equi-join on its OWN label column, so only
    same-cell rows ever evaluate a dot product — per-corpus-row work is
    |bench vectors routed to MY cell| dots, not |bench| dots."""
    emb = widen(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        ),
        spark,
    )
    norms = emb.withColumn("n2", scaled_norm2(F.col("embedding")))
    corpus = norms.where(F.col("vec_id") % 50 != 0)
    bench = norms.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("n2").alias("b_n2"),
        _quantized(F.col("embedding")).alias("qv"),
    )
    centroids = _centroids(corpus, vec=_quantized(F.col("embedding")))
    bcells = _route(bench, centroids, "b_id", IVF_NPROBE).select(
        "b_id", "label", "b_emb", "b_n2"
    )
    cosine = scaled_dot(F.col("embedding"), F.col("b_emb")).cast("double") / (
        F.sqrt(F.col("n2").cast("double"))
        * F.sqrt(F.col("b_n2").cast("double"))
    )
    return (
        corpus.join(F.broadcast(bcells), "label")
        .select("vec_id", "b_id", cosine.alias("cosine"))
        .where(F.col("cosine") >= SEMDECON_THRESHOLD)
    )


@query(
    "stream_embedding_index_ingest",
    oracle=f"""
WITH inorms AS (
  SELECT vec_id, label, embedding,
         {_QUANT_SQL.format(vec="embedding")} AS qv
  FROM embeddings
),
icdims AS (
  SELECT label, qv, unnest(generate_series(1, {DIM})) AS d
  FROM inorms WHERE vec_id % 2 = 0
),
icentroid_dims AS (
  SELECT label, d,
         CAST((sum(qv[d]) - (((sum(qv[d]) % count(*)) + count(*)) % count(*)))
              // count(*) AS BIGINT) AS c
  FROM icdims GROUP BY label, d
),
icentroids AS (
  SELECT label, list(c ORDER BY d) AS cvec FROM icentroid_dims GROUP BY label
),
irouted AS (
  SELECT q.vec_id, c.label,
         list_sum(list_transform(list_zip(q.qv, c.cvec),
                                 p -> CAST(p[1] AS BIGINT) * p[2]))
           AS route_dot,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_sum(list_transform(list_zip(q.qv, c.cvec),
                                            p -> CAST(p[1] AS BIGINT) * p[2]))
                    DESC, c.label ASC) AS rn
  FROM inorms q CROSS JOIN icentroids c
  WHERE q.vec_id % 2 = 1
)
SELECT vec_id, CAST(label AS BIGINT) AS assigned_label,
       CAST(route_dot AS BIGINT) AS route_dot
FROM irouted WHERE rn = 1
""",
    doc="The WRITE path of a vector store — IVF index INGEST: new "
    "vectors arrive as an unbounded stream (the odd-vec_id half; the "
    "even half is the already-indexed corpus whose exact-integer "
    "centroids are computed once) and each is routed to its top-1 cell "
    "INSIDE the streaming plan by a sorted top-cells projection over "
    "the centroid table embedded as a literal array — no join, no shuffle, "
    "no state: cell assignment is a pure projection, which is what "
    "makes index ingestion O(nlist x dim) per vector and embarrassingly "
    "parallel at 100 TB (nlist ~ sqrt(N) centroids broadcast to every "
    "task; the assignment output partitions the landing table by cell, "
    "the physical layout similarity_ivf_topk's read path prunes on). "
    "Deterministic tie-break (the cells sort by (-dot, label), so the "
    "lowest label wins a tie, matching the oracle's cdot DESC, label ASC "
    "rank). "
    "Completes the vector-index lifecycle: build (embedding_kmeans / "
    "centroid construction), READ (ivf/filtered/pq search family), and "
    "now streaming WRITE.",
)
def stream_embedding_index_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_streaming_twitter_spark.streaming.harness import (
        run_to_memory,
    )

    with tempfile.TemporaryDirectory(
        prefix="ivf_ingest_stream_", ignore_cleanup_errors=True
    ) as tmp:
        data_dir = os.path.join(tmp, "vecs")
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )
        # centroids of the already-indexed corpus (even half), as a
        # literal: routing is then a plain projection and the streaming
        # plan is stateless
        corpus = widen(emb.where(F.col("vec_id") % 2 == 0), spark)
        cells = _cell_literal(
            {
                r["label"]: r["cvec"]
                for r in _centroids(
                    corpus, vec=_quantized(F.col("embedding"))
                ).collect()
            }
        )
        emb.where(F.col("vec_id") % 2 == 1).select(
            "vec_id", "embedding"
        ).repartition(4).write.parquet(data_dir)
        par = spark.sparkContext.defaultParallelism
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(data_dir)
        )
        routed = (
            stream.repartition(par)
            .withColumn("qv", _quantized(F.col("embedding")))
            .select("vec_id", _top_cells(cells, 1)[0].alias("top"))
            .select(
                "vec_id",
                F.col("top.label").alias("assigned_label"),
                (-F.col("top.negdot")).alias("route_dot"),
            )
        )
        sink = run_to_memory(routed, output_mode="append")
        return spark.createDataFrame(sink.collect(), sink.schema)


def _centroid_maintenance_ctes() -> str:
    """The WITH chain of the 4-epoch centroid-maintenance replay (epoch
    stats, per-epoch assignments asg0..asg3, stats4) — shared verbatim
    by the maintenance oracle and the cell-split oracle, which
    additionally needs the asg tables to reconstruct the hot cell's
    member set. Epoch k assigns batch-k vectors to the epoch-(k-1)
    centroids (max integer dot, lowest-label tie-break) and folds their
    quantized sums into the per-(label, dim) running stats — all exact
    integers, so everything downstream compares bitwise."""
    stages = []
    for k in range(4):
        stages.append(f""",
cents{k} AS (
  SELECT label, d,
         CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS c
  FROM stats{k}
),
dots{k} AS (
  SELECT v.vec_id, c.label,
         CAST(sum(v.q * c.c) AS BIGINT) AS dot
  FROM vdims v JOIN cents{k} c ON v.d = c.d
  WHERE v.b = {k}
  GROUP BY 1, 2
),
asg{k} AS (
  SELECT vec_id, label FROM (
    SELECT vec_id, label,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dot DESC, label ASC) AS rn
    FROM dots{k}
  ) WHERE rn = 1
),
badd{k} AS (
  SELECT a.label, v.d,
         CAST(sum(v.q) AS BIGINT) AS add_s,
         CAST(count(*) AS BIGINT) AS add_n
  FROM asg{k} a JOIN vdims v ON v.vec_id = a.vec_id
  GROUP BY 1, 2
),
stats{k + 1} AS (
  SELECT s.label, s.d,
         s.s + coalesce(b.add_s, 0) AS s,
         s.n + coalesce(b.add_n, 0) AS n
  FROM stats{k} s
  LEFT JOIN badd{k} b ON b.label = s.label AND b.d = s.d
)""")
    return f"""
WITH mnorms AS (
  SELECT vec_id, label, {_QUANT_SQL.format(vec="embedding")} AS qv
  FROM embeddings
),
mdims AS (
  SELECT vec_id, label, qv, unnest(generate_series(1, {DIM})) AS d
  FROM mnorms
),
stats0 AS (
  SELECT label, d, CAST(sum(qv[d]) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM mdims WHERE vec_id % 2 = 0 GROUP BY 1, 2
),
srng AS (
  SELECT min(vec_id) AS lo, max(vec_id) AS hi
  FROM embeddings WHERE vec_id % 2 = 1
),
vdims AS (
  SELECT m.vec_id, m.d, m.qv[m.d] AS q,
         CASE WHEN m.vec_id <= lo + (hi - lo + 1) * 1 // 4 THEN 0
              WHEN m.vec_id <= lo + (hi - lo + 1) * 2 // 4 THEN 1
              WHEN m.vec_id <= lo + (hi - lo + 1) * 3 // 4 THEN 2
              ELSE 3 END AS b
  FROM mdims m CROSS JOIN srng
  WHERE m.vec_id % 2 = 1
){"".join(stages)}"""


def _centroid_maintenance_oracle() -> str:
    """Unrolled 4-epoch replay of the batch-granular centroid update;
    final centroids compare bitwise (see _centroid_maintenance_ctes)."""
    return _centroid_maintenance_ctes() + """
SELECT label, max(n) AS n_members,
       string_agg(
         CAST(CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS VARCHAR),
         ',' ORDER BY d) AS centroid
FROM stats4 GROUP BY label
"""


def _run_centroid_maintenance(
    spark: SparkSession, sf_dir: str, landing_dir: "str | None" = None
) -> "dict[int, list[list[int]]]":
    """Drive the batch-granular centroid-maintenance stream (shared by
    stream_centroid_maintenance and stream_cell_split_maintenance):
    returns the per-label [sum, count] stats per dim after the 4-epoch
    ingest. When ``landing_dir`` is given, each micro-batch's
    (vec_id, lab) cell assignments append there — the index landing
    table a later SPLIT reads its cell members from."""
    from spark_streaming_twitter_spark.streaming.harness import (
        run_foreach_batch,
        spool_ordered_batches,
    )

    with tempfile.TemporaryDirectory(
        prefix="centroid_maint_", ignore_cleanup_errors=True
    ) as tmp:
        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        )
        # epoch-0 stats: integer sums/counts of the already-indexed half
        stats = _cell_stats(
            widen(emb.where(F.col("vec_id") % 2 == 0), spark),
            "label",
            _quantized(F.col("embedding")),
        )

        def update_batch(bdf: DataFrame, _epoch_id: int) -> None:
            # route to the floor-div centroids of the CURRENT stats
            cells = _cell_literal(
                {lab: _floor_div_centroid(st) for lab, st in stats.items()}
            )
            assigned = bdf.withColumn(
                "qv", _quantized(F.col("embedding"))
            ).withColumn("lab", _top_cells(cells, 1)[0]["label"])
            if landing_dir is not None:
                assigned = assigned.persist()
                assigned.select("vec_id", "lab").write.mode(
                    "append"
                ).parquet(landing_dir)
            adds = _cell_stats(assigned, "lab")
            if landing_dir is not None:
                assigned.unpersist()
            for lab, st in adds.items():
                for cell, (add_s, add_n) in zip(stats[lab], st):
                    cell[0] += add_s
                    cell[1] += add_n

        stream_src = emb.where(F.col("vec_id") % 2 == 1).select(
            "vec_id", "embedding"
        )
        spool_ordered_batches(stream_src, "vec_id", tmp)
        par = spark.sparkContext.defaultParallelism
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .option("pathGlobFilter", "batch_*.parquet")
            .parquet(tmp)
        ).repartition(par)
        run_foreach_batch(stream, update_batch, output_mode="append")
    return stats


@query(
    "stream_centroid_maintenance",
    oracle=_centroid_maintenance_oracle(),
    doc="Streaming INDEX MAINTENANCE — the refresh path that completes "
    "the vector-index lifecycle (build: embedding_kmeans; read: the "
    "IVF/filtered/PQ family; write: stream_embedding_index_ingest; now "
    "RETRAIN): as new vectors stream in, each micro-batch is assigned "
    "to the CURRENT centroids (exact-integer max-dot, lowest-label "
    "tie-break) and folded into per-(label, dim) running sum/count "
    "stats, so the centroids drift toward the arriving distribution — "
    "batch-granular mini-batch k-means, the update rule "
    "c_k = (n*c + sum_batch)/(n + n_batch) made exact by keeping "
    "integer SUMS in state and deriving the floor-div centroid on "
    "demand. Centroid stats are index METADATA (nlist x dim integers, "
    "nlist ~ sqrt(N)) — the one structure a coordinator legitimately "
    "holds; per batch the only distributed work is one top-cell "
    "projection over the arriving vectors (the index-ingest projection "
    "with per-epoch centroids) and one (label, dim) aggregation. The oracle "
    "unrolls the four epochs as a CTE chain; every sum, assignment, "
    "and final centroid compares bitwise. Output: final (label, "
    "n_members, centroid) with the centroid comma-joined (canonical "
    "row-sort needs scalar columns).",
)
def stream_centroid_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rows = [
        (lab, st[0][1], ",".join(map(str, _floor_div_centroid(st))))
        for lab, st in sorted(_run_centroid_maintenance(spark, sf_dir).items())
    ]
    return spark.createDataFrame(
        rows, "label int, n_members bigint, centroid string"
    )


def _cell_split_oracle() -> str:
    """Compose the maintenance CTE chain VERBATIM, then replay the split
    of the hottest post-ingest cell: deterministic 2-means — seeds are
    the cell's min-vec_id member and the member FARTHEST from it
    (exact-integer squared distance, min-id tie-break), one assignment
    pass (strictly-nearer joins seed1's side, ties stay with seed0),
    floor-div centroids per side. Output is the routing table at BOTH
    versions: version 0 = post-ingest (bitwise the maintenance rows),
    version 1 = post-split (hot cell replaced by its two halves; the
    new cell takes max(label)+1)."""
    return _centroid_maintenance_ctes() + f"""
, ver0 AS (
  SELECT CAST(label AS BIGINT) AS label, max(n) AS n_members,
         string_agg(
           CAST(CAST((s - (((s % n) + n) % n)) // n AS BIGINT) AS VARCHAR),
           ',' ORDER BY d) AS centroid
  FROM stats4 GROUP BY label
),
big AS (
  SELECT label FROM (
    SELECT label,
           row_number() OVER (ORDER BY n_members DESC, label ASC) AS rn
    FROM ver0
  ) WHERE rn = 1
),
members AS (
  SELECT m.vec_id, m.qv
  FROM mnorms m JOIN big b ON CAST(m.label AS BIGINT) = b.label
  WHERE m.vec_id % 2 = 0
  UNION ALL
  SELECT m.vec_id, m.qv
  FROM mnorms m
  JOIN (SELECT vec_id, label FROM asg0
        UNION ALL SELECT vec_id, label FROM asg1
        UNION ALL SELECT vec_id, label FROM asg2
        UNION ALL SELECT vec_id, label FROM asg3) a
    ON a.vec_id = m.vec_id
  JOIN big b ON CAST(a.label AS BIGINT) = b.label
),
mem_dims AS (
  SELECT vec_id, d, qv[d] AS q
  FROM (SELECT vec_id, qv, unnest(generate_series(1, {DIM})) AS d
        FROM members)
),
seed0 AS (SELECT min(vec_id) AS v0 FROM members),
s0d AS (SELECT d, q FROM mem_dims JOIN seed0 ON vec_id = v0),
dist0 AS (
  SELECT m.vec_id, CAST(sum((m.q - s.q) * (m.q - s.q)) AS BIGINT) AS dist
  FROM mem_dims m JOIN s0d s USING (d) GROUP BY 1
),
seed1 AS (
  SELECT vec_id AS v1 FROM dist0 ORDER BY dist DESC, vec_id ASC LIMIT 1
),
s1d AS (SELECT d, q FROM mem_dims JOIN seed1 ON vec_id = v1),
dist1 AS (
  SELECT m.vec_id, CAST(sum((m.q - s.q) * (m.q - s.q)) AS BIGINT) AS dist
  FROM mem_dims m JOIN s1d s USING (d) GROUP BY 1
),
sides AS (
  SELECT d0.vec_id, CASE WHEN d1.dist < d0.dist THEN 1 ELSE 0 END AS side
  FROM dist0 d0 JOIN dist1 d1 ON d0.vec_id = d1.vec_id
),
newstats AS (
  SELECT s.side, m.d,
         CAST(sum(m.q) AS BIGINT) AS sm,
         CAST(count(*) AS BIGINT) AS n
  FROM mem_dims m JOIN sides s ON s.vec_id = m.vec_id
  GROUP BY 1, 2
),
newcells AS (
  SELECT CASE WHEN side = 0 THEN (SELECT label FROM big)
              ELSE (SELECT max(label) + 1 FROM ver0) END AS label,
         max(n) AS n_members,
         string_agg(
           CAST(CAST((sm - (((sm % n) + n) % n)) // n AS BIGINT) AS VARCHAR),
           ',' ORDER BY d) AS centroid
  FROM newstats GROUP BY side
),
ver1 AS (
  SELECT v.label, v.n_members, v.centroid FROM ver0 v
  WHERE v.label NOT IN (SELECT label FROM big)
  UNION ALL
  SELECT label, n_members, centroid FROM newcells
)
SELECT 0 AS version, label, n_members, centroid FROM ver0
UNION ALL
SELECT 1 AS version, label, n_members, centroid FROM ver1
"""


def _split_hottest_cell(
    spark: SparkSession,
    sides_dir: str,
    ver_in: "list[tuple[int, int, list[int]]]",
    asg_in: DataFrame,
    emb: DataFrame,
) -> "tuple[list, int, DataFrame]":
    """One greedy rebalance STEP: split the hottest cell of routing
    table ``ver_in`` (max members, min label on ties; the new cell
    takes max(label)+1) under assignment ``asg_in`` with the
    deterministic exact-integer 2-means. Returns (ver_out, new_label,
    sides) — reusable, so repeated application IS the greedy
    rebalance pass SCALE.md describes (_ivf_chain)."""
    big_label = max(ver_in, key=lambda r: (r[1], -r[0]))[0]
    new_label = max(lab for lab, _, _ in ver_in) + 1
    members = (
        widen(
            asg_in.where(F.col("label") == big_label)
            .select("vec_id")
            .join(emb.select("vec_id", "embedding"), "vec_id"),
            spark,
        )
        .withColumn("qv", _quantized(F.col("embedding")))
        .select("vec_id", "qv")
        .persist()
    )
    try:

        def sqdist(seed: "list[int]") -> Column:
            lit = F.array(*[F.lit(int(x)).cast("bigint") for x in seed])
            return F.aggregate(
                F.zip_with(F.col("qv"), lit, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )

        v0 = members.agg(F.min("vec_id")).first()[0]
        s0 = members.where(F.col("vec_id") == v0).select("qv").first()[0]
        d0 = members.withColumn("dist0", sqdist(s0))
        v1 = (
            d0.orderBy(F.col("dist0").desc(), F.col("vec_id").asc())
            .select("vec_id")
            .first()[0]
        )
        s1 = members.where(F.col("vec_id") == v1).select("qv").first()[0]
        d0.withColumn("dist1", sqdist(s1)).withColumn(
            "side",
            F.when(F.col("dist1") < F.col("dist0"), 1).otherwise(0),
        ).select("vec_id", "side", "qv").write.parquet(sides_dir)
    finally:
        members.unpersist()
    sides = spark.read.parquet(sides_dir).select("vec_id", "side")
    side_stats = _cell_stats(spark.read.parquet(sides_dir), "side")
    ver_out = [(lab, n, c) for lab, n, c in ver_in if lab != big_label]
    for sd, newlab in ((0, big_label), (1, new_label)):
        # degenerate split (one member / all-identical vectors):
        # dist1 < dist0 never holds, side 1 is empty — skip it, the
        # oracle's GROUP BY side omits the empty side identically
        if sd in side_stats:
            st = side_stats[sd]
            ver_out.append((newlab, st[0][1], _floor_div_centroid(st)))
    ver_out.sort(key=lambda r: r[0])
    return ver_out, new_label, sides


def _asg_after_split(
    asg: DataFrame, sides: DataFrame, new_label: int
) -> DataFrame:
    """Assignment after a split: split-cell members re-labeled by their
    2-means side (side 1 -> the new cell), everyone else unchanged."""
    return asg.join(sides, "vec_id", "left").select(
        "vec_id",
        F.when(
            F.col("side").isNull() | (F.col("side") == 0), F.col("label")
        )
        .otherwise(F.lit(new_label).cast("bigint"))
        .alias("label"),
    )


def _split_step_sql_ctes(ver_in: str, asg_in: str, suf: str, out: str) -> str:
    """One greedy rebalance STEP in SQL (the _cell_split_oracle chain,
    list-valued and name-parameterized): split the hottest cell of
    routing-table CTE ``ver_in`` under assignment CTE ``asg_in``,
    emitting ``ver{out}v`` / ``asg{out}all``. Chaining two steps replays
    the greedy rebalance pass exactly."""
    return f"""
, big{suf} AS MATERIALIZED (
  SELECT label FROM (
    SELECT label,
           row_number() OVER (ORDER BY n_members DESC, label ASC) AS rn
    FROM {ver_in}
  ) WHERE rn = 1
),
smembers{suf} AS MATERIALIZED (
  SELECT a.vec_id, m.qv
  FROM {asg_in} a
  JOIN big{suf} b ON a.label = b.label
  JOIN mnorms m ON m.vec_id = a.vec_id
),
smem_dims{suf} AS (
  SELECT vec_id, d, qv[d] AS q
  FROM (SELECT vec_id, qv, unnest(generate_series(1, {DIM})) AS d
        FROM smembers{suf})
),
sseed0{suf} AS (SELECT min(vec_id) AS v0 FROM smembers{suf}),
ss0d{suf} AS (
  SELECT d, q FROM smem_dims{suf} JOIN sseed0{suf} ON vec_id = v0
),
sdist0{suf} AS (
  SELECT m.vec_id, CAST(sum((m.q - s.q) * (m.q - s.q)) AS BIGINT) AS dist
  FROM smem_dims{suf} m JOIN ss0d{suf} s USING (d) GROUP BY 1
),
sseed1{suf} AS (
  SELECT vec_id AS v1 FROM sdist0{suf} ORDER BY dist DESC, vec_id ASC LIMIT 1
),
ss1d{suf} AS (
  SELECT d, q FROM smem_dims{suf} JOIN sseed1{suf} ON vec_id = v1
),
sdist1{suf} AS (
  SELECT m.vec_id, CAST(sum((m.q - s.q) * (m.q - s.q)) AS BIGINT) AS dist
  FROM smem_dims{suf} m JOIN ss1d{suf} s USING (d) GROUP BY 1
),
ssides{suf} AS MATERIALIZED (
  SELECT d0.vec_id, CASE WHEN d1.dist < d0.dist THEN 1 ELSE 0 END AS side
  FROM sdist0{suf} d0 JOIN sdist1{suf} d1 ON d0.vec_id = d1.vec_id
),
snewstats{suf} AS (
  SELECT s.side, m.d,
         CAST(sum(m.q) AS BIGINT) AS sm,
         CAST(count(*) AS BIGINT) AS n
  FROM smem_dims{suf} m JOIN ssides{suf} s ON s.vec_id = m.vec_id
  GROUP BY 1, 2
),
snewcells{suf} AS (
  SELECT CASE WHEN side = 0 THEN (SELECT label FROM big{suf})
              ELSE (SELECT max(label) + 1 FROM {ver_in}) END AS label,
         max(n) AS n_members,
         list(CAST((sm - (((sm % n) + n) % n)) // n AS BIGINT)
              ORDER BY d) AS cvec
  FROM snewstats{suf} GROUP BY side
),
ver{out}v AS MATERIALIZED (
  SELECT label, n_members, cvec FROM {ver_in}
  WHERE label NOT IN (SELECT label FROM big{suf})
  UNION ALL
  SELECT label, n_members, cvec FROM snewcells{suf}
),
asg{out}all AS MATERIALIZED (
  SELECT a.vec_id,
         CASE WHEN s.side IS NULL OR s.side = 0 THEN a.label
              ELSE (SELECT max(label) + 1 FROM {ver_in}) END AS label
  FROM {asg_in} a LEFT JOIN ssides{suf} s ON s.vec_id = a.vec_id
)"""


def _split_base_sql() -> str:
    """Maintenance replay -> full post-ingest assignment (asgall), v0
    routing table as centroid VECTORS (ver0v), and the scoring corpus
    (scorpus) — the prefix every rebalance/search oracle shares."""
    return _centroid_maintenance_ctes() + f"""
, asgall AS MATERIALIZED (
  SELECT vec_id, CAST(label AS BIGINT) AS label
  FROM mnorms WHERE vec_id % 2 = 0
  UNION ALL
  SELECT vec_id, CAST(label AS BIGINT) AS label FROM (
    SELECT vec_id, label FROM asg0
    UNION ALL SELECT vec_id, label FROM asg1
    UNION ALL SELECT vec_id, label FROM asg2
    UNION ALL SELECT vec_id, label FROM asg3)
),
ver0v AS MATERIALIZED (
  SELECT CAST(label AS BIGINT) AS label, max(n) AS n_members,
         list(CAST((s - (((s % n) + n) % n)) // n AS BIGINT)
              ORDER BY d) AS cvec
  FROM stats4 GROUP BY label
),
scorpus AS MATERIALIZED (
  SELECT vec_id, embedding,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
)"""


def _postsplit_route_sql(
    ver: str, asg: str, tag: str, nprobe: int = 1
) -> str:
    """Route the stride queries through routing-table CTE ``ver`` and
    rank exact cosine within the routed top-``nprobe`` cells' ``asg``
    members — the probe/score chain instantiated per routing-table
    version."""
    return f"""
routed{tag} AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.label,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_sum(list_transform(list_zip(q.qv, c.cvec),
                                            p -> CAST(p[1] AS BIGINT) * p[2]))
                    DESC, c.label ASC) AS rn
  FROM mnorms q CROSS JOIN {ver} c
  WHERE q.vec_id % {QUERY_STRIDE} = 0
),
cell{tag} AS MATERIALIZED (
  SELECT query_id, label FROM routed{tag} WHERE rn <= {nprobe}
),
cand{tag} AS MATERIALIZED (
  SELECT cell{tag}.query_id, a.vec_id AS neighbor_id
  FROM cell{tag}
  JOIN {asg} a ON a.label = cell{tag}.label
              AND a.vec_id <> cell{tag}.query_id
),
scored{tag} AS MATERIALIZED (
  SELECT c.query_id, c.neighbor_id,
         CAST({scaled_dot_sql("q.embedding", "n.embedding")} AS DOUBLE)
           / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
           AS cosine
  FROM cand{tag} c
  JOIN scorpus n ON n.vec_id = c.neighbor_id
  JOIN scorpus q ON q.vec_id = c.query_id
),
ranked{tag} AS MATERIALIZED (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored{tag}
)"""


def _route_and_topk(
    spark: SparkSession,
    sf_dir: str,
    ver: "list[tuple[int, int, list[int]]]",
    asg: DataFrame,
    nprobe: int = 1,
) -> "tuple[DataFrame, DataFrame]":
    """Spark twin of _postsplit_route_sql: route the stride queries to
    their top-``nprobe`` cells of routing-table version ``ver`` by the
    sorted top-cells projection over ``ver`` as a literal (no join, no
    shuffle — the index-ingest pattern; one row-local explode), score
    exact cosine within the routed cells under assignment ``asg``.
    Returns (candidate pairs, top-k)."""
    corpus = _corpus_with_norms(spark, sf_dir)
    cells = _cell_literal({lab: cvec for lab, _, cvec in ver})
    cell = (
        corpus.where(F.col("vec_id") % QUERY_STRIDE == 0)
        .withColumn("qv", _quantized(F.col("embedding")))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("n2").alias("q_n2"),
            F.inline(_top_cells(cells, nprobe)),
        )
    )
    neighbors = asg.join(
        corpus.select(
            F.col("vec_id"),
            F.col("embedding").alias("n_emb"),
            F.col("n2").alias("n_n2"),
        ),
        "vec_id",
    ).select(F.col("vec_id").alias("neighbor_id"), "label", "n_emb", "n_n2")
    cand = neighbors.join(F.broadcast(cell), "label").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    cosine = scaled_dot(F.col("q_emb"), F.col("n_emb")).cast("double") / (
        F.sqrt(F.col("q_n2").cast("double"))
        * F.sqrt(F.col("n_n2").cast("double"))
    )
    scored = cand.select("query_id", "neighbor_id", cosine.alias("cosine"))
    return cand.select("query_id", "neighbor_id"), _topk_filter(scored)


# ---------------------------------------------------------------------------
# Skewed-fixture greedy rebalance: the embeddings fixture's natural cells
# are near-balanced (max/mean 1.14), so the greedy split pass's stop rule
# correctly refuses to run there. The skewed scenario gives the pass data
# that NEEDS it: a deterministic skew overlay assigns vec_id % 10 < 5 (half
# the corpus) to cell 0 on top of the true labels, making the hottest cell
# 5.4x the mean at sf0.01 (>= the 5x bar). The pass then runs FOR REAL —
# K split-the-hottest-cell steps — and the whole trajectory, the post-pass
# search, and the v0-vs-vN recall/probe-cost pair are oracle-checked.
# Reference parity: the reference has no ANN index maintenance at all
# (TwitterDataset*.java are fixed-pipeline streams); this is §2.8 extension
# surface, built on the split-step engine above.
# ---------------------------------------------------------------------------

SKEW_HOT_MOD = 10
SKEW_HOT_LT = 5  # vec_id % 10 < 5 -> overlaid onto cell 0
REBALANCE_STOP = 2.0  # stop threshold on max_members/mean_members
SKEW_SPLIT_K = 5  # CONTRACTUAL split count: the registered queries run
# EXACTLY K greedy splits — data-independent — so the oracle's K-step CTE
# chain replays the pass bitwise at ANY scale factor (a loop
# `while max/mean > REBALANCE_STOP` makes the pass length data-emergent and
# breaks sf0.001 parity: that fixture needs 6 splits, the oracle unrolls
# 5). K=5 is where the sf0.01 fixture first reaches max/mean <=
# REBALANCE_STOP — that convergence claim lives in the sf0.01-pinned test
# (tests/test_similarity_codecs.py::test_skewed_rebalance_converges_at_sf001),
# and the stop metric itself is EMITTED per version (max_over_mean in
# ivf_rebalance_skewed_trajectory), so the stop rule stays visible as
# checked data rather than as a hidden loop condition.


def _skewed_base_sql() -> str:
    """Skewed-overlay base: mnorms (quantized corpus), asgall (the skew
    assignment), ver0v (exact-integer per-cell centroids under the skew),
    scorpus (scoring corpus with norms) — same CTE names the split-step
    and route blocks expect, so both compose unchanged."""
    return f"""
WITH mnorms AS (
  SELECT vec_id, label, {_QUANT_SQL.format(vec="embedding")} AS qv
  FROM embeddings
),
asgall AS MATERIALIZED (
  SELECT vec_id,
         CAST(CASE WHEN vec_id % {SKEW_HOT_MOD} < {SKEW_HOT_LT} THEN 0
              ELSE label END AS BIGINT) AS label
  FROM mnorms
),
skd AS (
  SELECT a.label, m.d, CAST(sum(m.q) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM asgall a
  JOIN (SELECT vec_id, qv[d] AS q, d FROM
        (SELECT vec_id, qv, unnest(generate_series(1, {DIM})) AS d
         FROM mnorms)) m USING (vec_id)
  GROUP BY 1, 2
),
ver0v AS MATERIALIZED (
  SELECT label, max(n) AS n_members,
         list(CAST((s - (((s % n) + n) % n)) // n AS BIGINT) ORDER BY d)
           AS cvec
  FROM skd GROUP BY label
),
scorpus AS MATERIALIZED (
  SELECT vec_id, embedding,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
)"""


def _skewed_v0(
    spark: SparkSession, sf_dir: str, _workdir: str
) -> "tuple[list[tuple[int, int, list[int]]], DataFrame, DataFrame]":
    """Build the skew-overlay v0: returns (ver0, asg0, emb). ver0's
    centroid stats come from ONE map-side aggregation collected as a
    bounded n_cells x DIM table (640 rows at any corpus size — cells
    and dims, never vectors, cross the driver). The overlay lands no
    files, so the work dir goes unused."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    skew = (
        F.when(F.col("vec_id") % SKEW_HOT_MOD < SKEW_HOT_LT, F.lit(0))
        .otherwise(F.col("label"))
        .cast("bigint")
    )
    asg0 = emb.select("vec_id", skew.alias("label"))
    stats = _cell_stats(
        widen(emb, spark).withColumn("label", skew),
        "label",
        _quantized(F.col("embedding")),
    )
    ver0 = [
        (lab, st[0][1], _floor_div_centroid(st))
        for lab, st in sorted(stats.items())
    ]
    return ver0, asg0, emb


def _ingest_v0(
    spark: SparkSession, sf_dir: str, workdir: str
) -> "tuple[list[tuple[int, int, list[int]]], DataFrame, DataFrame]":
    """Split/rebalance v0: the 4-epoch centroid-maintenance ingest, its
    per-batch cell assignments landed under ``workdir`` as the index
    table (the ingest write path's layout). Returns (ver0, asg0, emb):
    the post-ingest routing table, the full post-ingest (vec_id, label)
    assignment (corpus half + landed stream half) and the embeddings."""
    landing = os.path.join(workdir, "landing")
    stats = _run_centroid_maintenance(spark, sf_dir, landing_dir=landing)
    ver0 = [
        (lab, st[0][1], _floor_div_centroid(st))
        for lab, st in sorted(stats.items())
    ]
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    asg0 = (
        emb.where(F.col("vec_id") % 2 == 0)
        .select("vec_id", F.col("label").cast("bigint").alias("label"))
        .unionByName(
            spark.read.parquet(landing).select(
                "vec_id", F.col("lab").cast("bigint").alias("label")
            )
        )
    )
    return ver0, asg0, emb


# ---------------------------------------------------------------------------
# IVF maintenance scenarios x measures. A scenario is how the routing table
# is maintained: a v0 (routing table + assignment) and k greedy
# split-the-hottest-cell steps chained onto it, run by _ivf_chain in Spark
# and replayed by _chain_sql in SQL (CTEs ver{i}v / asg{i}all, i = 0..k). A
# measure is what a registered query reads from the versions: the versions
# themselves, their balance trajectory, top-k through version k, probe cost
# v0 vs vk, or exact-page recall at (version, nprobe) points. Each
# registered name binds one scenario to one measure.
# ---------------------------------------------------------------------------


class _Scenario(NamedTuple):
    """``v0(spark, sf_dir, workdir)`` builds (ver0, asg0, emb);
    ``base_sql()`` is its DuckDB twin, ending in the asgall / ver0v /
    scorpus CTEs; ``k`` greedy split steps follow on both sides."""

    v0: Callable[[SparkSession, str, str], tuple]
    base_sql: Callable[[], str]
    k: int


SPLIT = _Scenario(_ingest_v0, _split_base_sql, 1)
REBALANCE = _Scenario(_ingest_v0, _split_base_sql, 2)
SKEWED = _Scenario(_skewed_v0, _skewed_base_sql, SKEW_SPLIT_K)


def _ver_ctes(v: int) -> "tuple[str, str]":
    """The SQL chain's (routing table, assignment) CTE names at version v."""
    return f"ver{v}v", (f"asg{v}all" if v else "asgall")


def _chain_sql(sc: _Scenario) -> str:
    """The scenario's base plus its k chained split steps — the SQL
    replay of _ivf_chain (step 1 keeps the unsuffixed CTE names)."""
    return sc.base_sql() + "".join(
        _split_step_sql_ctes(*_ver_ctes(i - 1), str(i) if i > 1 else "", str(i))
        for i in range(1, sc.k + 1)
    )


@contextmanager
def _ivf_chain(spark: SparkSession, sf_dir: str, sc: _Scenario):
    """THE greedy rebalance pass, run for a CONTRACTUAL number of steps:
    v0, then exactly ``sc.k`` applications of split-the-hottest-cell
    (_split_hottest_cell), each folding its side assignment in. Yields
    (vers, asgs): routing-table versions 0..k as [(label, n_members,
    centroid)] and the matching (vec_id, label) assignments, which are
    parquet-backed in a temp dir that lives until the block exits. The
    step count is part of the query contract, not data-emergent, so
    _chain_sql's statically chained k steps replay it exactly at every
    scale factor. Split-hottest is total on any fixture (degenerate
    one-member / identical-vector splits are handled inside the engine
    and mirrored by the oracle's GROUP BY side), so the pass always
    terminates; whether it CONVERGED stays visible as data
    (max_over_mean per version in the balance trajectory)."""
    with tempfile.TemporaryDirectory(
        prefix="ivf_chain_", ignore_cleanup_errors=True
    ) as tmp:
        ver, asg, emb = sc.v0(spark, sf_dir, tmp)
        vers, asgs = [ver], [asg]
        for step in range(1, sc.k + 1):
            ver, new_label, sides = _split_hottest_cell(
                spark, os.path.join(tmp, f"sides{step}"), ver, asg, emb
            )
            asg = _asg_after_split(asg, sides, new_label)
            vers.append(ver)
            asgs.append(asg)
        yield vers, asgs


def _local(df: DataFrame) -> DataFrame:
    """``df`` collected into a driver-built frame that outlives the
    chain's temp dir (a measure's output is a page or one row)."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


def _count(df: DataFrame, name: str) -> DataFrame:
    return df.agg(F.count(F.lit(1)).alias(name))


def _ratio(num: str, den: str) -> Column:
    return F.col(num).cast("double") / F.col(den).cast("double")


def _routes_sql(sc: _Scenario, points) -> str:
    """The chain plus one route/rank block per (version, nprobe, tag, ...)
    point — the routed pages a measure reads."""
    return _chain_sql(sc) + "".join(
        "," + _postsplit_route_sql(*_ver_ctes(v), tag, nprobe)
        for v, nprobe, tag, *_ in points
    )


def _versions_sql(sc: _Scenario) -> str:
    return _chain_sql(sc) + """
SELECT 0 AS version, label, n_members,
       array_to_string(cvec, ',') AS centroid
FROM ver0v
""" + "".join(
        f"UNION ALL\nSELECT {v}, label, n_members, "
        f"array_to_string(cvec, ',') FROM ver{v}v\n"
        for v in range(1, sc.k + 1)
    )


def _versions_table(spark: SparkSession, sf_dir: str, sc: _Scenario) -> DataFrame:
    """Measure: every routing-table version, centroids comma-joined."""
    with _ivf_chain(spark, sf_dir, sc) as (vers, _):
        rows = [
            (v, lab, n, ",".join(str(c) for c in cvec))
            for v, ver in enumerate(vers)
            for lab, n, cvec in ver
        ]
    return spark.createDataFrame(
        rows, "version int, label bigint, n_members bigint, centroid string"
    )


def _trajectory_sql(sc: _Scenario) -> str:
    union = "\nUNION ALL ".join(
        f"SELECT {v} AS version, label, n_members FROM ver{v}v"
        for v in range(sc.k + 1)
    )
    return _chain_sql(sc) + f"""
SELECT CAST(version AS INT) AS version,
       CAST(count(*) AS BIGINT) AS n_cells,
       max(n_members) AS max_members,
       CAST(sum(n_members) AS BIGINT) AS total_members,
       CAST(max(n_members) * count(*) AS DOUBLE)
         / CAST(sum(n_members) AS DOUBLE) AS max_over_mean
FROM ({union})
GROUP BY version
"""


def _balance_trajectory(
    spark: SparkSession, sf_dir: str, sc: _Scenario
) -> DataFrame:
    """Measure: per version, cell count, hottest cell, total members and
    max/mean (exact ints, one division)."""
    with _ivf_chain(spark, sf_dir, sc) as (vers, _):
        sizes = [[n for _, n, _ in ver] for ver in vers]
    rows = [
        (v, len(s), max(s), sum(s), max(s) * len(s) / sum(s))
        for v, s in enumerate(sizes)
    ]
    return spark.createDataFrame(
        rows,
        "version int, n_cells bigint, max_members bigint, "
        "total_members bigint, max_over_mean double",
    )


def _topk_sql(sc: _Scenario, tag: str) -> str:
    return _routes_sql(sc, [(sc.k, 1, tag)]) + f"""
SELECT query_id, neighbor_id, rank, cosine
FROM ranked{tag} WHERE rank <= {TOP_K}
"""


def _topk_through(spark: SparkSession, sf_dir: str, sc: _Scenario) -> DataFrame:
    """Measure: the top-k page routed through version k."""
    with _ivf_chain(spark, sf_dir, sc) as (vers, asgs):
        return _local(_route_and_topk(spark, sf_dir, vers[-1], asgs[-1])[1])


def _probe_cost_sql(sc: _Scenario, tag: str) -> str:
    r = "r" + tag.lower()
    return _routes_sql(sc, [(0, 1, "0"), (sc.k, 1, tag)]) + f""",
common AS (
  SELECT r0.query_id, r0.neighbor_id
  FROM (SELECT query_id, neighbor_id FROM ranked0 WHERE rank <= {TOP_K}) r0
  JOIN (SELECT query_id, neighbor_id FROM ranked{tag} WHERE rank <= {TOP_K}) {r}
    ON r0.query_id = {r}.query_id AND r0.neighbor_id = {r}.neighbor_id
)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM cell0) AS n_queries,
  (SELECT CAST(count(*) AS BIGINT) FROM cand0) AS total_cand_v0,
  (SELECT CAST(count(*) AS BIGINT) FROM cand{tag}) AS total_cand_v{tag},
  CAST((SELECT count(*) FROM cand{tag}) AS DOUBLE)
    / CAST((SELECT count(*) FROM cand0) AS DOUBLE) AS cand_ratio,
  (SELECT CAST(count(*) AS BIGINT)
   FROM ranked0 WHERE rank <= {TOP_K}) AS n_top_v0,
  (SELECT CAST(count(*) AS BIGINT) FROM common) AS n_top_common,
  CAST((SELECT count(*) FROM common) AS DOUBLE)
    / CAST((SELECT count(*) FROM ranked0 WHERE rank <= {TOP_K}) AS DOUBLE)
    AS topk_recall_vs_v0
"""


def _probe_cost(
    spark: SparkSession, sf_dir: str, sc: _Scenario, tag: str
) -> DataFrame:
    """Measure: candidates scanned through v0 and vk, and vk's top-k
    overlap with v0's page (output column total_cand_v{tag})."""
    vk, pair = f"total_cand_v{tag}", ["query_id", "neighbor_id"]
    with _ivf_chain(spark, sf_dir, sc) as (vers, asgs):
        cand0, topk0 = _route_and_topk(spark, sf_dir, vers[0], asgs[0])
        candk, topkk = _route_and_topk(spark, sf_dir, vers[-1], asgs[-1])
        queries = _corpus_with_norms(spark, sf_dir).where(
            F.col("vec_id") % QUERY_STRIDE == 0
        )
        common = topk0.select(*pair).join(topkk.select(*pair), pair)
        return _local(
            _count(queries, "n_queries")
            .crossJoin(_count(cand0, "total_cand_v0"))
            .crossJoin(_count(candk, vk))
            .crossJoin(_count(topk0, "n_top_v0"))
            .crossJoin(_count(common, "n_top_common"))
            .select(
                "n_queries",
                "total_cand_v0",
                vk,
                _ratio(vk, "total_cand_v0").alias("cand_ratio"),
                "n_top_v0",
                "n_top_common",
                _ratio("n_top_common", "n_top_v0").alias("topk_recall_vs_v0"),
            )
        )


class _Point(NamedTuple):
    """A recall-sheet point: search routing-table ``version`` at
    ``nprobe``. ``tag`` suffixes the oracle's CTEs; ``recall`` and
    ``cand`` suffix the point's recall_* and total_cand_* columns."""

    version: int
    nprobe: int
    tag: str
    recall: str
    cand: str


def _recall_sql(sc: _Scenario, points: "tuple[_Point, ...]") -> str:
    hits = ",".join(
        f"""
hit{p.tag} AS (
  SELECT r.query_id, r.neighbor_id
  FROM (SELECT query_id, neighbor_id FROM ranked{p.tag} WHERE rank <= {TOP_K}) r
  JOIN ex ON ex.query_id = r.query_id AND ex.neighbor_id = r.neighbor_id
)"""
        for p in points
    )
    cols = ["(SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_top_exact"]
    cols += [
        f"CAST((SELECT count(*) FROM hit{p.tag}) AS DOUBLE)\n"
        f"    / CAST((SELECT count(*) FROM ex) AS DOUBLE) AS recall_{p.recall}"
        for p in points
    ]
    cols += [
        f"(SELECT CAST(count(*) AS BIGINT) FROM cand{p.tag}) AS total_cand_{p.cand}"
        for p in points
    ]
    if len(points) == 2:
        cols.append(
            f"CAST((SELECT count(*) FROM cand{points[1].tag}) AS DOUBLE)\n"
            f"    / CAST((SELECT count(*) FROM cand{points[0].tag}) AS DOUBLE)"
            " AS cand_ratio"
        )
    return _routes_sql(sc, points) + f""",
rankedex AS MATERIALIZED (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY CAST({scaled_dot_sql("q.embedding", "n.embedding")}
                         AS DOUBLE)
                      / (sqrt(CAST(q.n2 AS DOUBLE))
                         * sqrt(CAST(n.n2 AS DOUBLE))) DESC,
                    n.vec_id ASC) AS rank
  FROM scorpus q JOIN scorpus n ON n.vec_id <> q.vec_id
  WHERE q.vec_id % {QUERY_STRIDE} = 0
),
ex AS (SELECT query_id, neighbor_id FROM rankedex WHERE rank <= {TOP_K}),{hits}
SELECT
""" + ",\n".join("  " + c for c in cols) + "\n"


def _recall_sheet(
    spark: SparkSession,
    sf_dir: str,
    sc: _Scenario,
    points: "tuple[_Point, ...]",
) -> DataFrame:
    """Measure: one row scoring each point's top-k page against the one
    brute-force exact page, with the candidates each point scans; a
    two-point sheet also prices the second point against the first
    (cand_ratio)."""
    pair = ["query_id", "neighbor_id"]
    with _ivf_chain(spark, sf_dir, sc) as (vers, asgs):
        exact = _exact_page(
            _corpus_with_norms(spark, sf_dir), "embedding", scaled_dot
        ).select(*pair)
        routed = [
            _route_and_topk(spark, sf_dir, vers[p.version], asgs[p.version], p.nprobe)
            for p in points
        ]
        summary = _count(exact, "n_top_exact")
        for p, (_, topk) in zip(points, routed):
            hits = topk.select(*pair).join(exact, pair)
            summary = summary.crossJoin(_count(hits, f"h{p.tag}"))
        for p, (cand, _) in zip(points, routed):
            summary = summary.crossJoin(_count(cand, f"total_cand_{p.cand}"))
        cols = ["n_top_exact"]
        cols += [
            _ratio(f"h{p.tag}", "n_top_exact").alias(f"recall_{p.recall}")
            for p in points
        ]
        cols += [f"total_cand_{p.cand}" for p in points]
        if len(points) == 2:
            cols.append(
                _ratio(
                    f"total_cand_{points[1].cand}", f"total_cand_{points[0].cand}"
                ).alias("cand_ratio")
            )
        return _local(summary.select(*cols))


@query(
    "stream_cell_split_maintenance",
    oracle=_cell_split_oracle(),
    doc="INDEX-LIFECYCLE COMPLETENESS — hot-cell SPLIT: centroid "
    "maintenance refreshes means but never re-partitions, "
    "so at 100 TB a hot cell degrades IVF probe cost unboundedly (probe "
    "work is O(|cell|)). This query runs the 4-epoch maintenance ingest "
    "(landing each batch's cell assignments as the index table — the "
    "ingest write path's layout) and then SPLITS the largest cell: "
    "deterministic exact-integer 2-means — seeds = min-id member + the "
    "member farthest from it (squared-distance argmax, min-id "
    "tie-break), one strictly-nearer assignment pass, floor-div "
    "centroids per side — emitting the routing table VERSIONED PER "
    "EPOCH (version 0 = post-ingest, bitwise the maintenance rows; "
    "version 1 = post-split, the hot cell replaced by its halves, the "
    "new cell labeled max+1). Versioning is what lets concurrent "
    "readers keep routing on v0 while the split commits — the routing "
    "table is nlist x dim metadata, so a version is cheap to retain. "
    "Scale shape: the split touches ONE cell's members (re-read from "
    "the landing table by cell id — partition-pruned, never a corpus "
    "scan); seed selection and assignment are row-wise folds over a "
    "broadcast seed vector (two single-row collects, no shuffle), and "
    "the side stats are one (side, dim) aggregation bounded by "
    "|cell| x dim. Repeated greedily, max-cell splitting bounds the "
    "hottest cell at ~2x the mean at O(log) splits per rebalance pass.",
)
def stream_cell_split_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _versions_table(spark, sf_dir, SPLIT)


@query(
    "stream_cell_split_rebalance",
    oracle=_versions_sql(REBALANCE),
    doc="The GREEDY REBALANCE PASS — two chained hot-cell splits, making "
    "the 'repeated greedily' claim of stream_cell_split_maintenance a "
    "measured behavior instead of an assertion: split the hottest "
    "post-ingest cell (version 1), then split the hottest cell of the "
    "RESULTING table (version 2) — which may be an untouched cell or "
    "one of the fresh halves, whichever is now largest — with each new "
    "cell labeled max(label)+1 of its input table. The Spark split step "
    "is ONE reusable function applied twice (exactly how a production "
    "rebalance job loops until hottest <= ~2x mean); the oracle chains "
    "the parameterized split-step CTE block twice. Emits all three "
    "routing-table versions, so concurrent readers can route on any "
    "committed version while later splits land.",
)
def stream_cell_split_rebalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _versions_table(spark, sf_dir, REBALANCE)


@query(
    "ivf_rebalance_balance_stats",
    oracle=f"""
WITH r AS ({_versions_sql(REBALANCE)})
SELECT version,
       CAST(count(*) AS BIGINT) AS n_cells,
       max(n_members) AS max_members,
       CAST(sum(n_members) AS BIGINT) AS total_members,
       CAST(max(n_members) * count(*) AS DOUBLE)
         / CAST(sum(n_members) AS DOUBLE) AS max_over_mean
FROM r GROUP BY version
""",
    doc="The rebalance pass's GOVERNING METRIC, measured per routing-"
    "table version: cell count, hottest-cell size, total members, and "
    "max/mean — the ratio a production job loops the split step on "
    "(stop when max/mean <= ~2). Two properties are now oracle-checked "
    "rather than asserted: max_members is NON-INCREASING across "
    "versions (57 -> 57 -> 55 at sf0.01 — the first split's target "
    "ties with another 57-member cell, the second takes that one) and "
    "total_members is CONSERVED (cells partition, never drop vectors). "
    "The fixture's honest reading: its cells are near-balanced "
    "(max/mean 1.14 < 2), so the governing metric would tell a "
    "production job NOT to split here — which is precisely what a "
    "stop-rule metric is for; the hot-cell value of splitting is "
    "measured by the probe-cost pair on candidate counts instead. "
    "Composes the registered rebalance oracle verbatim; max*count/sum "
    "keeps the ratio a single float division over exact integers.",
)
def ivf_rebalance_balance_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _balance_trajectory(spark, sf_dir, REBALANCE)


@query(
    "similarity_ivf_topk_postrebalance",
    oracle=_topk_sql(REBALANCE, "r2"),
    doc="IVF top-k THROUGH the twice-rebalanced routing table — version "
    "2 gets a consumer the moment it exists (the v1 lesson applied): "
    "queries route by argmax dot over the post-rebalance centroids and "
    "exact-cosine-rank within the routed v2 cell, whose membership is "
    "the assignment after BOTH splits. Same literal-fold routing and "
    "broadcast cell scan as the v1 consumer; the oracle chains the two "
    "split steps and the route/rank block.",
)
def similarity_ivf_topk_postrebalance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _topk_through(spark, sf_dir, REBALANCE)


@query(
    "similarity_ivf_topk_postsplit",
    oracle=_topk_sql(SPLIT, "1"),
    doc="IVF top-k THROUGH the post-split routing table — the consumer "
    "of the hot-cell split: the full "
    "maintenance ingest + hot-cell 2-means split runs first (shared "
    "engine with stream_cell_split_maintenance), then queries route by "
    "argmax dot over the VERSION-1 centroids (the hot cell replaced by "
    "its two halves) and exact-cosine-rank within the routed v1 cell, "
    "whose membership is the post-ingest assignment with split-cell "
    "members re-labeled by their 2-means side. Routing is the literal-"
    "array fold (no join, no shuffle); the cell scan is a broadcast "
    "equi-join on the assignment label. The oracle replays maintenance, "
    "split, re-assignment, routing, and ranking in one CTE chain — "
    "bitwise, including the deterministic tie-breaks at every stage. "
    "What the split buys is measured by similarity_ivf_split_probe_cost.",
)
def similarity_ivf_topk_postsplit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _topk_through(spark, sf_dir, SPLIT)


@query(
    "similarity_ivf_split_probe_cost",
    oracle=_probe_cost_sql(SPLIT, "1"),
    doc="The RECALL / PROBE-COST pair for the hot-cell split: one summary "
    "row comparing search through routing-table v0 (pre-split) and v1 "
    "(post-split) over the identical post-ingest corpus — total "
    "candidates scanned under each version (the probe cost an IVF "
    "query pays, v1/v0 ratio = what splitting the hottest cell buys), "
    "and the v1 top-k's exact overlap with the v0 top-k (the recall "
    "price of the finer routing: pairs lost when a query's true "
    "neighbors land on the other side of the split boundary). All "
    "counts exact-integer; the two ratios are single divisions. At "
    "100 TB this is the dashboard row an index-maintenance job logs to "
    "decide whether the rebalance pass should continue splitting.",
)
def similarity_ivf_split_probe_cost(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _probe_cost(spark, sf_dir, SPLIT, "1")


_SPLIT_NP2 = (
    _Point(0, 1, "0", "v0_np1", "v0"),
    _Point(1, 2, "1", "v1_np2", "v1_np2"),
)


@query(
    "similarity_ivf_split_nprobe2_recall",
    oracle=_recall_sql(SPLIT, _SPLIT_NP2),
    doc="The RECOVERY row for the hot-cell split, measured against the "
    "EXACT top-k (overlap-with-v0 would mislead here: a wider probe "
    "finds BETTER neighbors that displace v0's page, so v0-overlap "
    "falls as true recall rises): recall of the pre-split nprobe=1 "
    "page and of the post-split nprobe=2 page versus the brute-force "
    "exact page, plus the candidate counts pricing the difference. "
    "nprobe=2 on the split table is the knob a production searcher "
    "turns after a split: split-cell queries scan both halves (= the "
    "original cell), others add their second-nearest cell. nprobe>1 "
    "routing stays a pure projection — the per-row centroid ranking "
    "sorts the same literal array by (-dot, label) and explodes the "
    "top cells, no join or shuffle on the routing side.",
)
def similarity_ivf_split_nprobe2_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _recall_sheet(spark, sf_dir, SPLIT, _SPLIT_NP2)


_REBALANCE_SHEET = (
    _Point(1, 1, "a", "v1_np1", "v1_np1"),
    _Point(2, 1, "b", "v2_np1", "v2_np1"),
    _Point(2, 2, "c", "v2_np2", "v2_np2"),
)


@query(
    "similarity_ivf_rebalance_recall",
    oracle=_recall_sql(REBALANCE, _REBALANCE_SHEET),
    doc="The RECALL PRICE SHEET for the full greedy rebalance (two "
    "chained splits), closing for version 2 what similarity_ivf_split_"
    "nprobe2_recall closed for version 1: exact-top-k recall of the "
    "v1 incumbent at nprobe=1 and of the rebalanced v2 table at "
    "nprobe=1 and nprobe=2, with the candidate counts pricing each "
    "point — so the balance metric (ivf_rebalance_balance_stats) and "
    "the recall/cost frontier are read together, not asserted apart. "
    "Finer cells cut candidates at np1 (cheaper) and recover recall "
    "at np2; measured against the EXACT page because overlap-with-"
    "incumbent misleads when a wider probe finds better neighbors. "
    "Same literal-fold routing, broadcast cell scans, and one summary "
    "row of bounded aggregates.",
)
def similarity_ivf_rebalance_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _recall_sheet(spark, sf_dir, REBALANCE, _REBALANCE_SHEET)


@query(
    "semantic_decontaminate_ann",
    oracle=f"""
WITH {_SEMDECON_ANN_CTES.lstrip()},
agg AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_close,
         max(cosine) AS max_cosine
  FROM hits_a GROUP BY 1
),
nearest AS (
  SELECT vec_id, b_id AS nearest_bench_id FROM (
    SELECT vec_id, b_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, b_id ASC) AS rn
    FROM hits_a
  ) WHERE rn = 1
)
SELECT a.vec_id, a.n_bench_close, n.nearest_bench_id, a.max_cosine
FROM agg a JOIN nearest n USING (vec_id)
""",
    doc="Semantic decontamination THROUGH THE ANN INDEX — the scale path "
    "for semantic_decontaminate: the exact version "
    "pays |bench| dot products per corpus row; here each BENCHMARK "
    f"vector is routed to its top-{IVF_NPROBE} IVF cells (corpus-only "
    "centroids, exact-integer routing with deterministic tie-break — "
    "the benchmark is not part of the index) and only corpus rows "
    "whose OWN label is a probed cell are scored, so per-row work is "
    "|bench routed to my cell| dots — at 100 TB x thousand-item eval "
    "suites, the difference between a full-suite scan per row and a "
    "handful. The (b_id, cell, embedding) routing table broadcasts "
    "(|bench| x nprobe rows); the corpus probe is a broadcast equi-join "
    "on the label column the corpus scan already carries — no repeated "
    "shuffle, and only threshold survivors reach the per-vector window. "
    "Output schema identical to semantic_decontaminate; what cell-"
    "boundary loss costs is measured by semantic_decontaminate_ann_"
    "recall. Oracle replays centroids, routing, and scoring in SQL.",
    bench=True,
)
def semantic_decontaminate_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    hits = _semdecon_ann_hits(spark, sf_dir)
    w_rank = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("b_id").asc()
    )
    w_all = Window.partitionBy("vec_id")
    return (
        hits.withColumn("rn", F.row_number().over(w_rank))
        .withColumn(
            "n_bench_close", F.count(F.lit(1)).over(w_all).cast("bigint")
        )
        .withColumn("max_cosine", F.max("cosine").over(w_all))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "n_bench_close",
            F.col("b_id").alias("nearest_bench_id"),
            "max_cosine",
        )
    )


@query(
    "semantic_decontaminate_ann_recall",
    oracle=f"""
WITH enorms AS (
  SELECT vec_id, embedding,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
),
ebench AS (
  SELECT vec_id AS b_id, embedding AS b_emb, n2 AS b_n2
  FROM enorms WHERE vec_id % 50 = 0
),
ecorpus AS (SELECT * FROM enorms WHERE vec_id % 50 <> 0),
ehits AS (
  SELECT c.vec_id, b.b_id
  FROM ecorpus c CROSS JOIN ebench b
  WHERE CAST({scaled_dot_sql("c.embedding", "b.b_emb")} AS DOUBLE)
          / (sqrt(CAST(c.n2 AS DOUBLE)) * sqrt(CAST(b.b_n2 AS DOUBLE)))
        >= {SEMDECON_THRESHOLD}
),
{_SEMDECON_ANN_CTES.lstrip()},
ex AS (
  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_exact_flagged,
         CAST(count(*) AS BIGINT) AS n_exact_pairs
  FROM ehits
),
an AS (
  SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_ann_flagged,
         CAST(count(*) AS BIGINT) AS n_ann_pairs
  FROM hits_a
)
SELECT ex.n_exact_flagged, an.n_ann_flagged,
       CAST(an.n_ann_flagged AS DOUBLE)
         / CAST(ex.n_exact_flagged AS DOUBLE) AS flag_recall,
       ex.n_exact_pairs, an.n_ann_pairs,
       CAST(an.n_ann_pairs AS DOUBLE)
         / CAST(ex.n_exact_pairs AS DOUBLE) AS pair_recall
FROM ex CROSS JOIN an
""",
    doc="Recall of the ANN-routed decontaminator against the EXACT flagged "
    "set — the sibling of similarity_filtered_ivf_recall for the "
    "decontamination pipeline: one summary row with the exact and ANN "
    "flagged-vector counts plus (vec, bench) hit-pair counts, and the "
    "two recall ratios. ANN hits are a subset of exact hits by "
    "construction (same threshold, fewer pairs scored), so the ratios "
    "are pure cell-boundary loss — the nprobe knob's cost, priced here "
    "so a pipeline can choose exact vs routed per corpus size with "
    "eyes open. Both sides share the exact-integer scoring, so the "
    "metric is bitwise-stable; the division is the only float op.",
)
def semantic_decontaminate_ann_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    norms = _corpus_with_norms(spark, sf_dir)
    bench = norms.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("n2").alias("b_n2"),
    )
    corpus = norms.where(F.col("vec_id") % 50 != 0)
    cosine = scaled_dot(F.col("embedding"), F.col("b_emb")).cast(
        "double"
    ) / (
        F.sqrt(F.col("n2").cast("double"))
        * F.sqrt(F.col("b_n2").cast("double"))
    )
    exact_hits = (
        corpus.crossJoin(F.broadcast(bench))
        .select("vec_id", "b_id", cosine.alias("cosine"))
        .where(F.col("cosine") >= SEMDECON_THRESHOLD)
    )
    ex = exact_hits.agg(
        F.count_distinct("vec_id").alias("n_exact_flagged"),
        F.count(F.lit(1)).alias("n_exact_pairs"),
    )
    an = _semdecon_ann_hits(spark, sf_dir).agg(
        F.count_distinct("vec_id").alias("n_ann_flagged"),
        F.count(F.lit(1)).alias("n_ann_pairs"),
    )
    return ex.crossJoin(an).select(
        "n_exact_flagged",
        "n_ann_flagged",
        (
            F.col("n_ann_flagged").cast("double")
            / F.col("n_exact_flagged").cast("double")
        ).alias("flag_recall"),
        "n_exact_pairs",
        "n_ann_pairs",
        (
            F.col("n_ann_pairs").cast("double")
            / F.col("n_exact_pairs").cast("double")
        ).alias("pair_recall"),
    )


@query(
    "ivf_rebalance_skewed_trajectory",
    oracle=_trajectory_sql(SKEWED),
    doc="The greedy rebalance pass run on data that needs it, with a "
    "CONTRACTUAL step count: under "
    "the deterministic skew overlay (vec_id % 10 < 5 piled onto cell "
    "0) the hottest cell starts at 5.42x the mean, and the query runs "
    "EXACTLY K=5 split-the-hottest-cell steps — data-independent, so "
    "the oracle's statically-chained 5-step CTE replay is exact at "
    "every scale factor. Emits the per-version balance trajectory: "
    "max_members non-increasing, total_members conserved (splits "
    "partition, never drop), and max_over_mean per version — the stop "
    "metric a production operator would watch is CHECKED DATA here, "
    "not a hidden loop condition. At sf0.01 K=5 is precisely where "
    "max/mean first reaches <= 2.0 (271 -> 151 -> 120 -> 106 -> 82 -> "
    "64 max members over 10 -> 15 cells; pinned by "
    "test_skewed_rebalance_converges_at_sf001). Every intermediate "
    "routing table is pinned bitwise, not just the end state. Spark "
    "cost: each step touches ONLY the hot cell's members (persist + "
    "two seed lookups + one side write), never the full corpus, so a "
    "production pass over a 100 TB index prices at O(hot-cell) per "
    "step times K steps.",
)
def ivf_rebalance_skewed_trajectory(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _balance_trajectory(spark, sf_dir, SKEWED)


@query(
    "similarity_ivf_topk_skewed_rebalanced",
    oracle=_topk_sql(SKEWED, "rN"),
    doc="IVF top-k THROUGH the fully rebalanced routing table — the "
    "post-pass consumer (the v1/v2 lesson applied to the skewed "
    "fixture): queries route by argmax dot over the version-N "
    "centroids (N = the contractual K=5 splits) and "
    "exact-cosine-rank within the routed cell under the post-pass "
    "assignment. Same literal-fold routing and broadcast cell scan as "
    "every IVF consumer; the oracle chains all 5 split steps and the "
    "route/rank block, so a wrong intermediate split surfaces here as "
    "a routing diff.",
)
def similarity_ivf_topk_skewed_rebalanced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _topk_through(spark, sf_dir, SKEWED)


@query(
    "similarity_ivf_skewed_probe_cost",
    oracle=_probe_cost_sql(SKEWED, "N"),
    doc="What the FULL rebalance pass buys, priced on the skewed fixture: "
    "one summary row comparing search through v0 (hot cell at 5.4x "
    "mean — every query routed there scans 271 members) and vN (after "
    "the contractual K=5 splits) — total candidates scanned under each "
    "version (vN/v0 ratio = the probe-cost reduction the pass "
    "delivers) and the vN top-k's overlap with the v0 page. Without "
    "this row the split engine was oracle-checked but had never met "
    "data where the pass RUNS — here "
    "it runs 5 steps and the measured candidate reduction is the win.",
)
def similarity_ivf_skewed_probe_cost(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _probe_cost(spark, sf_dir, SKEWED, "N")


_SKEWED_SHEET = (
    _Point(0, 1, "0", "v0", "v0"),
    _Point(SKEW_SPLIT_K, 1, "N", "vN", "vN"),
)


@query(
    "similarity_ivf_skewed_recall",
    oracle=_recall_sql(SKEWED, _SKEWED_SHEET),
    doc="The honest price tag on the skewed rebalance, measured against "
    "the EXACT brute-force top-k (overlap-with-v0 alone would flatter "
    "the loop — v0's page from a 271-member mega-cell is itself "
    "imperfect, and indeed only 20% of it survives the rebalance): "
    "recall of the v0 page and the post-loop vN page versus ground "
    "truth, beside the candidate counts. Measured at sf0.01: recall "
    "0.24 -> 0.24 (UNCHANGED) while candidates drop to 0.57x — the "
    "loop halves the probe cost at zero recall cost, because the "
    "mega-cell's extra 1.75x candidates were mostly skew-dumped "
    "strangers, not neighbors. Absolute recall is low on BOTH sides "
    "by design: the skew overlay deliberately corrupts the quantizer "
    "(cells stop being Voronoi regions), which is exactly the regime "
    "a production rebalance meets; recall is bought back with "
    "nprobe=2, the established knob, now at the rebalanced scan "
    "price.",
)
def similarity_ivf_skewed_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _recall_sheet(spark, sf_dir, SKEWED, _SKEWED_SHEET)


_SKEWED_NP2 = (
    _Point(0, 1, "0", "v0_np1", "v0"),
    _Point(SKEW_SPLIT_K, 2, "N2", "vN_np2", "vN_np2"),
)


@query(
    "similarity_ivf_skewed_nprobe2_recall",
    oracle=_recall_sql(SKEWED, _SKEWED_NP2),
    doc="The recovery knob ON the rebalanced table — making the 'buy "
    "recall back with nprobe=2 at the rebalanced price' claim from "
    "similarity_ivf_skewed_recall a measured row instead of a "
    "sentence: exact-page recall of the pre-loop v0@np1 search vs the "
    "post-loop vN@np2 search, with candidate counts pricing both. "
    "After 5 splits the cells are ~half the mega-cell's size, so the "
    "second probe's extra scan starts from a far cheaper base — the "
    "operator's frontier point is (recall up, candidates comparable "
    "to or below the UNSPLIT single-probe cost). Routing stays a pure "
    "projection at nprobe=2 (literal sort + explode, no join).",
)
def similarity_ivf_skewed_nprobe2_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _recall_sheet(spark, sf_dir, SKEWED, _SKEWED_NP2)


# ---------------------------------------------------------------------------
# Clustered-overlay recall regime
#
# Every prior recall row is measured on noise-like synthetic embeddings — a
# deliberately LOW-recall regime where cells are not Voronoi neighborhoods
# (the knobs were priced, but never shown winning). The clustered overlay
# plants deterministic per-label structure the same way the skew overlay
# plants imbalance: each vector's quantized embedding gets a pseudo-random
# per-LABEL offset direction (portable-hash-derived, so Spark and DuckDB
# rebuild the identical integers) scaled to dominate the noise. Same-label
# vectors become genuine cosine neighbors, exact top-k stays in-cluster,
# and IVF-over-labels operates in the regime a production index actually
# lives in — recall@5 reaches ~1.0 at nprobe=1 while scanning ~10% of the
# brute-force comparisons. The curve query emits (recall, scan cost) per
# nprobe so the knob's price is measured in BOTH regimes.
# ---------------------------------------------------------------------------

CLUSTER_GAIN = 150  # quantized-unit multiplier on the per-label offset.
# Tuned for a REALISTIC curve, not a saturated one: offset norm
# ~GAIN*577*8 ≈ 0.69e6 vs noise norm ~2.4e6 at QUANT=2^20, so the shared
# direction shifts within-cluster cosine by ~+0.08 over the ~0.125-sigma
# noise-pair distribution — enough that exact pages are mostly in-cluster
# but boundary queries still need the second probe: measured recall@5 at
# sf0.01 is 0.84 / 0.96 / 1.00 for nprobe 1 / 2 / 3 (GAIN >= 300
# saturates all three at 1.0, which prices nothing)


def _int_dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS BIGINT) * p[2]))"
    )


def _clustered_corpus(
    spark: SparkSession, sf_dir: str, gain: int = CLUSTER_GAIN
) -> DataFrame:
    """(vec_id, label, cv, n2): quantized embedding + GAIN * the label's
    hash-derived offset direction, with its exact integer squared norm.
    Pure projection — zero shuffles, and the offset hash is JVM-side md5
    inside codegen (64 hashes/row, fixture-overlay cost only)."""
    emb = widen(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        ),
        spark,
    )

    def off(i1: Column) -> Column:
        return (
            portable_hash(
                F.concat(
                    F.lit("coff:"),
                    F.col("label").cast("string"),
                    F.lit(":"),
                    i1.cast("string"),
                )
            )
            % 2001
            - 1000
        )

    cv = F.transform(
        _quantized(F.col("embedding")),
        lambda x, i: x + F.lit(gain).cast("bigint") * off(i + 1),
    )
    return emb.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        cv.alias("cv"),
    ).withColumn("n2", _int_dot(F.col("cv"), F.col("cv")))


def _clustered_ctes(gain: int, p: str) -> str:
    """The clustered-overlay CTE chain with name prefix ``p`` and offset
    multiplier ``gain`` — lets one oracle carry SEVERAL overlay strengths
    side by side (the structure curve). ``p='c'``, ``gain=CLUSTER_GAIN``
    reproduces the canonical prelude names (cq, ccorpus, cexact, ...)."""
    coff = portable_hash_sql(
        "'coff:' || CAST(label AS VARCHAR) || ':' || CAST(d AS VARCHAR)"
    )
    return f"""{p}q AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         {_QUANT_SQL.format(vec="embedding")} AS qv
  FROM embeddings
),
{p}dim AS MATERIALIZED (
  SELECT vec_id, label, d,
         qv[d] + {gain} * ({coff} % 2001 - 1000) AS cval
  FROM (SELECT vec_id, label, qv,
               unnest(generate_series(1, {DIM})) AS d FROM {p}q)
),
{p}corpus AS MATERIALIZED (
  SELECT vec_id, label, cv, {_int_dot_sql("cv", "cv")} AS n2
  FROM (SELECT vec_id, label, list(cval ORDER BY d) AS cv
        FROM {p}dim GROUP BY vec_id, label)
),
{p}queries AS MATERIALIZED (
  SELECT vec_id AS query_id, cv AS q_cv, n2 AS q_n2
  FROM {p}corpus WHERE vec_id % {QUERY_STRIDE} = 0
),
{p}exact AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank, cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST({_int_dot_sql("q.q_cv", "c.cv")} AS DOUBLE)
               / (sqrt(CAST(q.q_n2 AS DOUBLE))
                  * sqrt(CAST(c.n2 AS DOUBLE))) AS cosine
      FROM {p}queries q JOIN {p}corpus c ON q.query_id <> c.vec_id))
  WHERE rank <= {TOP_K}
),
{p}cent AS MATERIALIZED (
  SELECT label, list(c ORDER BY d) AS cvec FROM (
    SELECT label, d,
           CAST((sum(cval)
                 - (((sum(cval) % count(*)) + count(*)) % count(*)))
                // count(*) AS BIGINT) AS c
    FROM {p}dim GROUP BY label, d)
  GROUP BY label
),
{p}route AS MATERIALIZED (
  SELECT query_id, label, rr FROM (
    SELECT q.query_id, t.label,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_int_dot_sql("q.q_cv", "t.cvec")} DESC, t.label ASC) AS rr
    FROM {p}queries q CROSS JOIN {p}cent t)
  WHERE rr <= 3
),
{p}scored AS MATERIALIZED (
  SELECT r.query_id, r.rr, c.vec_id AS neighbor_id,
         CAST({_int_dot_sql("q.q_cv", "c.cv")} AS DOUBLE)
           / (sqrt(CAST(q.q_n2 AS DOUBLE))
              * sqrt(CAST(c.n2 AS DOUBLE))) AS cosine
  FROM {p}route r
  JOIN {p}queries q ON q.query_id = r.query_id
  JOIN {p}corpus c ON c.label = r.label AND c.vec_id <> r.query_id
)"""


def _clustered_prelude_sql() -> str:
    """DuckDB twin of the clustered overlay: corpus, queries, exact top-k
    page, per-label centroids (exact floor division), and the top-3 route
    table — the CTE base every clustered query composes."""
    return "\nWITH " + _clustered_ctes(CLUSTER_GAIN, "c")


def _clustered_curve_tail() -> str:
    ctes, selects = [], []
    for p in (1, 2, 3):
        ctes.append(f"""
ctop{p} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM cscored WHERE rr <= {p})
  WHERE rank <= {TOP_K}
),
chit{p} AS (
  SELECT t.query_id FROM ctop{p} t
  JOIN cexact e ON e.query_id = t.query_id
              AND e.neighbor_id = t.neighbor_id
)""")
        selects.append(f"""
SELECT {p} AS nprobe,
  (SELECT CAST(count(*) AS BIGINT) FROM cexact) AS n_top_exact,
  (SELECT CAST(count(*) AS BIGINT) FROM chit{p}) AS n_hits,
  CAST((SELECT count(*) FROM chit{p}) AS DOUBLE)
    / CAST((SELECT count(*) FROM cexact) AS DOUBLE) AS recall,
  (SELECT CAST(count(*) AS BIGINT) FROM cscored WHERE rr <= {p})
    AS total_cand,
  CAST((SELECT count(*) FROM cscored WHERE rr <= {p}) AS DOUBLE)
    / CAST((SELECT count(*) FROM cqueries)
           * (SELECT count(*) - 1 FROM ccorpus) AS DOUBLE) AS cand_frac""")
    return "," + ",".join(ctes) + "\n" + "\nUNION ALL".join(selects)


@query(
    "similarity_clustered_topk",
    oracle=_clustered_prelude_sql()
    + "\nSELECT query_id, neighbor_id, rank, cosine FROM cexact",
    doc="Exact brute-force top-k over the CLUSTERED overlay — the ground "
    "truth the high-recall-regime curve measures against. Same "
    "integer-exact construction as similarity_topk_cosine, "
    "but in the already-quantized bigint domain (no rounding step): "
    "the per-label offset dominates the noise, so each query's page "
    "is genuinely in-cluster — the regime where an IVF cell IS a "
    "Voronoi neighborhood. Broadcast query set, one corpus scan.",
)
def similarity_clustered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_page(_clustered_corpus(spark, sf_dir), "cv", _int_dot)


@query(
    "similarity_ivf_clustered_recall_curve",
    oracle=_clustered_prelude_sql() + _clustered_curve_tail(),
    doc="The IVF recall/cost CURVE in a regime where ANN can win: "
    "on the clustered overlay, one row per nprobe in "
    "1..3 — recall@5 of the routed search against the exact clustered "
    "page, total candidates scanned, and cand_frac = candidates / "
    "(queries x (corpus-1)), the fraction of brute-force work paid. "
    "Measured at sf0.01: recall 0.84 at nprobe=1 for ~0.10 of the "
    "brute-force scan, 0.96 at ~0.19, 1.00 at ~0.29 — the realistic "
    "high-regime frontier (route to your own cluster, scan one cell, "
    "buy the boundary queries back with a second probe) vs the "
    "noise-regime rows (similarity_ann_recall 0.23-0.40) where no "
    "cell structure exists to exploit. Routing is a broadcast of 10 "
    "centroids; the cell scan is an equi-join on label; every number "
    "is integer-derived and bitwise-reproducible.",
)
def similarity_ivf_clustered_recall_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    corpus = _clustered_corpus(spark, sf_dir).persist()
    pinned = [corpus]
    try:
        queries = corpus.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("cv").alias("qv"),
            F.col("n2").alias("q_n2"),
        )
        exact = _exact_page(corpus, "cv", _int_dot).select(
            "query_id", "neighbor_id"
        )
        # per-label exact integer centroids over the CLUSTERED vectors
        route = _route(queries, _centroids(corpus, vec="cv"), "query_id", 3)
        n_cos = _int_dot(F.col("qv"), F.col("cv")).cast("double") / (
            F.sqrt(F.col("q_n2").cast("double"))
            * F.sqrt(F.col("n2").cast("double"))
        )
        scored = (
            corpus.select(
                F.col("vec_id").alias("neighbor_id"), "label", "cv", "n2"
            )
            .join(F.broadcast(route), "label")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "rr", "neighbor_id", n_cos.alias("cosine"))
            .persist()
        )
        pinned.append(scored)
        exact = exact.persist()
        pinned.append(exact)
        n_exact = exact.count()
        n_q = queries.count()
        n_c = corpus.count()
        rows = []
        for p in (1, 2, 3):
            sc = scored.where(F.col("rr") <= p)
            topk = _topk_filter(sc).select("query_id", "neighbor_id")
            n_hits = topk.join(exact, ["query_id", "neighbor_id"]).count()
            total_cand = sc.count()
            rows.append(
                (
                    p,
                    n_exact,
                    n_hits,
                    n_hits / n_exact,
                    total_cand,
                    total_cand / (n_q * (n_c - 1)),
                )
            )
        out = spark.createDataFrame(
            rows,
            "nprobe int, n_top_exact bigint, n_hits bigint, recall double,"
            " total_cand bigint, cand_frac double",
        )
    finally:
        for df in pinned:
            df.unpersist()
    return out


def _clustered_lsh_ctes(p: str) -> str:
    """LSH buckets + candidates + re-rank + hit CTEs over the clustered
    vectors with name prefix ``p`` — same 4x8-bit sign-plane index as
    similarity_ann_lsh_topk, applied in the already-quantized domain."""
    case = " ".join(
        f"WHEN {b} THEN {_band_sig_sql('clsh', b)}" for b in range(LSH_BANDS)
    )
    return f"""{p}buckets AS MATERIALIZED (
  SELECT vec_id, band, CASE band {case} END AS sig
  FROM (SELECT vec_id, cv AS q_clsh FROM {p}corpus)
  CROSS JOIN (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS band)
),
{p}lcand AS MATERIALIZED (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM {p}buckets qb
  JOIN {p}buckets cb ON qb.band = cb.band AND qb.sig = cb.sig
                  AND qb.vec_id <> cb.vec_id
  WHERE qb.vec_id % {QUERY_STRIDE} = 0
),
{p}ltop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id,
           row_number() OVER (PARTITION BY c.query_id ORDER BY
             CAST({_int_dot_sql("q.cv", "n.cv")} AS DOUBLE)
               / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(n.n2 AS DOUBLE)))
             DESC, c.neighbor_id ASC) AS rank
    FROM {p}lcand c
    JOIN {p}corpus q ON q.vec_id = c.query_id
    JOIN {p}corpus n ON n.vec_id = c.neighbor_id)
  WHERE rank <= {TOP_K}
),
{p}lhit AS (
  SELECT t.query_id FROM {p}ltop t
  JOIN {p}exact e ON e.query_id = t.query_id
              AND e.neighbor_id = t.neighbor_id
)"""


def _clustered_lsh_tail_sql() -> str:
    """The standalone LSH-recall oracle tail: the prefixed CTEs plus the
    one-row recall/price summary."""
    return f""",
{_clustered_lsh_ctes("c")}
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM cexact) AS n_top_exact,
  (SELECT CAST(count(*) AS BIGINT) FROM clhit) AS n_hits,
  CAST((SELECT count(*) FROM clhit) AS DOUBLE)
    / CAST((SELECT count(*) FROM cexact) AS DOUBLE) AS recall,
  (SELECT CAST(count(*) AS BIGINT) FROM clcand) AS total_cand,
  CAST((SELECT count(*) FROM clcand) AS DOUBLE)
    / CAST((SELECT count(*) FROM cqueries)
           * (SELECT count(*) - 1 FROM ccorpus) AS DOUBLE) AS cand_frac"""


@query(
    "similarity_lsh_clustered_recall",
    oracle=_clustered_prelude_sql() + _clustered_lsh_tail_sql(),
    doc="The LSH index measured in the SAME regime as the IVF clustered "
    "curve, completing the juxtaposition: the 4x8-bit "
    "sign-hyperplane index over the CLUSTERED vectors, bucket-join "
    "candidates, exact integer re-rank, recall@5 against the clustered "
    "exact page plus the candidate-fraction price. The measured answer "
    "is a LESSON, not a win: recall 0.04 at cand_frac 0.029 vs the IVF "
    "curve's 0.84 at 0.10 — the overlay's per-label direction shifts "
    "within-cluster cosine by only ~+0.08, which the IVF route "
    "detects because the centroid dot INTEGRATES the shared bias "
    "across all 64 dims, while each sign-plane quantizes one "
    "projection to 1 bit and the weak bias drowns in noise, so "
    "same-cluster signatures rarely agree on a whole 8-bit band. "
    "When structure is weak-but-real, centroid routing wins; LSH "
    "needs strong angular alignment (or more/shorter bands) to see "
    "it. Corpus bucketed once (4 rows/vector), candidates via "
    "equi-join, no cross product.",
)
def similarity_lsh_clustered_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # every persisted frame goes on this list the moment it's persisted,
    # and the finally unpersists the LIST — an exception anywhere in the
    # body can no longer leak a cached frame into the rest of the gate
    # session (same shape as similarity_ivf_clustered_recall_curve)
    pinned: "list[DataFrame]" = []
    corpus = _clustered_corpus(spark, sf_dir).persist()
    pinned.append(corpus)
    try:
        queries = corpus.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("cv").alias("q_cv"),
            F.col("n2").alias("q_n2"),
        )
        exact = (
            _exact_page(corpus, "cv", _int_dot)
            .select("query_id", "neighbor_id")
            .persist()
        )
        pinned.append(exact)
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"), _band_sig("cv", b).alias("sig")
                )
                for b in range(LSH_BANDS)
            ]
        )
        buckets = corpus.select(
            "vec_id", F.explode(band_structs).alias("bs")
        ).select(
            "vec_id",
            F.col("bs.band").alias("band"),
            F.col("bs.sig").alias("sig"),
        )
        qb = buckets.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
            F.col("vec_id").alias("query_id"), "band", "sig"
        )
        cand = (
            buckets.join(F.broadcast(qb), ["band", "sig"])
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
            .distinct()
            .persist()
        )
        pinned.append(cand)
        n_cand = cand.count()
        nbr = corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("cv").alias("n_cv"),
            F.col("n2").alias("n_n2"),
        )
        qside = corpus.select(
            F.col("vec_id").alias("query_id"),
            F.col("cv").alias("q_cv"),
            F.col("n2").alias("q_n2"),
        )
        c_cos = _int_dot(F.col("q_cv"), F.col("n_cv")).cast("double") / (
            F.sqrt(F.col("q_n2").cast("double"))
            * F.sqrt(F.col("n_n2").cast("double"))
        )
        topk = _topk_filter(
            cand.join(F.broadcast(qside), "query_id")
            .join(nbr, "neighbor_id")
            .select("query_id", "neighbor_id", c_cos.alias("cosine"))
        ).select("query_id", "neighbor_id")
        n_exact = exact.count()
        n_hits = topk.join(exact, ["query_id", "neighbor_id"]).count()
        n_q = queries.count()
        n_c = corpus.count()
        out = spark.createDataFrame(
            [
                (
                    n_exact,
                    n_hits,
                    n_hits / n_exact,
                    n_cand,
                    n_cand / (n_q * (n_c - 1)),
                )
            ],
            "n_top_exact bigint, n_hits bigint, recall double,"
            " total_cand bigint, cand_frac double",
        )
    finally:
        for df in pinned:
            df.unpersist()
    return out


STRUCTURE_GAINS = (150, 1500)  # weak-but-real vs strong cluster structure
SQ_LEVELS = 255  # 8-bit code range 0..255 (mirrors similarity/sq.py's
# _SQ_LEVELS — duplicated here because sq.py imports this module)


def _structure_sq8_mrl_ctes(p: str) -> str:
    """SQ8 and Matryoshka tier CTEs over the clustered vectors with name
    prefix ``p`` — the two BRUTE-FORCE codec tiers of the index-choice
    frontier. SQ8: per-dim corpus-wide (lo, rng) over
    the overlay values, 8-bit floor-division codes, SYMMETRIC search
    over reconstructions (both sides decoded — the shape a code-resident
    scan pays). MRL: exact cosine over the first MRL_DIMS-dim prefix
    fills a per-query pool of MRL_POOL candidates, re-ranked full-width.
    All arithmetic is the repo's integer-exact calculus; operands of
    every floor division are non-negative so DuckDB // and Spark DIV
    agree."""
    return f"""{p}sqd AS MATERIALIZED (
  SELECT d, min(cval) AS lo, max(cval) - min(cval) AS rng
  FROM {p}dim GROUP BY d
),
{p}sqr AS MATERIALIZED (
  SELECT vec_id, list(rv ORDER BY d) AS rv FROM (
    SELECT m.vec_id, m.d,
           CASE WHEN s.rng > 0
                THEN s.lo + ((((m.cval - s.lo) * {SQ_LEVELS})
                              // s.rng) * s.rng) // {SQ_LEVELS}
                ELSE s.lo END AS rv
    FROM {p}dim m JOIN {p}sqd s USING (d))
  GROUP BY vec_id
),
{p}sqc AS MATERIALIZED (
  SELECT vec_id, rv, {_int_dot_sql("rv", "rv")} AS rn2 FROM {p}sqr
),
{p}sqtop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             CAST({_int_dot_sql("q.rv", "c.rv")} AS DOUBLE)
               / (sqrt(CAST(q.rn2 AS DOUBLE))
                  * sqrt(CAST(c.rn2 AS DOUBLE))) DESC,
             c.vec_id ASC) AS rank
    FROM {p}sqc q JOIN {p}sqc c ON c.vec_id <> q.vec_id
    WHERE q.vec_id % {QUERY_STRIDE} = 0)
  WHERE rank <= {TOP_K}
),
{p}sqhit AS (
  SELECT t.query_id FROM {p}sqtop t
  JOIN {p}exact e ON e.query_id = t.query_id
                 AND e.neighbor_id = t.neighbor_id
),
{p}mrlc AS MATERIALIZED (
  SELECT vec_id, cv[1:{MRL_DIMS}] AS mv,
         {_int_dot_sql(f"cv[1:{MRL_DIMS}]", f"cv[1:{MRL_DIMS}]")} AS mn2
  FROM {p}corpus
),
{p}mrlpool AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             CAST({_int_dot_sql("q.mv", "c.mv")} AS DOUBLE)
               / (sqrt(CAST(q.mn2 AS DOUBLE))
                  * sqrt(CAST(c.mn2 AS DOUBLE))) DESC,
             c.vec_id ASC) AS rank
    FROM {p}mrlc q JOIN {p}mrlc c ON c.vec_id <> q.vec_id
    WHERE q.vec_id % {QUERY_STRIDE} = 0)
  WHERE rank <= {MRL_POOL}
),
{p}mrltop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT pl.query_id, pl.neighbor_id,
           row_number() OVER (PARTITION BY pl.query_id ORDER BY
             CAST({_int_dot_sql("q.cv", "n.cv")} AS DOUBLE)
               / (sqrt(CAST(q.n2 AS DOUBLE))
                  * sqrt(CAST(n.n2 AS DOUBLE))) DESC,
             pl.neighbor_id ASC) AS rank
    FROM {p}mrlpool pl
    JOIN {p}corpus q ON q.vec_id = pl.query_id
    JOIN {p}corpus n ON n.vec_id = pl.neighbor_id)
  WHERE rank <= {TOP_K}
),
{p}mrlhit AS (
  SELECT t.query_id FROM {p}mrltop t
  JOIN {p}exact e ON e.query_id = t.query_id
                 AND e.neighbor_id = t.neighbor_id
)"""


def _structure_curve_sql() -> str:
    """Two full overlay chains (weak / strong) side by side, each with its
    IVF nprobe=1 page and its LSH page measured against that overlay's
    own exact ground truth — one row per gain."""
    ctes, selects = [], []
    for gain in STRUCTURE_GAINS:
        p = f"g{gain}_"
        ctes.append(_clustered_ctes(gain, p))
        ctes.append(_clustered_lsh_ctes(p))
        ctes.append(_structure_sq8_mrl_ctes(p))
        ctes.append(f"""{p}itop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM {p}scored WHERE rr <= 1)
  WHERE rank <= {TOP_K}
),
{p}ihit AS (
  SELECT t.query_id FROM {p}itop t
  JOIN {p}exact e ON e.query_id = t.query_id
              AND e.neighbor_id = t.neighbor_id
)""")
        selects.append(f"""
SELECT {gain} AS gain,
  (SELECT CAST(count(*) AS BIGINT) FROM {p}exact) AS n_top_exact,
  CAST((SELECT count(*) FROM {p}ihit) AS DOUBLE)
    / CAST((SELECT count(*) FROM {p}exact) AS DOUBLE) AS ivf_recall,
  CAST((SELECT count(*) FROM {p}scored WHERE rr <= 1) AS DOUBLE)
    / CAST((SELECT count(*) FROM {p}queries)
           * (SELECT count(*) - 1 FROM {p}corpus) AS DOUBLE)
    AS ivf_cand_frac,
  CAST((SELECT count(*) FROM {p}lhit) AS DOUBLE)
    / CAST((SELECT count(*) FROM {p}exact) AS DOUBLE) AS lsh_recall,
  CAST((SELECT count(*) FROM {p}lcand) AS DOUBLE)
    / CAST((SELECT count(*) FROM {p}queries)
           * (SELECT count(*) - 1 FROM {p}corpus) AS DOUBLE)
    AS lsh_cand_frac,
  CAST((SELECT count(*) FROM {p}sqhit) AS DOUBLE)
    / CAST((SELECT count(*) FROM {p}exact) AS DOUBLE) AS sq8_recall,
  CAST(1 AS DOUBLE) / 8 AS sq8_bytes_frac,
  CAST((SELECT count(*) FROM {p}mrlhit) AS DOUBLE)
    / CAST((SELECT count(*) FROM {p}exact) AS DOUBLE) AS mrl_recall,
  CAST({MRL_DIMS} AS DOUBLE) / {DIM}
    + CAST((SELECT count(*) FROM {p}mrlpool) AS DOUBLE)
      / CAST((SELECT count(*) FROM {p}queries)
             * (SELECT count(*) - 1 FROM {p}corpus) AS DOUBLE)
    AS mrl_bytes_frac""")
    return "\nWITH " + ",\n".join(ctes) + "\nUNION ALL".join(selects)


@query(
    "similarity_index_structure_curve",
    oracle=_structure_curve_sql(),
    doc="The COMPLETE index-choice frontier vs STRUCTURE STRENGTH in one "
    "table: for a weak "
    "overlay (gain 150: within-cluster cosine shift ~+0.08) and a "
    "strong one (gain 1500: ~0.89), FOUR serving strategies are each "
    "scored against that overlay's own exact ground truth — IVF "
    "nprobe=1 and 4x8-bit LSH with their candidate-fraction prices, "
    "plus the two BRUTE-FORCE codec tiers: SQ8 (symmetric search over "
    "8-bit reconstructions — recall near 1.0 at a constant 1/8 byte "
    "price, the 'index almost fits in RAM' lever) and Matryoshka "
    "(first-16-dim coarse pass filling a 50-candidate pool, re-ranked "
    "full-width — bytes_frac = 16/64 + pool/(n-1)). The codec tiers "
    "price in BYTES (they always touch every vector; their lever is "
    "width), the routed tiers in candidates (full width; their lever "
    "is scan fraction) — together the serving-cost decision surface: "
    "IVF 0.84 -> 1.00 at a FLAT 0.097 scan price; LSH 0.04 -> 1.00 "
    "paying 0.029 -> 0.120 (bucket collisions explode exactly when "
    "structure appears); SQ8 always-high recall at 0.125; MRL cheap "
    "but structure-sensitive. When cluster structure exists at any "
    "strength, route by centroids; when it doesn't, quantize width, "
    "not scan.",
)
def similarity_index_structure_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rows = []
    for gain in STRUCTURE_GAINS:
        # per-gain pinned list: every persist lands here and the finally
        # unpersists the list, so an exception mid-gain cannot leak
        # cached frames into the rest of the gate session
        pinned: "list[DataFrame]" = []
        corpus = _clustered_corpus(spark, sf_dir, gain).persist()
        pinned.append(corpus)
        try:
            queries = corpus.where(
                F.col("vec_id") % QUERY_STRIDE == 0
            ).select(
                F.col("vec_id").alias("query_id"),
                F.col("cv").alias("qv"),
                F.col("n2").alias("q_n2"),
            )
            exact = (
                _exact_page(corpus, "cv", _int_dot)
                .select("query_id", "neighbor_id")
                .persist()
            )
            pinned.append(exact)
            n_exact = exact.count()
            n_q = queries.count()
            n_c = corpus.count()
            denom = n_q * (n_c - 1)

            # IVF nprobe=1: per-label exact centroid, top-1 route
            route = _route(queries, _centroids(corpus, vec="cv"), "query_id", 1)
            n_cos = _int_dot(F.col("qv"), F.col("cv")).cast("double") / (
                F.sqrt(F.col("q_n2").cast("double"))
                * F.sqrt(F.col("n2").cast("double"))
            )
            iscored = (
                corpus.select(
                    F.col("vec_id").alias("neighbor_id"), "label", "cv", "n2"
                )
                .join(F.broadcast(route), "label")
                .where(F.col("neighbor_id") != F.col("query_id"))
                .select("query_id", "neighbor_id", n_cos.alias("cosine"))
                .persist()
            )
            pinned.append(iscored)
            i_cand = iscored.count()
            itop = _topk_filter(
                iscored.select(
                    "query_id", "neighbor_id", "cosine"
                )
            ).select("query_id", "neighbor_id")
            i_hits = itop.join(exact, ["query_id", "neighbor_id"]).count()

            # LSH: same 4x8-bit sign-plane index over cv
            band_structs = F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_sig("cv", b).alias("sig"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
            buckets = corpus.select(
                "vec_id", F.explode(band_structs).alias("bs")
            ).select(
                "vec_id",
                F.col("bs.band").alias("band"),
                F.col("bs.sig").alias("sig"),
            )
            qb = buckets.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
                F.col("vec_id").alias("query_id"), "band", "sig"
            )
            lcand = (
                buckets.join(F.broadcast(qb), ["band", "sig"])
                .where(F.col("vec_id") != F.col("query_id"))
                .select("query_id", F.col("vec_id").alias("neighbor_id"))
                .distinct()
                .persist()
            )
            pinned.append(lcand)
            l_cand = lcand.count()
            qside = corpus.select(
                F.col("vec_id").alias("query_id"),
                F.col("cv").alias("q_cv"),
                F.col("n2").alias("q_n2"),
            )
            nbr = corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("cv").alias("n_cv"),
                F.col("n2").alias("n_n2"),
            )
            l_cos = _int_dot(F.col("q_cv"), F.col("n_cv")).cast(
                "double"
            ) / (
                F.sqrt(F.col("q_n2").cast("double"))
                * F.sqrt(F.col("n_n2").cast("double"))
            )
            ltop = _topk_filter(
                lcand.join(F.broadcast(qside), "query_id")
                .join(nbr, "neighbor_id")
                .select("query_id", "neighbor_id", l_cos.alias("cosine"))
            ).select("query_id", "neighbor_id")
            l_hits = ltop.join(exact, ["query_id", "neighbor_id"]).count()

            # SQ8 tier: 8-bit codes over the overlay
            # values, SYMMETRIC brute-force search over reconstructions
            # — the full scan at 1/8 the byte width. Lazy import: sq.py
            # imports this module, so the dependency must stay one-way
            # at module-load time.
            from spark_streaming_twitter_spark.similarity.sq import (
                _sq_encode,
            )

            sqc = (
                _sq_encode(corpus.select("vec_id", F.col("cv").alias("q")))
                .select("vec_id", F.col("r").alias("rv"))
                .withColumn("rn2", _int_dot(F.col("rv"), F.col("rv")))
                .persist()
            )
            pinned.append(sqc)
            sq_queries = sqc.where(
                F.col("vec_id") % QUERY_STRIDE == 0
            ).select(
                F.col("vec_id").alias("query_id"),
                F.col("rv").alias("q_rv"),
                F.col("rn2").alias("q_rn2"),
            )
            sq_cos = _int_dot(F.col("q_rv"), F.col("rv")).cast("double") / (
                F.sqrt(F.col("q_rn2").cast("double"))
                * F.sqrt(F.col("rn2").cast("double"))
            )
            sqtop = _topk_filter(
                sqc.crossJoin(F.broadcast(sq_queries))
                .where(F.col("vec_id") != F.col("query_id"))
                .select(
                    "query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    sq_cos.alias("cosine"),
                )
            ).select("query_id", "neighbor_id")
            sq_hits = sqtop.join(exact, ["query_id", "neighbor_id"]).count()

            # Matryoshka tier: exact cosine over the first MRL_DIMS of
            # the overlay vector fills a per-query MRL_POOL pool (the
            # coarse pass touches every vector at MRL_DIMS/DIM of the
            # bytes), re-ranked full-width
            mrlc = corpus.select(
                "vec_id", F.slice(F.col("cv"), 1, MRL_DIMS).alias("mv")
            ).withColumn("mn2", _int_dot(F.col("mv"), F.col("mv")))
            m_queries = mrlc.where(
                F.col("vec_id") % QUERY_STRIDE == 0
            ).select(
                F.col("vec_id").alias("query_id"),
                F.col("mv").alias("q_mv"),
                F.col("mn2").alias("q_mn2"),
            )
            m_cos = _int_dot(F.col("q_mv"), F.col("mv")).cast("double") / (
                F.sqrt(F.col("q_mn2").cast("double"))
                * F.sqrt(F.col("mn2").cast("double"))
            )
            w_pool = Window.partitionBy("query_id").orderBy(
                F.col("m_cosine").desc(), F.col("neighbor_id").asc()
            )
            pool = (
                mrlc.crossJoin(F.broadcast(m_queries))
                .where(F.col("vec_id") != F.col("query_id"))
                .select(
                    "query_id",
                    F.col("vec_id").alias("neighbor_id"),
                    m_cos.alias("m_cosine"),
                )
                .withColumn("prank", F.row_number().over(w_pool))
                .where(F.col("prank") <= MRL_POOL)
                .select("query_id", "neighbor_id")
                .persist()
            )
            pinned.append(pool)
            m_pool_n = pool.count()
            full_q = corpus.select(
                F.col("vec_id").alias("query_id"),
                F.col("cv").alias("q_cv"),
                F.col("n2").alias("q_n2"),
            )
            full_n = corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("cv").alias("n_cv"),
                F.col("n2").alias("n_n2"),
            )
            rr_cos = _int_dot(F.col("q_cv"), F.col("n_cv")).cast(
                "double"
            ) / (
                F.sqrt(F.col("q_n2").cast("double"))
                * F.sqrt(F.col("n_n2").cast("double"))
            )
            mrltop = _topk_filter(
                pool.join(F.broadcast(full_q), "query_id")
                .join(full_n, "neighbor_id")
                .select("query_id", "neighbor_id", rr_cos.alias("cosine"))
            ).select("query_id", "neighbor_id")
            m_hits = mrltop.join(exact, ["query_id", "neighbor_id"]).count()

            rows.append(
                (
                    gain,
                    n_exact,
                    i_hits / n_exact,
                    i_cand / denom,
                    l_hits / n_exact,
                    l_cand / denom,
                    sq_hits / n_exact,
                    1.0 / 8,
                    m_hits / n_exact,
                    MRL_DIMS / DIM + m_pool_n / denom,
                )
            )
        finally:
            for df in pinned:
                df.unpersist()
    return spark.createDataFrame(
        rows,
        "gain int, n_top_exact bigint, ivf_recall double,"
        " ivf_cand_frac double, lsh_recall double, lsh_cand_frac double,"
        " sq8_recall double, sq8_bytes_frac double,"
        " mrl_recall double, mrl_bytes_frac double",
    )
