"""Deduplication operators over ``documents`` / ``embeddings``.

The reference has no dedup at all (SURVEY.md §2.7); this module supplies the
dedup family a training-data pipeline needs (SURVEY.md §2.8), each one a
pure-DataFrame composition with an exact SQL oracle twin:

- exact dedup            — content-hash groupBy (``dedup_exact``)
- MinHash + LSH banding  — shingle → k seeded min-hashes → band keys →
                           bucket self-join (``dedup_minhash_lsh_pairs``)
- near-dup end-to-end    — LSH candidates verified with exact Jaccard, then
                           a keep-min-id drop list (``dedup_near_duplicates``,
                           ``dedup_drop_list``)
- n-gram Jaccard         — exact shingle-set similarity for verification
                           (``dedup_ngram_jaccard_pairs``)
- SimHash                — 60-bit sign-of-sum signature + chunk-LSH hamming
                           pairs (``dedup_simhash_signatures``, ``_pairs``)
- embedding cosine       — exact high-cosine pairs with integer-scaled dot
                           products (``dedup_embedding_cosine_pairs``)
- edit-distance verify   — Levenshtein over candidate pairs
                           (``dedup_edit_distance_verify``)
- decontamination        — benchmark shingle-overlap removal
                           (``dedup_decontaminate``)
- groups / drop list     — EXACT-FIRST staged: content-hash dedup, then
                           LSH over canonicals; copies inherit labels
                           (``dedup_drop_list``, ``dedup_group_ids``)
- capstones              — curation pipelines composing every stage
                           (``corpus_curation_pipeline``, ``_full``)

Streaming MinHash dedup computes band keys row-wise inside the stream
(``minhash_band_rows``: no groupBy, bit-identical to the batch
``minhash_buckets``). ``_TEXT_KIND`` binds the ingest stream and the
five self/TTL streams (``stream_text_minhash_{self_dedup[_unordered],
ttl_dedup[_unordered|_bounded_disorder]}``) to the shells of
streaming/bucket_state.py, which the media streams share: a band key is
a bucket, 64 state shards are (band, first hex digit of band_key), and
a pair's score is its number of shared bands. The table-index twin
(``stream_text_minhash_self_dedup_batchidx``) and the keeper
(``stream_text_minhash_keeper_dedup*``, streaming/keeper.py) read the
same banded spool.

Scale design (100 TB):
- Every pipeline is shuffle-keyed on high-cardinality values (shingle hash,
  band key, simhash chunk) — no constant-key funnels.
- Every batch pair scorer takes its candidates from the one shared-key
  self-join kernel in dedup/pairs.py (``a.id < b.id``, each pair once).
  Hot keys are the only skew risk (a boilerplate shingle shared by
  millions of docs). AQE skew-join splitting handles moderate skew; for
  adversarial data the kernel's ``rare_keys`` drops keys above a
  document-frequency cap before the self-join, and
  ``lsh_candidate_pairs(buckets, bucket_cap=N)`` keeps only the N
  smallest doc_ids per bucket (pathological keys degrade gracefully;
  documented recall trade-off, tested in tests/test_dedup.py).
- The exact Jaccard verification joins shingles ONLY for candidate pairs —
  the full O(n^2) comparison never materializes.
- The brute-force cosine self-join here is the correctness baseline;
  the scale path (random-hyperplane LSH prefilter) lives in
  ``similarity.ann`` and reuses these verified semantics.

Float-parity: ratios (Jaccard, cosine) are single divisions of exactly
computed integers — deterministic IEEE-754, bitwise equal across engines.
Dot products are computed in scaled-integer space (float*float products are
exact in double; scaling by 2^40 is exact; the bigint sum is order-free).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.catalog import stage, table, widen
from spark_streaming_twitter_spark.dedup.pairs import (
    hamming_pairs,
    key_matches,
    rare_keys,
    shared_key_pairs,
)
from spark_streaming_twitter_spark.functions.hashing import (
    portable_hash,
    portable_hash_sql,
)
from spark_streaming_twitter_spark.functions import sampling
from spark_streaming_twitter_spark.registry import QUERIES, query
from spark_streaming_twitter_spark.streaming.bucket_state import (
    BucketKind,
    ingest_stream,
    read_spool,
    state_stream,
)
from spark_streaming_twitter_spark.streaming.keeper import (
    keeper_stream,
    make_keeper_prober,
)
from spark_streaming_twitter_spark.text.analysis import (
    _EMAIL_RE as _PII_EMAIL_RE,
    _PHONE_RE as _PII_PHONE_RE,
    tokens,
)

# MinHash configuration: k = BANDS * ROWS_PER_BAND hash functions from the
# affine family h_i(x) = (A_i * h(x) + B_i) mod P over one base md5-derived
# hash — one md5 per shingle instead of k (16x fewer md5s in the hot path),
# same collision guarantees. A_i, h < 2^30 keeps A_i*h + B_i < 2^61: no
# overflow in either engine's BIGINT. With r=4, b=4 the candidate
# probability is 1-(1-j^4)^4 — steep around jaccard ~0.7.
MINHASH_BANDS = 4
MINHASH_ROWS = 4
MINHASH_P = 1073741789  # largest prime < 2^30
SHINGLE_N = 3


def _affine_coeff(i: int, which: str) -> int:
    """Deterministic A_i/B_i in [1, P): first 15 md5 hex chars mod P."""
    h = int(hashlib.md5(f"minhash:{which}:{i}".encode()).hexdigest()[:15], 16)
    return h % (MINHASH_P - 1) + 1


_MINHASH_A = [_affine_coeff(i, "a") for i in range(MINHASH_BANDS * MINHASH_ROWS)]
_MINHASH_B = [_affine_coeff(i, "b") for i in range(MINHASH_BANDS * MINHASH_ROWS)]

# SimHash: 60 bits keeps the signature a positive BIGINT in both engines.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 4 x 15-bit chunks; guarantees recall for hamming <= 3

DOT_SCALE = float(1 << 40)  # exact power-of-two scaling for float products


def shingles(toks: Column, n: int) -> Column:
    """Distinct n-token shingles of a token array (whole text if < n)."""
    arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(arr)


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): one row per distinct 3-token shingle per document."""
    return docs.select(
        "doc_id",
        F.explode(shingles(tokens(F.lower(F.col("text"))), SHINGLE_N)).alias("sh"),
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # widen: the shingle explode + per-shingle md5 is the hot loop; a
    # single-file fixture scan would pin it to one core.
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    return doc_shingles(docs)


_SHINGLES_SQL = rf"""
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= {SHINGLE_N}
                THEN list_transform(
                       generate_series(1, len(toks) - {SHINGLE_N - 1}),
                       i -> array_to_string(toks[i:i+{SHINGLE_N - 1}], ' '))
                ELSE [array_to_string(toks, ' ')] END)) AS sh
  FROM toks
)
"""


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_md5,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
""",
    doc="Exact dedup via content-hash groupBy: one shuffle keyed by md5 — "
    "the 100 TB shape (dropDuplicates on a hash column, never on the raw "
    "text). keep = min doc_id per content group.",
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        docs.select("doc_id", F.md5("text").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_buckets(sh: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): LSH bucket assignment from a shingle stream.

    One md5 per shingle; the k=16 signature slots are affine transforms of
    that base hash, aggregated as ONE wide min-aggregate (single shuffle
    keyed by doc_id — no seed-explosion multiplying the shuffle by k).
    """
    k = MINHASH_BANDS * MINHASH_ROWS
    base = sh.select(
        "doc_id", (portable_hash(F.col("sh")) % MINHASH_P).alias("h")
    )
    mins = base.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * _MINHASH_A[i] + _MINHASH_B[i]) % MINHASH_P).alias(
                f"m{i}"
            )
            for i in range(k)
        ]
    )
    # One explode, not a 4-way union: a union of N projections of the same
    # aggregate makes Spark recompute the upstream pipeline N times (and 2N
    # times on each side of a self-join); the exploded array form keeps a
    # single linear plan.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{band * MINHASH_ROWS + r}").cast("string")
                            for r in range(MINHASH_ROWS)
                        ],
                    )
                ).alias("band_key"),
            )
            for band in range(MINHASH_BANDS)
        ]
    )
    return mins.select(
        "doc_id", F.explode(band_structs).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def lsh_candidate_pairs(
    buckets: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """Same-bucket self-join -> (doc_a, doc_b, n_bands) candidate pairs.

    ``bucket_cap`` guards against adversarial skew: a boilerplate shingle
    shared by millions of docs puts them all in one band bucket, and the
    self-join on that bucket is O(n^2). With a cap, each bucket keeps only
    its ``cap`` smallest doc_ids (per-bucket row_number) before the join, so
    a pathological bucket contributes at most cap*(cap-1)/2 pairs — linear
    scan cost, bounded join cost, and only the degenerate buckets lose
    recall (a bucket that large is boilerplate, not near-duplication).
    Registered oracle queries run uncapped: the fixture has no adversarial
    buckets, and the cap is a recall trade-off the oracle can't express.
    """
    if bucket_cap is not None:
        w = Window.partitionBy("band", "band_key").orderBy("doc_id")
        buckets = (
            buckets.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= bucket_cap)
            .drop("__rn")
        )
    return shared_key_pairs(
        buckets, "doc_id", ("band", "band_key"), ("doc_a", "doc_b", "n_bands")
    )


def _minhash_band_select_sql(band: int) -> str:
    key = " || ',' || ".join(
        f"CAST(m{band * MINHASH_ROWS + r} AS VARCHAR)" for r in range(MINHASH_ROWS)
    )
    return f"SELECT doc_id, {band} AS band, md5({key}) AS band_key FROM mins"


_MINHASH_BUCKETS_SQL = f"""
{_SHINGLES_SQL},
per_sh AS (
  SELECT doc_id, {portable_hash_sql("sh")} % {MINHASH_P} AS h FROM sh
),
mins AS (
  SELECT doc_id,
         {", ".join(f"min((h * {_MINHASH_A[i]} + {_MINHASH_B[i]}) % {MINHASH_P}) AS m{i}" for i in range(MINHASH_BANDS * MINHASH_ROWS))}
  FROM per_sh GROUP BY doc_id
),
buckets AS (
  {" UNION ALL ".join(_minhash_band_select_sql(b) for b in range(MINHASH_BANDS))}
)
"""

_VERIFIED_PAIRS_SQL = f"""
{_MINHASH_BUCKETS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
),
verified AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.8
)
"""



@query(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
WITH {_MINHASH_BUCKETS_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
    doc="MinHash-LSH candidate pairs: 3-token shingles -> 16 seeded "
    "min-hashes -> 4 bands x 4 rows -> bucket self-join. Shuffles are keyed "
    "on (doc,seed) then (band,band_key) — both high-cardinality. The "
    "self-join compares only same-bucket docs, never O(n^2).",
    bench=True,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(minhash_buckets(_doc_shingles(spark, sf_dir)))


@query(
    "dedup_minhash_lsh_pairs_capped",
    oracle=f"""
WITH {_MINHASH_BUCKETS_SQL}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
    doc="The bucket-cap guard in the driver gate: identical to "
    "dedup_minhash_lsh_pairs but through the capped path (cap=64, far "
    "above any fixture bucket, so the oracle is the SAME uncapped SQL — "
    "the cap provably doesn't perturb non-adversarial data; the "
    "adversarial branch is pinned by tests/test_dedup.py with a planted "
    "40-doc boilerplate bucket).",
)
def dedup_minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(
        minhash_buckets(_doc_shingles(spark, sf_dir)), bucket_cap=64
    )


def minhash_signature_struct(sh_arr):
    """Row-wise struct<m0..m15> MinHash signature from a shingle ARRAY.

    The STATELESS twin of :func:`minhash_buckets` for streaming plans: the
    k=16 signature slots fold over the hashed shingle array with a single
    ``F.aggregate`` (JVM-side, one md5 per shingle via the pre-hashing
    ``transform``, then 16 affine mins per element), so a document's LSH
    signature comes out of a plain projection — no groupBy, no shuffle,
    no state store. IMPORTANT: materialize this as its OWN column
    (``withColumn("sig", ...)``) before deriving band keys —
    CollapseProject will NOT inline a multiply-referenced non-cheap
    expression, but referencing this aggregate 16 times inside one
    projection re-evaluates the whole fold 16x per row (measured 4x
    slower at sf0.1). Produces bit-identical signatures to the batch
    path (same base hash, same affine family)."""
    k = MINHASH_BANDS * MINHASH_ROWS
    hashed = F.transform(sh_arr, lambda s: portable_hash(s) % MINHASH_P)
    init = F.struct(
        *[F.lit(MINHASH_P).cast("bigint").alias(f"m{i}") for i in range(k)]
    )
    return F.aggregate(
        hashed,
        init,
        lambda acc, h: F.struct(
            *[
                F.least(
                    acc[f"m{i}"],
                    (h * _MINHASH_A[i] + _MINHASH_B[i]) % MINHASH_P,
                ).alias(f"m{i}")
                for i in range(k)
            ]
        ),
    )


def minhash_band_structs_from_sig(sig):
    """array<struct<band,band_key>> from a materialized signature struct
    column — the banding half of the row-wise path (same
    md5-of-joined-mins key as the batch ``minhash_buckets``)."""
    return F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            sig[f"m{band * MINHASH_ROWS + r}"].cast("string")
                            for r in range(MINHASH_ROWS)
                        ],
                    )
                ).alias("band_key"),
            )
            for band in range(MINHASH_BANDS)
        ]
    )


def minhash_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) rows of a (doc_id, text) frame, batch or
    streaming: the row-wise banding projection. Every doc emits exactly
    one row per band, so the band-0 slice is the doc set."""
    return (
        docs.withColumn(
            "sig",
            minhash_signature_struct(
                shingles(tokens(F.lower(F.col("text"))), SHINGLE_N)
            ),
        )
        .select(
            "doc_id",
            F.explode(minhash_band_structs_from_sig(F.col("sig"))).alias("bk"),
        )
        .select(
            "doc_id",
            F.col("bk.band").alias("band"),
            F.col("bk.band_key").alias("band_key"),
        )
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents").select("doc_id", "text")


def _band_keys(bands: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) rows as bucket keys: c = band, chunk_val =
    band_key, no signature."""
    return bands.select(
        "doc_id",
        F.lit(None).cast("bigint").alias("sig"),
        F.col("band").alias("c"),
        F.col("band_key").alias("chunk_val"),
    )


def _canonical_band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest index: the doc_id % 10 = 0 docs banded by the BATCH
    minhash_buckets path, which the streamed row-wise banding must match
    bit for bit."""
    canon = widen(_docs(spark, sf_dir).where(F.col("doc_id") % 10 == 0), spark)
    return _band_keys(minhash_buckets(doc_shingles(canon))).select(
        F.col("doc_id").alias("ref_id"),
        F.col("sig").alias("ref_sig"),
        "c",
        "chunk_val",
    )


# The text MinHash kind of the bucket-state streams: band keys computed
# row-wise in the stream, 4 bands x 16 band_key hex prefixes = 64 state
# shards, and (doc_id, ref_id, n_bands) pairs.
_TEXT_KIND = BucketKind(
    id_col="doc_id",
    source=_docs,
    spool_schema="doc_id long, text string",
    keys=lambda docs: _band_keys(minhash_band_rows(docs)),
    key_type="string",
    shard="substring(chunk_val, 1, 1)",
    bounds=lambda spark, sf_dir: tuple(
        _docs(spark, sf_dir).agg(F.min("doc_id"), F.max("doc_id")).first()
    ),
    refs=_canonical_band_keys,
    pairs=lambda hits: hits.groupBy("doc_id", "ref_id").agg(
        F.count_distinct("c").alias("n_bands")
    ),
)


@query(
    "stream_text_minhash_ingest_dedup",
    oracle=f"""
WITH {_MINHASH_BUCKETS_SQL},
refs AS (
  SELECT doc_id AS ref_id, band, band_key FROM buckets WHERE doc_id % 10 = 0
)
SELECT s.doc_id, r.ref_id,
       CAST(count(DISTINCT s.band) AS BIGINT) AS n_bands
FROM buckets s
JOIN refs r ON s.band = r.band AND s.band_key = r.band_key
           AND s.doc_id <> r.ref_id
GROUP BY 1, 2
""",
    doc="TEXT near-dup detection AT INGEST — the single most-used "
    "streaming dedup in a training-data pipeline, and the mirror of "
    "stream_media_phash_ingest_dedup for the reference's Kafka-ingest "
    "topology (TwitterDatasetTrendingHashtag.java:64-75 is exactly "
    "where it runs): incoming documents arrive as an unbounded file "
    "stream (4 micro-batches via maxFilesPerTrigger=1, the Kafka-swap "
    "shape), each row's MinHash BAND KEYS are computed INSIDE the "
    "streaming plan by minhash_signature_struct (a row-wise F.aggregate "
    "fold over the shingle array — no groupBy, so no state store and "
    "no watermark), and each micro-batch probes a BROADCAST static "
    "band index (the doc_id % 10 = 0 canonical corpus, banded by the "
    "BATCH minhash_buckets path — the two paths must agree "
    "bit-for-bit, which the oracle checks by replaying banding over "
    "the whole corpus in SQL), emitting band-key hits in append "
    "mode. Completely STATELESS: per-batch cost is "
    "O(batch x bands), independent of stream history — the shape that "
    "scales to unbounded ingest. The memory-sink read-back aggregates "
    "hits to (doc_id, ref_id, n_bands) batch-side.",
    bench=True,
)
def stream_text_minhash_ingest_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return ingest_stream(spark, sf_dir, _TEXT_KIND)


# Oracle for stream_text_minhash_self_dedup (registered in
# streaming/queries.py inside the protobuf capability gate, like every tws
# query): with arrival order == doc_id order (the spool writes doc_id-range
# batches with strictly increasing mtimes), the owner of a band key at any
# doc's arrival is the GLOBAL min doc_id holding that key, so the streamed
# first-occurrence-wins emission set is replayable as a plain min-per-key
# join over the batch banding CTE.
_SELF_DEDUP_ORACLE = f"""
WITH {_MINHASH_BUCKETS_SQL},
owners AS (
  SELECT band, band_key, min(doc_id) AS ref_id FROM buckets GROUP BY 1, 2
)
SELECT b.doc_id, o.ref_id,
       CAST(count(DISTINCT b.band) AS BIGINT) AS n_bands
FROM buckets b
JOIN owners o ON b.band = o.band AND b.band_key = o.band_key
             AND b.doc_id > o.ref_id
GROUP BY 1, 2
"""


def stream_text_minhash_self_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-referential MinHash dedup, ordered arrival: the first arrival
    owns a band key (see bucket_state)."""
    return state_stream(spark, sf_dir, _TEXT_KIND, "self")


def stream_text_minhash_self_dedup_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-referential MinHash dedup under round-robin disorder: the
    min-id owner, reconciled on the read-back (see bucket_state)."""
    return state_stream(spark, sf_dir, _TEXT_KIND, "self_unordered")


@query(
    "stream_text_minhash_self_dedup_batchidx",
    oracle=_SELF_DEDUP_ORACLE,
    doc="The PERSISTED-INDEX twin of stream_text_minhash_self_dedup: "
    "identical self-referential first-occurrence-wins semantics (same "
    "oracle VERBATIM), but the band-key -> owner index lives in a "
    "persisted DataFrame maintained across micro-batches in foreachBatch "
    "— probe by broadcast join, find novel keys by anti-join, append "
    "them (min-doc-id owner) to the next index version — instead of tws "
    "MapState. This is the 'index as a table' production architecture "
    "(at 100 TB the index is a Delta/partitioned table and the append "
    "is a MERGE; past broadcast size the probe becomes a shuffle join "
    "on the same key): per batch it pays TWO joins + one aggregation, "
    "all JVM-side, where the tws twin pays ~2 protobuf state round "
    "trips per touched band key from the Python worker. The two are a "
    "measured bench pair — the state-client constant vs the join-plan "
    "constant — and the right choice flips with batch size: point "
    "lookups win when batches touch few keys, the table join wins when "
    "batches are wide (here: ~4,940 touched keys per 5,000-doc batch).",
    bench=True,
)
def stream_text_minhash_self_dedup_batchidx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import tempfile

    from spark_streaming_twitter_spark.streaming.harness import (
        run_foreach_batch,
        spool_ordered_batches,
    )

    with tempfile.TemporaryDirectory(
        prefix="minhash_selfidx_stream_", ignore_cleanup_errors=True
    ) as tmp:
        # one partitioned store per stream — side=hits (the audit ledger) +
        # side=index (the band-key owner table) — so each trigger lands both
        # in a SINGLE write job. The spool lives in its own subdir: the
        # partitioned store must not share a root with the FileStreamSource's
        # scan.
        spool_dir = os.path.join(tmp, "spool")
        store_dir = os.path.join(tmp, "store")
        idx_dir = os.path.join(store_dir, "side=index")
        hits_dir = os.path.join(store_dir, "side=hits")
        state = {"has_index": False}
        spool_ordered_batches(_docs(spark, sf_dir), "doc_id", spool_dir)
        bands = minhash_band_rows(
            read_spool(spark, spool_dir, _TEXT_KIND.spool_schema)
        )

        def probe_and_extend(bdf: DataFrame, _epoch_id: int) -> None:
            # pin the batch: foreachBatch DataFrames re-execute per action,
            # and the consumers below would re-run the signature fold (the
            # hot loop) once each without this. Lazy persist — the probe
            # collect below is the materializing action, no extra job.
            bdf = bdf.persist()
            # within-batch owners: the earliest arrival per band key
            owners_here = bdf.groupBy("band", "band_key").agg(
                F.min("doc_id").alias("new_ref")
            )
            if not state["has_index"]:
                novel = owners_here.select(
                    "band", "band_key", F.col("new_ref").alias("ref_id")
                )
                probed = bdf.join(F.broadcast(novel), ["band", "band_key"])
            else:
                # the index is a TABLE on storage, re-read flat each batch
                # (listing captured at relation creation, so the fused
                # write below can never feed this batch's own keys back):
                # no lineage growth, no plan recompilation, and the append
                # is exactly the production Delta-MERGE slot
                idx = spark.read.parquet(idx_dir).select(
                    "band", "band_key", "ref_id"
                )
                probed = (
                    bdf.join(F.broadcast(idx), ["band", "band_key"], "left")
                    .join(F.broadcast(owners_here), ["band", "band_key"])
                    # an indexed key keeps its owner; a novel key's owner
                    # is this batch's min arrival
                    .withColumn("ref_id", F.coalesce("ref_id", "new_ref"))
                )
                novel = owners_here.join(
                    idx.select("band", "band_key"),
                    ["band", "band_key"],
                    "left_anti",
                ).select("band", "band_key", F.col("new_ref").alias("ref_id"))
            # per-batch hits land in an executor-written parquet ledger
            # (the tempdir-sink pattern) — the driver never holds the
            # hit rows, matching the 100 TB narrative where this is the
            # run's audit table. Hits + novel index entries ride ONE
            # partitioned write job, and repartition(4) bounds BOTH
            # sides' file count in one exchange (not coalesce: coalesce
            # would narrow the upstream probe join and the cached banding
            # to 4 tasks).
            hits = probed.where(F.col("doc_id") > F.col("ref_id")).select(
                "doc_id", "ref_id", "band"
            )
            hits.withColumn("side", F.lit("hits")).unionByName(
                novel.withColumn("side", F.lit("index")),
                allowMissingColumns=True,
            ).repartition(4).write.mode("append").partitionBy(
                "side"
            ).parquet(store_dir)
            state["has_index"] = os.path.isdir(idx_dir)
            bdf.unpersist()

        run_foreach_batch(bands, probe_and_extend, output_mode="append")
        out = (
            spark.read.parquet(hits_dir)
            .select("doc_id", "ref_id", "band")
            .groupBy("doc_id", "ref_id")
            .agg(F.count_distinct("band").alias("n_bands"))
        )
        return spark.createDataFrame(out.collect(), out.schema)


# Horizon-bounded (TTL) self-dedup oracle: docs carry synthetic event time
# ts = BASE + doc_id seconds, so time distance == id distance and the
# "duplicate of something seen within the horizon" flag is a plain
# max-earlier-arrival join. The horizon is data-relative ((range+1) DIV 2,
# same formula both sides) so the query is SF-invariant.
_TTL_DEDUP_ORACLE = f"""
WITH {_MINHASH_BUCKETS_SQL.lstrip()},
rng AS (
  SELECT (max(doc_id) - min(doc_id) + 1) // 2 AS horizon FROM documents
),
prev AS (
  SELECT b.doc_id, b.band, max(e.doc_id) AS ref_id
  FROM buckets b
  JOIN buckets e ON e.band = b.band AND e.band_key = b.band_key
                AND e.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_id, p.ref_id,
       CAST(count(DISTINCT p.band) AS BIGINT) AS n_bands
FROM prev p CROSS JOIN rng
WHERE p.doc_id - p.ref_id <= horizon
GROUP BY 1, 2
"""

def stream_text_minhash_ttl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon-bounded MinHash dedup, ordered arrival: each arrival pairs
    with the latest earlier one (see bucket_state)."""
    return state_stream(spark, sf_dir, _TEXT_KIND, "ttl")


def stream_text_minhash_ttl_dedup_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Horizon-bounded MinHash dedup under round-robin disorder: a sorted
    window per band key (see bucket_state)."""
    return state_stream(spark, sf_dir, _TEXT_KIND, "ttl_unordered")


def stream_text_minhash_ttl_dedup_bounded_disorder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Horizon-bounded MinHash dedup under bounded disorder: a sorted
    window swept below watermark - horizon (see bucket_state)."""
    return state_stream(spark, sf_dir, _TEXT_KIND, "ttl_bounded")


# Keeper-aware online dedup oracle: 4 unrolled stages (the spool's batch
# count is a constant), each probing the index of KEPT docs from prior
# stages only. Batch ranges replicate spool_ordered_batches' arithmetic.
def _keeper_dedup_oracle(
    batch_label: str = """CASE WHEN bk.doc_id <= lo + (hi - lo + 1) * 1 // 4 THEN 0
              WHEN bk.doc_id <= lo + (hi - lo + 1) * 2 // 4 THEN 1
              WHEN bk.doc_id <= lo + (hi - lo + 1) * 3 // 4 THEN 2
              ELSE 3 END""",
) -> str:
    stages = []
    prev_idx = "idx0"
    for k in (1, 2, 3):
        stages.append(f"""
hits{k} AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT DISTINCT doc_id, band, band_key FROM bat WHERE b = {k}) s
  JOIN {prev_idx} i ON s.band = i.band AND s.band_key = i.band_key
  GROUP BY 1
),
h{k} AS (
  SELECT d.doc_id, coalesce(n, CAST(0 AS BIGINT)) AS n_index_hits
  FROM (SELECT DISTINCT doc_id FROM bat WHERE b = {k}) d
  LEFT JOIN hits{k} USING (doc_id)
),
idx{k} AS (
  SELECT band, band_key FROM {prev_idx}
  UNION
  SELECT DISTINCT s.band, s.band_key
  FROM bat s JOIN h{k} USING (doc_id)
  WHERE s.b = {k} AND h{k}.n_index_hits = 0
)""")
        prev_idx = f"idx{k}"
    return f"""
WITH {_MINHASH_BUCKETS_SQL.lstrip()},
rng AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
bat AS (
  SELECT bk.doc_id, bk.band, bk.band_key,
         {batch_label} AS b
  FROM buckets bk CROSS JOIN rng
),
h0 AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS n_index_hits
  FROM (SELECT DISTINCT doc_id FROM bat WHERE b = 0)
),
idx0 AS (SELECT DISTINCT band, band_key FROM bat WHERE b = 0),{",".join(stages)}
SELECT doc_id, n_index_hits, n_index_hits = 0 AS kept
FROM (SELECT * FROM h0 UNION ALL SELECT * FROM h1
      UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
"""


@query(
    "stream_text_minhash_keeper_dedup",
    oracle=_keeper_dedup_oracle(),
    doc="KEEPER-AWARE online dedup — the strict FineWeb-style ingest "
    "semantics both self-dedup variants above deliberately defer: a "
    "document flagged as a duplicate is QUARANTINED — its band keys do "
    "NOT join the index — so the index grows only with kept (unique) "
    "documents and a chain A~B~C where B matches A never suppresses C "
    "through the already-dropped B. Cross-key coordination (a doc's "
    "keep/drop decision spans all 4 of its band keys) is exactly what "
    "the table-index foreachBatch architecture makes trivial and "
    "per-key-sharded tws state cannot see: per micro-batch, probe every "
    "doc's keys against the kept-index (broadcast join + per-doc hit "
    "count), decide keep = zero hits, append ONLY kept docs' novel keys. "
    "Decision granularity is the micro-batch (docs in one trigger probe "
    "the same index snapshot — what a per-trigger-committing Kafka "
    "consumer does); the oracle unrolls the 4 index epochs as a CTE "
    "chain, replicating the spool's range arithmetic in SQL. Output is "
    "the full per-doc ledger: (doc_id, n_index_hits, kept). Index "
    "stores keys only (no owner) — the drop decision needs membership, "
    "not attribution; at 100 TB it is a bloom-filter-fronted Delta "
    "table and the append is a MERGE.",
    bench=True,
)
def stream_text_minhash_keeper_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _minhash_keeper_stream(spark, sf_dir)


@query(
    "stream_text_minhash_keeper_dedup_persisted",
    oracle=_keeper_dedup_oracle(),
    bench=True,
    doc="The TEXT keeper dedup in its PRODUCTION READ-BACK shape (r14 "
    "verdict #4 — the flagship's _kept_ledger_dir pattern applied to "
    "the keeper family): identical quarantine foreachBatch pipeline, "
    "but the per-doc decision ledger is written to a KEPT per-user "
    "location (overwritten at start, ownership re-verified immediately "
    "before the rmtree) and the returned frame IS the parquet-backed "
    "ledger — no collect() between streaming finish and the caller. "
    "At 100 TB the ledger is the curation run's audit table, read "
    "where it landed; the kept-index stays run-scoped (it is the "
    "stream's working state, not its product). Oracle verbatim from "
    "the lifecycle twin; benched beside it.",
)
def stream_text_minhash_keeper_dedup_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_streaming_twitter_spark.text.corpus import _kept_ledger_dir

    return _minhash_keeper_stream(
        spark, sf_dir, keep_ledger_dir=_kept_ledger_dir("text_keeper_ledger")
    )


def _minhash_keeper_stream(
    spark: SparkSession, sf_dir: str, **opts
) -> DataFrame:
    """The text keeper stream: a doc's MinHash band keys probe the kept
    index, every shared (band, band_key) is a hit, and the band-0 slice
    holds one row per doc. ``opts`` pass through to keeper_stream."""
    return keeper_stream(
        spark,
        "doc_id",
        _docs(spark, sf_dir),
        lambda spool_dir: minhash_band_rows(
            read_spool(spark, spool_dir, _TEXT_KIND.spool_schema)
        ),
        lambda store_dir: make_keeper_prober(
            spark, store_dir, "doc_id", ["band", "band_key"],
            item_slice=F.col("band") == 0,
        ),
        **opts,
    )


@query(
    "stream_text_minhash_keeper_dedup_unordered",
    oracle=_keeper_dedup_oracle(batch_label="bk.doc_id % 4"),
    doc="KEEPER-AWARE online dedup under Kafka CROSS-PARTITION DISORDER "
    "— the same strict quarantine foreachBatch pipeline (verbatim code "
    "path) over a round-robin spool where every micro-batch spans the "
    "full id range: keeper semantics are arrival-DEPENDENT by design "
    "(decision granularity is the micro-batch; whoever lands first in "
    "batch order is the keeper), so disorder tolerance here means the "
    "pipeline machinery assumes nothing about id order — the oracle "
    "replays the SAME round-robin batching (b = doc_id % 4) through "
    "the identical 4-epoch CTE chain and the ledger matches bitwise. "
    "Together with the unordered self-dedup (order-independent OUTPUT) "
    "this pins both halves of the disorder story: reconcilable "
    "semantics are reconciled, arrival-defined semantics are replayed "
    "exactly.",
)
def stream_text_minhash_keeper_dedup_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _minhash_keeper_stream(spark, sf_dir, roundrobin=True)



@query(
    "dedup_edit_distance_verify",
    oracle=f"""
WITH {_MINHASH_BUCKETS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       levenshtein(substr(da.text, 1, 60), substr(db.text, 1, 60))
         AS edit_distance
FROM cand c
JOIN documents da ON da.doc_id = c.doc_a
JOIN documents db ON db.doc_id = c.doc_b
""",
    doc="Edit-distance verification of LSH candidate pairs: character-"
    "level Levenshtein over a fixed 60-char prefix, the string-similarity "
    "complement to token-level Jaccard verify. The O(len^2) distance runs "
    "ONLY on candidate pairs (never all-pairs) and on a bounded prefix, "
    "so per-pair cost is constant — at 100 TB the cost is |candidates|, "
    "not |corpus|^2. Both engines implement plain Wagner-Fischer "
    "edit distance; values are exact integers.",
)
def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    texts = table(spark, sf_dir, "documents").select("doc_id", "text")
    a = texts.select(
        F.col("doc_id").alias("doc_a"),
        F.substring("text", 1, 60).alias("text_a"),
    )
    b = texts.select(
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, 60).alias("text_b"),
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b").alias("edit_distance"),
        )
    )


@query(
    "dedup_decontaminate",
    oracle=f"""
WITH {_SHINGLES_SQL},
bench AS (
  SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0
),
corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0),
hits AS (
  SELECT c.doc_id, count(*) AS n_contaminated
  FROM corpus c JOIN bench b ON c.sh = b.sh
  GROUP BY 1
),
totals AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1)
SELECT t.doc_id, t.n_shingles,
       coalesce(h.n_contaminated, 0) AS n_contaminated,
       CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / t.n_shingles
         AS contaminated_frac,
       coalesce(h.n_contaminated, 0) * 2 >= t.n_shingles AS is_contaminated
FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
""",
    doc="Benchmark decontamination (the test-set-overlap removal stage of "
    "a training-data pipeline): every held-out-set shingle (here the "
    "doc_id % 50 == 0 slice stands in for the benchmark) is collected "
    "DISTINCT and joined broadcast against corpus shingles; a doc whose "
    "contaminated-shingle fraction reaches 1/2 is flagged. The corpus "
    "shingle stream never shuffles for the membership test (broadcast "
    "hash join); the per-doc counts shuffle doc_id only. At 100 TB the "
    "benchmark side stays tiny by construction — exactly why "
    "decontamination is a broadcast problem, not a dedup-scale problem. "
    "The flag compare is integer (2*hits >= n), no float threshold.",
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    bench = sh.where(F.col("doc_id") % 50 == 0).select("sh").distinct()
    corpus = sh.where(F.col("doc_id") % 50 != 0)
    return _decontaminate_report(corpus, bench)


def _decontaminate_report(corpus: DataFrame, bench: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, n_contaminated, contaminated_frac,
    is_contaminated) from a corpus shingle table and a distinct benchmark
    shingle set — the aggregation half shared by the batch decontaminator
    and the per-micro-batch step of the streaming ingest twin."""
    totals = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    n_cont = F.coalesce("n_contaminated", F.lit(0).cast("bigint"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_cont.alias("n_contaminated"),
            (n_cont.cast("double") / F.col("n_shingles")).alias(
                "contaminated_frac"
            ),
            (n_cont * 2 >= F.col("n_shingles")).alias("is_contaminated"),
        )
    )


@query(
    "stream_decontaminate_ingest",
    oracle=QUERIES["dedup_decontaminate"].oracle,
    doc="Benchmark decontamination AT INGEST — the contamination check "
    "moved to where documents ENTER the corpus (the reference's Kafka "
    "topology slot, like the four ingest-dedup twins), so a test-set "
    "overlap is caught before a contaminated doc ever lands in training "
    "data: corpus documents arrive as an unbounded file stream (4 "
    "micro-batches), each row's distinct 3-token shingles explode INSIDE "
    "the streaming plan, and every micro-batch joins them broadcast "
    "against a PERSISTED static benchmark shingle set, aggregating the "
    "per-doc contamination report IN foreachBatch — valid with zero "
    "state because a document arrives whole in exactly one micro-batch "
    "(row-atomic), so per-batch aggregation is per-doc-complete; the "
    "production form writes each batch's report to the curation ledger. "
    "Oracle is the batch decontaminator's VERBATIM: streaming the corpus "
    "must change nothing about the report. Same 100 TB shape as "
    "dedup_decontaminate — the benchmark side stays broadcast-tiny, the "
    "doc stream never shuffles for the membership test, per-batch cost "
    "is O(batch shingles), independent of stream history.",
)
def stream_decontaminate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from spark_streaming_twitter_spark.streaming.harness import (
        run_foreach_batch,
    )

    with tempfile.TemporaryDirectory(
        prefix="decon_stream_", ignore_cleanup_errors=True
    ) as tmp:
        data_dir = os.path.join(tmp, "docs")
        bench = None
        try:
            docs = table(spark, sf_dir, "documents").select("doc_id", "text")
            docs.where(F.col("doc_id") % 50 != 0).repartition(4).write.parquet(
                data_dir
            )

            # the static side of a stream-side join re-evaluates per batch:
            # shingle the benchmark once, keep it pinned for every trigger
            bench = (
                doc_shingles(widen(docs.where(F.col("doc_id") % 50 == 0), spark))
                .select("sh")
                .distinct()
                .persist()
            )
            bench.count()

            par = spark.sparkContext.defaultParallelism
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(data_dir)
            )
            corpus_sh = stream.repartition(par).select(
                "doc_id",
                F.explode(
                    shingles(tokens(F.lower(F.col("text"))), SHINGLE_N)
                ).alias("sh"),
            )

            rep_dir = os.path.join(tmp, "reports")

            def report_batch(bdf: DataFrame, _epoch_id: int) -> None:
                # executor-written parquet report ledger (tempdir-sink
                # pattern), not a driver list
                _decontaminate_report(bdf, bench).write.mode("append").parquet(
                    rep_dir
                )

            run_foreach_batch(corpus_sh, report_batch, output_mode="append")
            ledger = spark.read.parquet(rep_dir)
            return spark.createDataFrame(ledger.collect(), ledger.schema)
        finally:
            if bench is not None:
                bench.unpersist()


def _ingest_pipeline_oracle() -> str:
    """Capstone oracle composed from the three stage oracles VERBATIM
    (the capstone convention: stages cannot desynchronize from their
    standalone queries): quality = doc_quality_scores' oracle as a
    subquery restricted to the streamed corpus; contamination =
    dedup_decontaminate's oracle verbatim; dup = first-occurrence banding
    over the corpus-only buckets (banding a doc is independent of other
    docs, so post-filtering the shared buckets CTE equals banding the
    filtered corpus)."""
    quality = QUERIES["doc_quality_scores"].oracle
    decon = QUERIES["dedup_decontaminate"].oracle
    return f"""
WITH {_MINHASH_BUCKETS_SQL.lstrip()},
cbuckets AS (SELECT * FROM buckets WHERE doc_id % 50 <> 0),
cowners AS (
  SELECT band, band_key, min(doc_id) AS ref FROM cbuckets GROUP BY 1, 2
),
dupdocs AS (
  SELECT DISTINCT b.doc_id FROM cbuckets b
  JOIN cowners o ON b.band = o.band AND b.band_key = o.band_key
                AND b.doc_id > o.ref
),
q AS (
  SELECT doc_id, quality FROM ({quality}) WHERE doc_id % 50 <> 0
),
dec AS (SELECT doc_id, is_contaminated FROM ({decon}))
SELECT q.doc_id, q.quality, dec.is_contaminated,
       (dup.doc_id IS NOT NULL) AS is_dup,
       (q.quality >= CAST(0.6 AS DOUBLE) AND NOT dec.is_contaminated
        AND dup.doc_id IS NULL) AS keep
FROM q
JOIN dec ON dec.doc_id = q.doc_id
LEFT JOIN dupdocs dup ON dup.doc_id = q.doc_id
"""


@query(
    "stream_corpus_ingest_pipeline",
    oracle=_ingest_pipeline_oracle(),
    doc="THE CAPSTONE — the full curation pipeline AT INGEST, "
    "one streaming pass: every micro-batch of arriving documents is "
    "quality-scored (quality_projection, shared verbatim with "
    "doc_quality_scores), decontaminated against the persisted "
    "benchmark shingle set (the stream_decontaminate_ingest stage), and "
    "near-dup-probed against the on-disk band-key index maintained "
    "across batches (the table-index self-dedup stage), emitting one "
    "per-doc ledger row (doc_id, quality, is_contaminated, is_dup, "
    "keep) where keep = quality >= 0.6 AND clean AND first-occurrence. "
    "The three stages derive from ONE pinned batch DataFrame — the doc "
    "stream is read once per trigger; shingling is shared between the "
    "decontamination join and the MinHash fold input. Oracle composes "
    "the three stage oracles verbatim (capstone convention), so this "
    "query cannot drift from its standalone stages. At 100 TB this IS "
    "the ingest topology: quality (cheapest, per-row) gates first in a "
    "real deployment; the flags here are computed independently so each "
    "stage's ledger stays auditable, and the conjunction is the keep "
    "policy a curation run reports.",
)
def stream_corpus_ingest_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _ingest_pipeline_stream(spark, sf_dir, roundrobin=False, pack=False)


def _ingest_pipeline_stream(
    spark: SparkSession, sf_dir: str, roundrobin: bool, pack: bool
) -> DataFrame:
    import os
    import tempfile

    from spark_streaming_twitter_spark.streaming.harness import (
        run_foreach_batch,
        spool_ordered_batches,
        spool_roundrobin_batches,
    )
    from spark_streaming_twitter_spark.text.analysis import (
        quality_projection,
    )
    from spark_streaming_twitter_spark.text.corpus import (
        SINGLE,
        _doc_id_bounds,
        _ledger_carry,
        _pack_batch,
        _text_tokens,
    )

    with tempfile.TemporaryDirectory(
        prefix="ingest_pipeline_", ignore_cleanup_errors=True
    ) as tmp:
        idx_dir = os.path.join(tmp, "index")
        ledger_dir = os.path.join(tmp, "ledger")
        pack_dir = os.path.join(tmp, "pack")
        state = {"has_index": False}
        bench = None
        try:
            docs = table(spark, sf_dir, "documents").select(
                "doc_id", "text", "n_chars"
            )
            corpus = docs.where(F.col("doc_id") % 50 != 0)
            bench = (
                doc_shingles(
                    widen(
                        docs.where(F.col("doc_id") % 50 == 0).select(
                            "doc_id", "text"
                        ),
                        spark,
                    )
                )
                .select("sh")
                .distinct()
                .persist()
            )
            bench.count()
            spool = (
                spool_roundrobin_batches if roundrobin else spool_ordered_batches
            )
            spool(corpus, "doc_id", tmp)

            if pack:
                # stage 4: the KEPT survivors pack into training sequences in
                # the SAME pass, through the at-ingest packer's per-trigger
                # body (its carried offset and batch are the only cross-batch
                # state)
                pack_kept = _pack_batch(
                    pack_dir,
                    _ledger_carry(spark, pack_dir),
                    SINGLE,
                    _text_tokens(),
                    _doc_id_bounds(spark, sf_dir)[1],
                )

            def curate_batch(bdf: DataFrame, epoch_id: int) -> None:
                bdf = bdf.persist()
                bands = led = None
                try:
                    # stage 1: quality (pure projection)
                    q = quality_projection(bdf).select("doc_id", "quality")
                    # stage 2: decontamination (broadcast membership join)
                    sh = bdf.select(
                        "doc_id",
                        F.explode(
                            shingles(tokens(F.lower(F.col("text"))), SHINGLE_N)
                        ).alias("sh"),
                    )
                    dec = _decontaminate_report(sh, bench).select(
                        "doc_id", "is_contaminated"
                    )
                    # stage 3: near-dup against the cross-batch table index
                    bands = minhash_band_rows(bdf).persist()
                    owners_here = bands.groupBy("band", "band_key").agg(
                        F.min("doc_id").alias("new_ref")
                    )
                    if not state["has_index"]:
                        probed = bands.join(
                            F.broadcast(
                                owners_here.select(
                                    "band", "band_key",
                                    F.col("new_ref").alias("ref_id"),
                                )
                            ),
                            ["band", "band_key"],
                        )
                        novel = owners_here.select(
                            "band", "band_key", F.col("new_ref").alias("ref_id")
                        )
                    else:
                        idx = spark.read.parquet(idx_dir)
                        probed = (
                            bands.join(
                                F.broadcast(idx), ["band", "band_key"], "left"
                            )
                            .join(F.broadcast(owners_here), ["band", "band_key"])
                            .withColumn("ref_id", F.coalesce("ref_id", "new_ref"))
                        )
                        novel = owners_here.join(
                            idx.select("band", "band_key"),
                            ["band", "band_key"],
                            "left_anti",
                        ).select(
                            "band", "band_key", F.col("new_ref").alias("ref_id")
                        )
                    dup = (
                        probed.where(F.col("doc_id") > F.col("ref_id"))
                        .select("doc_id")
                        .distinct()
                        .withColumn("is_dup", F.lit(True))
                    )
                    keep = (
                        (F.col("quality") >= F.lit(0.6))
                        & ~F.col("is_contaminated")
                        & ~F.col("is_dup")
                    )
                    # executor-written parquet curation ledger (the run's audit
                    # table at 100 TB), not a driver list; persisted so the pack
                    # step reads this trigger's keep flags, never the ledger's
                    # history
                    led = (
                        q.join(dec, "doc_id")
                        .join(dup, "doc_id", "left")
                        .select(
                            "doc_id",
                            "quality",
                            "is_contaminated",
                            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
                        )
                        .withColumn("keep", keep)
                        .persist()
                    )
                    led.write.mode("append").parquet(ledger_dir)
                    if pack:
                        kept = led.where(F.col("keep")).select("doc_id")
                        pack_kept(bdf.join(kept, "doc_id"), epoch_id)
                    novel.write.mode("append").parquet(idx_dir)
                    state["has_index"] = True
                finally:
                    for df in (led, bands):
                        if df is not None:
                            df.unpersist()
                    bdf.unpersist()

            par = spark.sparkContext.defaultParallelism
            stream = (
                spark.readStream.schema(
                    "doc_id long, text string, n_chars bigint"
                )
                .option("maxFilesPerTrigger", 1)
                .option("latestFirst", "false")
                .option("pathGlobFilter", "batch_*.parquet")
                .parquet(tmp)
            ).repartition(par)
            run_foreach_batch(stream, curate_batch, output_mode="append")
            out = spark.read.parquet(ledger_dir).select(
                "doc_id", "quality", "is_contaminated", "is_dup", "keep"
            )
            if pack:
                neg = F.lit(-1).cast("bigint")
                out = out.join(
                    spark.read.parquet(pack_dir), "doc_id", "left"
                ).select(
                    "doc_id",
                    "quality",
                    "is_contaminated",
                    "is_dup",
                    "keep",
                    F.coalesce("n_tokens", neg).alias("n_tokens"),
                    F.coalesce("start_offset", neg).alias("start_offset"),
                    F.coalesce("first_seq", neg).alias("first_seq"),
                    F.coalesce("last_seq", neg).alias("last_seq"),
                )
            return spark.createDataFrame(out.collect(), out.schema)
        finally:
            if bench is not None:
                bench.unpersist()


def _ingest_pipeline_unordered_oracle() -> str:
    """The DISORDERED capstone oracle: quality and decontamination are
    per-row (order-free, stage oracles verbatim); the dup stage's index
    owner under round-robin arrival is the min doc_id of the EARLIEST
    epoch (b = doc_id % 4) touching the band key — no 4-stage unroll
    needed because this index is not quarantined: every key's owner is
    fixed by its first-touching epoch; and the packing stage replays
    arrival-order concat-and-slice — kept docs laid out by
    (epoch, doc_id), the exact order the carried-offset packer sees."""
    quality = QUERIES["doc_quality_scores"].oracle
    decon = QUERIES["dedup_decontaminate"].oracle
    return rf"""
WITH {_MINHASH_BUCKETS_SQL.lstrip()},
cbat AS (
  SELECT doc_id, band, band_key, doc_id % 4 AS ep
  FROM buckets WHERE doc_id % 50 <> 0
),
first_ep AS (
  SELECT band, band_key, min(ep) AS ep0 FROM cbat GROUP BY 1, 2
),
cowners AS (
  SELECT c.band, c.band_key, min(c.doc_id) AS ref
  FROM cbat c
  JOIN first_ep f ON c.band = f.band AND c.band_key = f.band_key
                 AND c.ep = f.ep0
  GROUP BY 1, 2
),
dupdocs AS (
  SELECT DISTINCT c.doc_id FROM cbat c
  JOIN cowners o ON c.band = o.band AND c.band_key = o.band_key
                AND c.doc_id > o.ref
),
q AS (
  SELECT doc_id, quality FROM ({quality}) WHERE doc_id % 50 <> 0
),
dec AS (SELECT doc_id, is_contaminated FROM ({decon})),
led AS (
  SELECT q.doc_id, q.quality, dec.is_contaminated,
         (dup.doc_id IS NOT NULL) AS is_dup,
         (q.quality >= CAST(0.6 AS DOUBLE) AND NOT dec.is_contaminated
          AND dup.doc_id IS NULL) AS keep
  FROM q
  JOIN dec ON dec.doc_id = q.doc_id
  LEFT JOIN dupdocs dup ON dup.doc_id = q.doc_id
),
ktoks AS (
  SELECT d.doc_id, d.doc_id % 4 AS ep,
         CAST(len(list_filter(string_split_regex(d.text, '\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens
  FROM documents d JOIN led l ON l.doc_id = d.doc_id AND l.keep
),
pk AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY ep, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS start_offset
  FROM ktoks
)
SELECT l.doc_id, l.quality, l.is_contaminated, l.is_dup, l.keep,
       coalesce(pk.n_tokens, CAST(-1 AS BIGINT)) AS n_tokens,
       coalesce(pk.start_offset, CAST(-1 AS BIGINT)) AS start_offset,
       coalesce(pk.start_offset // 2048, CAST(-1 AS BIGINT)) AS first_seq,
       coalesce(CASE WHEN pk.n_tokens = 0 THEN pk.start_offset // 2048
                     ELSE (pk.start_offset + pk.n_tokens - 1) // 2048 END,
                CAST(-1 AS BIGINT)) AS last_seq
FROM led l LEFT JOIN pk ON pk.doc_id = l.doc_id
"""


@query(
    "stream_corpus_ingest_pipeline_unordered",
    oracle=_ingest_pipeline_unordered_oracle(),
    doc="THE DISORDER CAPSTONE — one streaming pass from DISORDERED "
    "arrivals to TRAINING SEQUENCES: a round-robin spool (Kafka "
    "cross-partition disorder; every micro-batch spans the full id "
    "range) feeds the full curation pipeline — quality score, "
    "benchmark decontamination, near-dup probe against the cross-batch "
    "band-key index — and the KEPT survivors of each batch pack "
    "straight into the at-ingest sequence packer (sharded two-stage "
    "cumsum, one carried offset scalar) in the SAME foreachBatch pass. "
    "Quality/decontamination are order-free (stage oracles verbatim); "
    "the dup stage's owner under disorder is the min doc of the "
    "earliest epoch touching each band key (the oracle derives it "
    "directly — the non-quarantined index needs no epoch unroll); the "
    "packed layout is arrival-DEFINED, replayed as concat-and-slice in "
    "(epoch, doc_id) order. Dropped docs carry -1 pack sentinels, so "
    "one ledger row per doc audits every stage decision AND the "
    "training-example placement. Per batch: one doc scan, broadcast "
    "joins, window over the batch's kept rows — zero history term "
    "beyond the band index and the offset scalar.",
)
def stream_corpus_ingest_pipeline_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _ingest_pipeline_stream(spark, sf_dir, roundrobin=True, pack=True)


_JACCARD_PAIRS_SQL = f"""
{_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b, n_common,
         CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
)
"""


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
WITH {_JACCARD_PAIRS_SQL}
SELECT doc_a, doc_b, n_common, jaccard FROM jac WHERE jaccard >= 0.5
""",
    doc="Exact n-gram (3-token shingle) Jaccard similarity >= 0.5: inverted "
    "shingle join computes intersections without a cross product; set sizes "
    "join back on doc_id as PLAIN shuffle joins — the size table is one row "
    "per document (unbounded at corpus scale), so no broadcast hint: AQE "
    "may still pick broadcast at small SF, but never by force. Jaccard = "
    "int/int division — bit-exact across engines.",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    return _jaccard_pairs(sh, sh)


# Exact-substring span detection (the Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" class of dedup): find pairs of
# documents sharing a VERBATIM token run of >= SPAN_MIN_TOKENS, via aligned
# runs of positional shingles rather than a suffix array — the join-friendly
# formulation: a shared L-token span appears as L-n+1 consecutive matching
# n-gram shingles on one (doc_a, doc_b, pos_a - pos_b) diagonal.
SPAN_MIN_TOKENS = 8
SPAN_MAX_SHINGLE_OCC = 64  # drop shingles occurring more often corpus-wide


# Shared CTE chain for the exact-substring family: positional shingles ->
# df-capped self-join -> diagonal islands. Reused VERBATIM by the span
# DETECTION oracle (dedup_substring_spans) and the span REMOVAL oracle
# (dedup_span_removal) so the two can never desynchronize.
_SPAN_RUNS_SQL = rf"""
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents
),
ps AS (
  SELECT doc_id, unnest(generate_series(1, len(toks) - {SHINGLE_N - 1})) AS pos
         , toks
  FROM toks WHERE len(toks) >= {SHINGLE_N}
),
psh AS (
  SELECT doc_id, pos,
         array_to_string(toks[pos:pos+{SHINGLE_N - 1}], ' ') AS sh
  FROM ps
),
rare AS (
  SELECT * FROM (
    SELECT doc_id, pos, sh, count(*) OVER (PARTITION BY sh) AS occ
    FROM psh
  ) WHERE occ <= {SPAN_MAX_SHINGLE_OCC}
),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diag
  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_a, doc_b, diag, pa, pb,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                 ORDER BY pa) AS island
  FROM m
)
"""


def _span_runs(with_toks: DataFrame) -> DataFrame:
    """The Spark twin of ``_SPAN_RUNS_SQL`` over (doc_id, toks): positional
    shingles, the occurrence-capped self-join on sh, and each match's
    diagonal island (doc_a, doc_b, diag, island, pa, pb). The capped
    shingles are staged: both sides of the self-join read them, so the
    explode and the occurrence window run once."""
    psh = (
        with_toks.where(F.size("toks") >= SHINGLE_N)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - SHINGLE_N),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("toks"), i + 1, SHINGLE_N)
                    ),
                )
            ).alias("pos0", "sh"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "sh")
    )
    rare = stage(rare_keys(psh, "sh", SPAN_MAX_SHINGLE_OCC))
    m = key_matches(rare, "doc_id", "sh").select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    w_run = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    return m.withColumn("island", F.col("pa") - F.row_number().over(w_run))


@query(
    "dedup_substring_spans",
    oracle=rf"""
WITH {_SPAN_RUNS_SQL.lstrip()},
spans AS (
  SELECT doc_a, doc_b,
         CAST(count(*) + {SHINGLE_N - 1} AS BIGINT) AS span_tokens
  FROM runs GROUP BY doc_a, doc_b, diag, island
)
SELECT doc_a, doc_b,
       max(span_tokens) AS max_span_tokens,
       count(*) AS n_spans
FROM spans
WHERE span_tokens >= {SPAN_MIN_TOKENS}
GROUP BY doc_a, doc_b
""",
    doc="Exact-substring dedup (Lee et al. 2022 semantics, join-friendly "
    "formulation): positional 3-token shingles; a verbatim L-token span "
    "shared by two docs is L-2 consecutive shingle matches on one "
    "(doc_a, doc_b, pos_a-pos_b) diagonal, found with the islands trick "
    "(pos - row_number is constant within a run) — no suffix array, no "
    "per-pair alignment loop. Corpus-hot shingles (> 64 occurrences) are "
    "dropped before the self-join, the standard guard that keeps the "
    "candidate join linear-ish (per-shingle join cost <= 64^2; stop-word "
    "trigrams otherwise quadratically dominate); the oracle applies the "
    "identical filter, so the parameterized semantics stay exact. The cap "
    "is an ABSOLUTE document-frequency threshold, so run exact dedup "
    "first (the staged artifact) and scale the cap with corpus size when "
    "spans must survive heavy replication — measured here: 10x input -> "
    "10x pairs at ~1.15x runtime. Shuffles: one on sh (occ count + "
    "self-join, same key), one on (doc_a, doc_b, diag) for run detection.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    runs = _span_runs(
        docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    )
    spans = runs.groupBy("doc_a", "doc_b", "diag", "island").agg(
        (F.count(F.lit(1)) + SHINGLE_N - 1).cast("bigint").alias("span_tokens")
    )
    return (
        spans.where(F.col("span_tokens") >= SPAN_MIN_TOKENS)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max("span_tokens").alias("max_span_tokens"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )


@query(
    "dedup_span_removal",
    oracle=rf"""
WITH {_SPAN_RUNS_SQL.lstrip()},
sp AS (
  SELECT doc_b AS doc_id, min(pb) AS s,
         min(pb) + count(*) + {SHINGLE_N - 1} - 1 AS e
  FROM runs GROUP BY doc_a, doc_b, diag, island
  HAVING count(*) + {SHINGLE_N - 1} >= {SPAN_MIN_TOKENS}
),
rem AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM sp
  )
),
tkpos AS (
  SELECT doc_id, pos, toks[pos] AS tok
  FROM (
    SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS pos
    FROM toks
  )
),
surv AS (
  SELECT t.doc_id, t.pos, t.tok FROM tkpos t
  WHERE NOT EXISTS (
    SELECT 1 FROM rem r WHERE r.doc_id = t.doc_id AND r.pos = t.pos
  )
),
kept AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS kept_md5
  FROM surv GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(len(d.toks) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(k.kept_md5, md5('')) AS kept_md5
FROM toks d LEFT JOIN kept k ON k.doc_id = d.doc_id
""",
    doc="Exact-substring span REMOVAL with document reassembly — the "
    "second half of Lee et al. 2022, which dedup_"
    "substring_spans only detects: every >= 8-token verbatim span keeps "
    "its FIRST corpus-wide occurrence (the minimum-doc_id copy — every "
    "later copy pairs with some earlier doc via the shared rare "
    "shingles, so the keeper rule is global, not per-pair) and later "
    "occurrences are EXCISED token-by-token; the surviving tokens "
    "reassemble in position order and the post-removal text is digested "
    "(the dedup_chunk_keep_first kept_md5 contract — the oracle rebuilds "
    "the excised document and must match the digest bit-for-bit). "
    "Scope: cross-document occurrences (the a<b pair orientation); "
    "within-document self-repeats are doc_repetition_scores' domain. "
    "Scale shape: reuses the detection machinery's two shuffles "
    "unchanged, then removal cost is OUTPUT-bound — the position "
    "explode is proportional to duplicated tokens, the anti-join keys "
    "on (doc_id, pos), and reassembly is one groupBy(doc_id). No new "
    "quadratic term beyond the df-capped join the detector already "
    "bounds.",
    bench=True,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    # The token arrays are read by THREE consumers below (the
    # positional-shingle explode, the survivor re-explode, and the totals)
    # and the regex tokenize is a higher-order expression with no codegen
    # subexpression elimination — cache it once (the
    # dedup_prefix_filter_pairs precedent). At 100 TB this cache is the
    # tokenized staging table the removal pipeline writes anyway. A scoped
    # staging persist: released between bench runs, see catalog.stage.
    with_toks = stage(
        docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    )
    runs = _span_runs(with_toks)
    sp = (
        runs.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(F.min("pb").alias("s"), F.count(F.lit(1)).alias("n_sh"))
        .where(F.col("n_sh") + (SHINGLE_N - 1) >= SPAN_MIN_TOKENS)
        .select(
            F.col("doc_b").alias("doc_id"),
            "s",
            (F.col("s") + F.col("n_sh") + (SHINGLE_N - 2)).alias("e"),
        )
    )
    rem = sp.select(
        "doc_id", F.explode(F.sequence("s", "e")).alias("pos")
    ).distinct()
    tkpos = with_toks.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    surv = tkpos.join(rem, ["doc_id", "pos"], "left_anti")
    kept = surv.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("kept_md5"),
    )
    totals = with_toks.select(
        "doc_id", F.size("toks").cast("bigint").alias("n_tokens")
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
    )


def _capstone_v7_oracle() -> str:
    """Assemble the v7 oracle from the registered span-removal oracle —
    compose, don't copy (the _capstone_v5_oracle convention)."""
    from spark_streaming_twitter_spark.registry import QUERIES

    rem = QUERIES["dedup_span_removal"].oracle
    return f"""
WITH removal AS ({rem}),
gated AS (
  SELECT r.doc_id, r.n_tokens, r.n_removed, r.kept_md5, d.source
  FROM removal r JOIN documents d ON d.doc_id = r.doc_id
  WHERE r.n_removed * 2 < GREATEST(r.n_tokens, 1)
)
SELECT source,
       count(*) AS n_docs_kept,
       CAST(sum(n_tokens - n_removed) AS BIGINT) AS surviving_tokens,
       md5(string_agg(kept_md5, ',' ORDER BY doc_id)) AS corpus_digest
FROM gated GROUP BY source
"""


@query(
    "corpus_curation_pipeline_v7",
    oracle=_capstone_v7_oracle(),
    doc="Round-8 curation capstone: span REMOVAL wired as a pipeline "
    "stage — (1) excise every non-first occurrence of >= 8-token "
    "verbatim spans and reassemble documents (dedup_span_removal, "
    "oracle embedded verbatim), (2) MOSTLY-DUPLICATE gate: drop docs "
    "that lost half or more of their tokens (exact integer test "
    "2*n_removed < max(n_tokens,1) — the Lee-et-al. observation that a "
    "doc which is mostly copied text should go entirely), (3) "
    "per-source ledger: surviving doc count, surviving token volume, "
    "and an order-pinned digest over every excised document's "
    "kept_md5 — one wrong byte in any reassembled doc fails the "
    "source-level hash. Adds one broadcast-size doc_id->source join "
    "and one groupBy(source) on top of the removal plan.",
)
def corpus_curation_pipeline_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    rem = dedup_span_removal(spark, sf_dir)
    gated = rem.join(docs, "doc_id").where(
        F.col("n_removed") * 2 < F.greatest(F.col("n_tokens"), F.lit(1))
    )
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum(F.col("n_tokens") - F.col("n_removed"))
        .cast("bigint")
        .alias("surviving_tokens"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "kept_md5"))
                    ),
                    lambda s: s["kept_md5"],
                ),
            )
        ).alias("corpus_digest"),
    )


def near_dup_verified_pairs(
    lsh_docs: DataFrame, verify_docs: DataFrame
) -> DataFrame:
    """LSH candidates + exact-Jaccard verify, parameterized by corpus.

    ``lsh_docs`` feeds the signature/banding pipeline (pass it widened);
    ``verify_docs`` is the raw (doc_id, text) relation the verify stage
    re-reads — only candidate docs get re-shingled.
    """
    # The candidate pair set is the natural barrier: tiny relative to the
    # corpus and referenced three times below (the pair join + both id-side
    # restrictions) — materialize it once so the LSH subtree runs once, not
    # three times (at cluster scale: checkpoint or write it, exactly like
    # the curation pipeline's drop list).
    cand = (
        lsh_candidate_pairs(minhash_buckets(doc_shingles(lsh_docs)))
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    # (r16 measured NEGATIVE: right-sizing cand here costs an extra count
    # action per call and slowed dedup_near_duplicates 1.37 -> 1.61 s —
    # the three consumers run in ONE query evaluation, so the saved task
    # launches never repay the count. The STAGED pairs artifact is the
    # opposite case: many downstream queries read it, so it is
    # right-sized at the build barrier in staged_dedup_artifacts.)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Shingle ONLY candidate docs for verification: the id join lands BELOW
    # the shingle explode, so exact Jaccard never re-tokenizes the full
    # corpus — at 100 TB the verify stage reads candidates, not data. No
    # widen here: the join filters to the (small) candidate set before any
    # heavy compute, and at scale the scan has its own splits.
    # r15 (guide §5): persist the candidate shingles — they are read three
    # times below (sizes + both sides of the intersection join), and each
    # read re-ran the scan + join + tokenize + explode. The cache is
    # candidate-bounded (the same argument that makes `cand` a checkpoint).
    # r16 (VERDICT r15 #3): scoped staging persist — released between
    # bench runs; the staged-artifact build localCheckpoints its output,
    # so releasing this cache never invalidates the artifact.
    sh = stage(doc_shingles(verify_docs.join(cand_ids, "doc_id")))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("__doc_b"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(a, "doc_a")
        .join(
            b,
            (F.col("doc_b") == F.col("__doc_b")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        F.col("n_common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("n_common"))
    )
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.8)
    )


@query(
    "dedup_near_duplicates",
    oracle=f"""
WITH {_VERIFIED_PAIRS_SQL}
SELECT doc_a, doc_b, jaccard FROM verified
""",
    doc="End-to-end near-dup detection, the production 100 TB shape: "
    "MinHash-LSH generates candidates, exact Jaccard verifies ONLY those "
    "pairs (shingle join restricted by a semi-join to candidates), "
    "threshold 0.8. Never touches the O(n^2) pair space.",
    bench=True,
)
def dedup_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return near_dup_verified_pairs(widen(docs, spark), docs)


def exact_copy_map(docs: DataFrame) -> DataFrame:
    """(doc_id, canon) for every EXACT copy: content-hash window, min id.

    The single canonicalization rule behind the exact-first staging in
    both ``dedup_drop_list`` and ``dedup_group_ids`` — one shuffle on the
    content hash; the returned map is localCheckpointed (it is tiny at
    realistic duplicate rates and read multiple times downstream).
    """
    w = Window.partitionBy("h")
    return (
        docs.select("doc_id", F.md5("text").alias("h"))
        .withColumn("canon", F.min("doc_id").over(w))
        .where(F.col("doc_id") != F.col("canon"))
        .select("doc_id", "canon")
        .localCheckpoint()
    )


# Session-scoped staged-dedup artifact cache (VERDICT r2 "Next round" #4).
# The exact-copy map + verified canonical-pair set are the natural written
# artifacts of a dedup pipeline: computed once per (session, fixture), then
# every consumer (drop list, group ids, both curation capstones) reads them.
# At cluster scale these are parquet writes at the pipeline barrier; here a
# localCheckpoint keyed by (applicationId, fixture fingerprint) plays that
# role — a fixture regenerated in place gets a fresh build, a stopped
# session's entries are simply never hit again (keys carry the old appId).
_STAGED_CACHE: dict[tuple[str, str, str, str], tuple[DataFrame, DataFrame]] = {}


def staged_dedup_artifacts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(exact-copy map, verified canonical pairs), built once per session.

    ``copies`` is (doc_id, canon) for every exact copy; ``pairs`` is the
    LSH + Jaccard-verified near-dup pair set over CANONICAL docs only
    (exact-first staging — see dedup_drop_list's equivalence argument).
    Each standalone query's oracle still pins its full unstaged semantics;
    the cache only changes how often the shared subtree is computed (once),
    never what it computes.
    """
    from spark_streaming_twitter_spark.catalog import _fixture_fingerprint

    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        _fixture_fingerprint(sf_dir),
        "v1",
    )
    hit = _STAGED_CACHE.get(key)
    if hit is not None:
        return hit
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = exact_copy_map(docs)
    canon = widen(docs, spark).join(copies.select("doc_id"), "doc_id", "left_anti")
    pairs = near_dup_verified_pairs(canon, docs).localCheckpoint()
    # r16: right-size the artifact — the checkpoint lands
    # shuffle-partition-wide and every consumer (drop list, group ids,
    # both capstones, each CC round) would pay 32 tasks for ~240 rows
    pairs = _right_size(pairs, pairs.count())
    if len(_STAGED_CACHE) >= 8:  # bound growth across many test sessions
        _STAGED_CACHE.pop(next(iter(_STAGED_CACHE)))
    _STAGED_CACHE[key] = (copies, pairs)
    return copies, pairs


@query(
    "dedup_drop_list",
    oracle=f"""
WITH {_VERIFIED_PAIRS_SQL}
SELECT DISTINCT doc_b AS drop_doc_id FROM verified
""",
    doc="Greedy keep-min-id dedup policy with EXACT-FIRST staging: "
    "verbatim copies are dropped by a content-hash pass (min doc_id per "
    "md5 kept), and the LSH + Jaccard-verify pipeline then runs on "
    "canonical docs only. The final drop set is IDENTICAL to running "
    "near-dup over the full corpus (exact copies share every shingle, so "
    "the verified-pair graph is content-consistent; keep-min-id "
    "commutes) — the oracle is the unstaged form, which pins that "
    "equivalence every round. At 100 TB this ordering is the difference "
    "between LSH over the corpus and LSH over its distinct content: "
    "candidate pairs grow with duplicate DENSITY, and the exact pass "
    "removes the worst offenders for one cheap hash shuffle "
    "(measured at 4x replication: 16x fewer candidate pairs).",
    bench=True,
)
def dedup_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    copies, pairs = staged_dedup_artifacts(spark, sf_dir)
    exact_drops = copies.select("doc_id")
    near_drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        exact_drops.unionAll(near_drops)
        .distinct()
        .select(F.col("doc_id").alias("drop_doc_id"))
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit sign-of-sums signature over distinct tokens.

    Spark shape: ONE aggregation with 60 conditional sums (partial+final,
    single shuffle on doc_id) — not 60 passes, and not a per-(doc,bit) row
    explosion (which would multiply the shuffle by 60x). The JIT huge-method
    conf in session.py keeps the wide generated aggregate compiled.

    The 60-wide expression tree is built from generated SQL strings (one
    ``F.expr`` parse per aggregate), not nested Column operators: the
    operator form cost ~700 py4j round-trips ≈ 0.85 s of driver time per
    plan build — the entire round-2 bench regression on this query.
    """
    # plain explode (not explode_outer): a token-less doc yields no rows,
    # matching SQL unnest semantics on both engines.
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.lower(F.col("text"))))).alias("tok")
    )
    h = portable_hash(F.col("tok"))
    with_h = toks.select("doc_id", h.alias("h"))
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = with_h.groupBy("doc_id").agg(*bit_sums)
    sig_sql = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for b in range(SIMHASH_BITS)
    )
    return agg.select("doc_id", F.expr(sig_sql).alias("simhash"))


def _simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash-widen on doc_id: the 60-vote groupBy(doc_id) agg then reuses
    # the partitioning — one shuffle total (measured 0.64s -> 0.44s at
    # sf0.1 vs round-robin widen)
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
        "doc_id",
    )
    return simhash_signatures(docs)


_SIMHASH_SQL = rf"""
toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')))
           AS tok
  FROM documents
),
bit_votes AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (({portable_hash_sql("tok")} >> bit) & 1) = 1
                  THEN 1 ELSE -1 END) AS s
  FROM toks
  CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit)
  GROUP BY doc_id, bit
),
sigs AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << bit
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM bit_votes GROUP BY doc_id
)
"""


@query(
    "dedup_simhash_signatures",
    oracle=f"WITH {_SIMHASH_SQL} SELECT doc_id, simhash FROM sigs",
    doc="SimHash: 60-bit sign-of-sum signature over distinct tokens "
    "(Charikar random-hyperplane sketch on the token hypercube). One "
    "shuffle keyed by doc_id; the 60 bit-votes are a single wide "
    "partial+final aggregate, not 60 passes.",
    bench=True,
)
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_signatures(spark, sf_dir)


@query(
    "dedup_simhash_pairs",
    oracle=f"""
WITH {_SIMHASH_SQL},
chunks AS (
  SELECT doc_id, simhash, c,
         (simhash >> (c * 15)) & 32767 AS chunk_val
  FROM sigs
  CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_CHUNKS - 1})) AS c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM chunks a
  JOIN chunks b ON a.c = b.c AND a.chunk_val = b.chunk_val
               AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 8
""",
    doc="SimHash near-dup pairs: 4 x 15-bit chunk LSH (pigeonhole: any pair "
    "with hamming <= 3 shares a chunk — guaranteed recall at that radius) "
    "then exact hamming <= 8 verify via bit_count(xor). The chunk join is "
    "the only shuffle over pairs; never O(n^2).",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hamming_pairs(
        _simhash_signatures(spark, sf_dir),
        "doc_id",
        "simhash",
        SIMHASH_CHUNKS,
        15,
        8,
        ("doc_a", "doc_b", "hamming"),
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (exact baseline; ANN scale path in similarity/)
# --------------------------------------------------------------------------


def scaled_dot(a: Column, b: Column) -> Column:
    """Exact, order-independent dot product of two float arrays.

    float32*float32 promoted to double is EXACT (48-bit product mantissa);
    multiplying by 2^40 is exact (power of two); rounding to BIGINT is then
    deterministic, and the BIGINT sum is order-free — so Spark and DuckDB
    agree bitwise, and so do any two cluster topologies. Fully JVM-side
    (zip_with + aggregate), no Python.
    """
    prods = F.zip_with(
        a,
        b,
        lambda x, y: F.round(x.cast("double") * y.cast("double") * DOT_SCALE).cast(
            "bigint"
        ),
    )
    return F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def scaled_norm2(a: Column) -> Column:
    """Exact scaled squared norm (same construction as :func:`scaled_dot`)."""
    sq = F.transform(
        a, lambda x: F.round(x.cast("double") * x.cast("double") * DOT_SCALE).cast("bigint")
    )
    return F.aggregate(sq, F.lit(0).cast("bigint"), lambda acc, x: acc + x)


_SCALED_DOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) "
    f"* {DOT_SCALE!r}) AS BIGINT)))"
)


def scaled_dot_sql(a: str, b: str) -> str:
    return _SCALED_DOT_SQL.format(a=a, b=b)


@query(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
WITH norms AS (
  SELECT vec_id, embedding,
         {scaled_dot_sql("embedding", "embedding")} AS n2
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST({scaled_dot_sql("a.embedding", "b.embedding")} AS DOUBLE)
         / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cosine
FROM norms a
JOIN norms b ON a.vec_id < b.vec_id
WHERE CAST({scaled_dot_sql("a.embedding", "b.embedding")} AS DOUBLE)
        / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) >= 0.45
""",
    doc="Embedding-cosine near-dup pairs (exact baseline): self-join with "
    "integer-scaled dot products — bitwise deterministic on any engine or "
    "cluster topology. Threshold 0.45 (the fixtures plant no >0.52 pairs). "
    "O(n^2) by design as the correctness oracle for the ANN path in "
    "similarity.ann — at 100 TB only the LSH-prefiltered variant runs.",
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(table(spark, sf_dir, "embeddings").select("vec_id", "embedding"), spark)
    norms = emb.withColumn("n2", scaled_norm2(F.col("embedding")))
    a = norms.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("n2").alias("n2_a"),
    )
    b = norms.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("n2").alias("n2_b"),
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cosine = scaled_dot(F.col("emb_a"), F.col("emb_b")).cast("double") / (
        F.sqrt(F.col("n2_a").cast("double")) * F.sqrt(F.col("n2_b").cast("double"))
    )
    return (
        pairs.select("vec_a", "vec_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= 0.45)
    )


# --------------------------------------------------------------------------
# Dedup groups: connected components over the near-dup pair graph
# --------------------------------------------------------------------------


_CKPT_ROWS_PER_TASK = 50_000


def _right_size(df: DataFrame, n_rows: int) -> DataFrame:
    """Coalesce a CHECKPOINTED relation down to its measured row count
    (>= _CKPT_ROWS_PER_TASK rows per task, floor 1) — narrow, no shuffle,
    nothing recomputed. r16: the staged-artifact and CC-loop checkpoints
    came out shuffle-partition-wide (32 partitions for a 240-row pair
    set), so EVERY downstream stage — each CC round, every artifact
    consumer — paid 32 task launches for a few hundred rows; r14 measured
    1 partition for the same data (dedup_group_ids 0.67 s -> 0.91 s,
    dedup_drop_list 0.10 -> 0.16 co-timed). Scale-adaptive by
    construction: a genuinely large artifact keeps its width."""
    cur = df.rdd.getNumPartitions()
    want = max(
        1, min(cur, (n_rows + _CKPT_ROWS_PER_TASK - 1) // _CKPT_ROWS_PER_TASK)
    )
    return df.coalesce(want) if want < cur else df


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Min-label propagation to a fixpoint: (node, group_id=min reachable id).

    The driver-coordinated iterative-join pattern for algorithms Catalyst
    can't express in one plan. Each round: every node takes the min of its
    own label and its neighbors' labels; stop when no label changes.
    Rounds needed = graph diameter (near-dup clusters are shallow — pairs
    chain through shared shingles, so diameters of 2-4 are typical).

    Scale notes: each round is one shuffle join keyed by node id; label
    tables are #nodes rows (tiny next to the corpus). localCheckpoint per
    round truncates the lineage so plan size stays constant across rounds.
    For web-scale graphs swap in the large-star/small-star algorithm — the
    loop skeleton is identical.

    Native ``WITH RECURSIVE`` was evaluated as an alternative (Spark 4.1
    parses it; the DuckDB oracle uses one): rejected because Spark's
    recursive CTE is UNION **ALL**-only (UNION_NOT_SUPPORTED_IN_
    RECURSIVE_CTE), and without distinct-fixpoint semantics a reachability
    recursion over a CYCLIC edge set (ours is symmetric by construction)
    re-derives rows forever until the recursion level limit errors out.
    The driver-coordinated loop with an explicit convergence check is the
    correct Spark-side shape until that restriction lifts.
    """
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    labels = nodes.select(F.col("id").alias("node"), F.col("id").alias("label"))
    while True:
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (
                    F.coalesce("nbr_label", F.col("label")) < F.col("label")
                ).alias("changed"),
            )
        ).localCheckpoint()
        # one agg action gives BOTH the convergence count and the row
        # count the right-sizing needs (r16 — was a changed-only count)
        stats = updated.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("changed").cast("int")).alias("ch"),
        ).first()
        n_changed = int(stats["ch"] or 0)
        labels = _right_size(updated, int(stats["n"])).select("node", "label")
        if n_changed == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("group_id")
            )


def connected_components_star(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Large-star/small-star CC (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC '14) behind the same (edges, nodes) ->
    (doc_id, group_id) interface as :func:`connected_components`.

    Min-label propagation needs rounds = component DIAMETER — fine for
    shallow near-dup clusters, the one open scale assumption in this
    family. The star algorithm converges in O(log^2 n) rounds on ANY
    graph: each round, large-star hangs every strictly-larger neighbor of
    a node off the minimum of its closed neighborhood, small-star re-hangs
    the smaller neighbors; the unique fixpoint is a forest of 2-level
    stars rooted at each component's minimum id, from which labels read
    off directly.

    Scale notes: every half-round is one groupBy-min + one join, both
    keyed by the star center — edge-count never grows (each emitted edge
    replaces an input edge), no node-table join at all. localCheckpoint
    per half-round keeps the plan constant-size. Convergence = edge-set
    signature (count + sum of per-edge xxhash64) unchanged over a full
    round (count + bit_xor of per-edge xxhash64) — one tiny agg instead
    of an exceptAll subtract.
    """
    e = (
        edges.where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint()
    )

    def signature(df: DataFrame) -> tuple:
        # bit_xor, not sum: order-independent, cannot overflow under ANSI
        # (the edge set is distinct, so xor-cancellation needs a real hash
        # collision — same risk class as any signature)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    sig = signature(e)
    for _ in range(64):  # O(log^2 n) bound; 64 is unreachable in practice
        # large-star: for every center c with neighborhood N, attach each
        # neighbor n > c to m = min(N ∪ {c})
        sym = e.select(F.col("u").alias("c"), F.col("v").alias("n")).unionAll(
            e.select(F.col("v").alias("c"), F.col("u").alias("n"))
        )
        mins = (
            sym.groupBy("c")
            .agg(F.min("n").alias("mn"))
            .select("c", F.least("mn", F.col("c")).alias("m"))
        )
        e = (
            sym.join(mins, "c")
            .where(F.col("n") > F.col("c"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # small-star: edges run u > v, so min(N(u) ∪ {u}) = min over the
        # stored smaller neighbors; re-hang them (and u) off that min
        mins2 = e.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            e.join(mins2, "u")
            .select(F.col("v").alias("x"), "m")
            .unionAll(mins2.select(F.col("u").alias("x"), "m"))
            .where(F.col("x") != F.col("m"))
            .select(F.greatest("x", "m").alias("u"), F.least("x", "m").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        new_sig = signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError("star CC did not converge in 64 rounds")
    # fixpoint edges are (leaf, root): every non-root appears exactly once
    comp = e.select(F.col("u").alias("doc_id"), F.col("v").alias("group_id"))
    roots = (
        e.select(F.col("v").alias("doc_id"))
        .distinct()
        .join(comp.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("group_id"))
    )
    labels = comp.unionAll(roots)
    isolated = (
        nodes.select(F.col("id").alias("doc_id"))
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("group_id"))
    )
    return labels.unionAll(isolated)


_GROUP_IDS_ORACLE = f"""
WITH {_VERIFIED_PAIRS_SQL},
members AS (SELECT doc_a AS id FROM verified UNION SELECT doc_b FROM verified),
edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
          UNION SELECT doc_b, doc_a FROM verified),
reach AS (
  WITH RECURSIVE r(node, label) AS (
    SELECT id, id FROM members
    UNION
    SELECT e.b, r.label FROM r JOIN edges e ON e.a = r.node
  )
  SELECT node, min(label) AS group_id FROM r GROUP BY node
)
SELECT node AS doc_id, group_id FROM reach
"""


@query(
    "dedup_group_ids",
    oracle=_GROUP_IDS_ORACLE,
    doc="Dedup groups: connected components over the verified near-dup "
    "pair graph (keep-one-per-CLUSTER, not per pair — A~B~C collapses to "
    "one group even when A!~C directly). Spark: EXACT-FIRST staging (same "
    "argument as dedup_drop_list): components run over canonical docs "
    "only, then exact copies inherit their canonical's group label. "
    "Output-identical to full-graph CC — an exact copy's pairs are "
    "content-equivalent to its canonical's, so bridges survive "
    "canonicalization, and the canonical (the cluster's min id) can "
    "never lose the min-label race to its own copies. The CC loop's "
    "input shrinks with duplicate density instead of growing "
    "quadratically. Oracle: unstaged DuckDB recursive CTE — pins the "
    "equivalence every round.",
    bench=True,
)
def dedup_group_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _group_ids_impl(spark, sf_dir, connected_components)


@query(
    "dedup_group_ids_star",
    oracle=_GROUP_IDS_ORACLE,
    doc="dedup_group_ids with the large-star/small-star CC kernel swapped "
    "in (same exact-first staging, same output contract, SAME oracle): "
    "O(log^2 n) rounds on any graph vs min-label's diameter-many — the "
    "web-scale variant documented in connected_components' scale notes, "
    "now implemented and pinned. A property test "
    "(tests/test_dedup.py) checks both kernels agree on random graphs.",
)
def dedup_group_ids_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _group_ids_impl(spark, sf_dir, connected_components_star)


def _group_ids_impl(spark: SparkSession, sf_dir: str, cc_fn) -> DataFrame:
    """Shared exact-first group-id pipeline, parameterized by the CC kernel."""
    copies, verified = staged_dedup_artifacts(spark, sf_dir)
    pairs = verified.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    nodes = (
        pairs.select(F.col("a").alias("id"))
        .unionAll(pairs.select(F.col("b").alias("id")))
        .distinct()
    )
    comp = cc_fn(pairs, nodes)
    # canonicals that have exact copies but no near-dup pair of their own
    # still form a duplicate group (the exact cluster itself)
    lone_canons = (
        copies.select(F.col("canon").alias("doc_id"))
        .distinct()
        .join(comp, "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("group_id"))
    )
    canon_groups = comp.unionAll(lone_canons)
    copy_groups = copies.join(
        canon_groups.select(
            F.col("doc_id").alias("canon"), "group_id"
        ),
        "canon",
    ).select("doc_id", "group_id")
    return canon_groups.unionAll(copy_groups)


# --------------------------------------------------------------------------
# Capstone: the full curation pipeline as ONE declarative plan
# --------------------------------------------------------------------------


@query(
    "corpus_curation_pipeline",
    oracle=f"""
WITH {_MINHASH_BUCKETS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
),
drops AS (
  SELECT DISTINCT i.doc_b AS doc_id
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.8
),
quality AS (
  SELECT doc_id, lang, source, n_chars,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
),
kept AS (
  SELECT q.doc_id, q.lang, q.source, q.n_chars
  FROM quality q
  LEFT JOIN drops d ON q.doc_id = d.doc_id
  WHERE d.doc_id IS NULL
    AND len(q.toks) >= 20
    AND q.lang IN ('en', 'de', 'fr', 'es')
    AND ({{bucket}}) < {{cut}}
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT source) AS n_sources
FROM kept
GROUP BY lang
""".format(bucket=sampling.sample_bucket_sql("q.doc_id", "curate"), cut=9000),
    doc="The canonical LLM corpus-curation pipeline as ONE Catalyst plan: "
    "near-dup drop list (MinHash-LSH + Jaccard verify) anti-joined out, "
    "length + language quality gates, deterministic 90%% hash-sample, "
    "per-language corpus stats. Every stage is the already-verified "
    "operator; composing them stays declarative — Catalyst sees through "
    "the whole thing (one plan, no materialization barriers).",
    bench=True,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents"), spark)
    # The drop list is a few rows but its subtree (LSH + Jaccard verify)
    # is the bulk of the plan; materialize it once so the curation plan
    # stays small enough for stage reuse (at cluster scale: checkpoint or
    # write the drop list - it is the natural pipeline barrier anyway).
    drops = dedup_drop_list(spark, sf_dir).localCheckpoint()
    kept = (
        docs.join(
            drops, docs.doc_id == drops.drop_doc_id, "left_anti"
        )
        .where(F.size(tokens(F.col("text"))) >= 20)
        .where(F.col("lang").isin("en", "de", "fr", "es"))
        .where(sampling.sample_bucket(F.col("doc_id"), salt="curate") < 9000)
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("source").alias("n_sources"),
    )


@query(
    "corpus_curation_pipeline_full",
    oracle=f"""
WITH {{MINHASH}},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
),
drops AS (
  SELECT DISTINCT i.doc_b AS doc_id
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.8
),
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
corpus_sh AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0),
cont AS (
  SELECT t.doc_id
  FROM (SELECT doc_id, count(*) AS n FROM corpus_sh GROUP BY 1) t
  JOIN (SELECT c.doc_id, count(*) AS h
        FROM corpus_sh c JOIN bench b ON c.sh = b.sh GROUP BY 1) hh
    ON t.doc_id = hh.doc_id
  WHERE hh.h * 2 >= t.n
),
rep AS (
  SELECT doc_id FROM (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, CAST(max(c) AS BIGINT) AS m
    FROM (SELECT doc_id, tok, count(*) AS c
          FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
          GROUP BY 1, 2)
    GROUP BY 1
  ) WHERE 6 * m > n
),
pii AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{{EMAIL}}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(text, '{{PHONE}}')) AS BIGINT) AS n_phones
  FROM documents
),
kept AS (
  SELECT d.doc_id, d.lang, d.source, d.n_chars, p.n_emails, p.n_phones
  FROM documents d
  JOIN toks t ON d.doc_id = t.doc_id
  JOIN pii p ON d.doc_id = p.doc_id
  LEFT JOIN drops dr ON d.doc_id = dr.doc_id
  LEFT JOIN cont co ON d.doc_id = co.doc_id
  LEFT JOIN rep re ON d.doc_id = re.doc_id
  WHERE dr.doc_id IS NULL AND co.doc_id IS NULL AND re.doc_id IS NULL
    AND d.doc_id % 50 <> 0
    AND len(t.toks) >= 20
    AND d.lang IN ('en', 'de', 'fr', 'es')
    AND ({{BUCKET}}) < 9000
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       count(DISTINCT source) AS n_sources,
       CAST(sum(n_emails) AS BIGINT) AS n_emails_redacted,
       CAST(sum(n_phones) AS BIGINT) AS n_phones_redacted
FROM kept
GROUP BY lang
""".format(
        MINHASH=_MINHASH_BUCKETS_SQL,
        EMAIL=_PII_EMAIL_RE,
        PHONE=_PII_PHONE_RE,
        BUCKET=sampling.sample_bucket_sql("d.doc_id", "curate"),
    ),
    doc="The COMPLETE training-data curation pipeline, every stage this "
    "engine implements, composed as one job: near-dup drop list "
    "(MinHash-LSH + Jaccard verify) anti-joined out; benchmark "
    "decontamination (broadcast shingle membership, 1/2 overlap flag) "
    "anti-joined out, benchmark slice itself excluded; Gopher repetition "
    "gate (6*top_token > n_tokens) anti-joined out; length + language "
    "quality gates; deterministic 90% hash-sample; PII counts carried "
    "through to the per-language report. The three tiny drop lists "
    "materialize once each (localCheckpoint — at cluster scale, parquet "
    "writes, the natural pipeline barriers); everything else is one "
    "Catalyst plan. The integer repetition threshold and broadcast "
    "membership joins keep every stage deterministic and shuffle-light.",
)
def corpus_curation_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.text.analysis import (
        _EMAIL_RE,
        _PHONE_RE,
    )

    docs = widen(table(spark, sf_dir, "documents"), spark)
    drops = dedup_drop_list(spark, sf_dir).localCheckpoint()
    cont = (
        dedup_decontaminate(spark, sf_dir)
        .where(F.col("is_contaminated"))
        .select("doc_id")
        .localCheckpoint()
    )
    toks_e = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    rep_bad = (
        toks_e.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n"), F.max("c").alias("m"))
        .where(6 * F.col("m") > F.col("n"))
        .select("doc_id")
        .localCheckpoint()
    )
    kept = (
        docs.join(drops, docs.doc_id == drops.drop_doc_id, "left_anti")
        .join(cont, "doc_id", "left_anti")
        .join(rep_bad, "doc_id", "left_anti")
        .where(F.col("doc_id") % 50 != 0)
        .where(F.size(tokens(F.lower(F.col("text")))) >= 20)
        .where(F.col("lang").isin("en", "de", "fr", "es"))
        .where(sampling.sample_bucket(F.col("doc_id"), salt="curate") < 9000)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)
            ).cast("bigint").alias("n_emails"),
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), 0)
            ).cast("bigint").alias("n_phones"),
        )
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("source").alias("n_sources"),
        F.sum("n_emails").alias("n_emails_redacted"),
        F.sum("n_phones").alias("n_phones_redacted"),
    )


@query(
    "dedup_containment_pairs",
    oracle=f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common * 1000000 // sa.n AS BIGINT) AS contain_a_scaled,
       CAST(n_common * 1000000 // sb.n AS BIGINT) AS contain_b_scaled
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common * 1000000 // sa.n >= 800000
   OR n_common * 1000000 // sb.n >= 800000
""",
    doc="CONTAINMENT dedup — the asymmetric companion to Jaccard "
    "(Broder's C(A,B) = |A n B| / |A|): a short document quoted "
    "verbatim inside a long one scores near-zero Jaccard (the union is "
    "dominated by the long doc) but containment ~1.0 — the "
    "quotation/subset duplication class an LLM corpus needs flagged "
    "that dedup_ngram_jaccard_pairs structurally cannot see. Both "
    "directions reported, pairs kept when either side is >= 0.8 "
    "contained, all exact scaled-BIGINT (int division, no float). "
    "Same inverted-shingle-join plan as the Jaccard twin: "
    "intersections without a cross product, size table joined back "
    "plain (unbounded at corpus scale, never force-broadcast).",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    return _containment_pairs(sh, sh)


# Document-frequency cap for the EXACT pair scorers: the inverted shingle
# self-join costs O(Σ_s df(s)^2), so ONE boilerplate shingle (license
# header, nav text) shared by millions of docs makes a single df^2 term
# quadratic in corpus size. Dropping shingles with df > cap BEFORE the
# join (``rare_keys``) bounds every term at cap^2 — the standard df
# cutoff (Broder 1997 resemblance estimation practice). Cap=64 matches the
# MinHash bucket_cap and SPAN_MAX_SHINGLE_OCC, and is fixture-neutral:
# measured max shingle df is 7 at sf0.01 and 25 at sf0.1, so on driver
# fixtures the capped and uncapped paths are IDENTICAL and the uncapped SQL
# remains the oracle (same design as dedup_minhash_lsh_pairs_capped). At
# scale the capped score is a conservative lower bound using TRUE doc sizes
# as denominators: a pair can only lose credit for corpus-wide boilerplate
# shingles — exactly the matches that are false evidence of quotation.
PAIR_DF_CAP = 64


@query(
    "dedup_ngram_jaccard_pairs_capped",
    oracle=f"""
WITH {_JACCARD_PAIRS_SQL}
SELECT doc_a, doc_b, n_common, jaccard FROM jac WHERE jaccard >= 0.5
""",
    doc="The hot-shingle guard for exact Jaccard: identical to "
    "dedup_ngram_jaccard_pairs but shingles with document frequency > 64 "
    "are dropped BEFORE the inverted self-join, bounding every per-shingle "
    "join term at 64^2 rows. Fixture-neutral (max fixture df is 25 < 64), "
    "so the oracle is the SAME uncapped SQL; the adversarial branch — a "
    "planted 40-doc boilerplate shingle — is pinned by tests/test_dedup.py "
    "and measured by tools/hot_shingle_probe.py (SCALE.md rule 8). "
    "Denominators use TRUE uncapped doc sizes, so capped scores are "
    "conservative lower bounds.",
)
def dedup_ngram_jaccard_pairs_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    return _jaccard_pairs(sh, rare_keys(sh, "sh", PAIR_DF_CAP))


@query(
    "dedup_containment_pairs_capped",
    oracle=f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common * 1000000 // sa.n AS BIGINT) AS contain_a_scaled,
       CAST(n_common * 1000000 // sb.n AS BIGINT) AS contain_b_scaled
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common * 1000000 // sa.n >= 800000
   OR n_common * 1000000 // sb.n >= 800000
""",
    doc="The hot-shingle guard for exact containment: identical to "
    "dedup_containment_pairs but through the df<=64 capped shingle set "
    "(see dedup_ngram_jaccard_pairs_capped — same fixture-neutral design, "
    "same uncapped SQL oracle, true-size denominators). A quotation pair "
    "keeps its score because quoted spans are rare shingles; only credit "
    "from corpus-wide boilerplate is forfeited.",
)
def dedup_containment_pairs_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    return _containment_pairs(sh, rare_keys(sh, "sh", PAIR_DF_CAP))


def _pair_scores_from(sh_sizes: DataFrame, sh_join: DataFrame) -> DataFrame:
    """Inverted-shingle pair intersections + size join.

    ``sh_sizes`` feeds the per-doc size denominators (pass the UNCAPPED
    shingle set so containment/Jaccard denominators are true set sizes);
    ``sh_join`` feeds the pairwise intersection join (pass the df-capped
    set to bound the per-shingle freq^2 blow-up). With identical inputs
    this is exactly the uncapped scorer's plan. Columns out:
    doc_a, doc_b, n_common, na, nb, jaccard.
    """
    sizes = sh_sizes.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        shared_key_pairs(sh_join, "doc_id", "sh", ("doc_a", "doc_b", "n_common"))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
    )


def _jaccard_pairs(sh: DataFrame, sh_join: DataFrame) -> DataFrame:
    """The ``_pair_scores_from(sh, sh_join)`` pairs with Jaccard >= 0.5."""
    scored = _pair_scores_from(sh, sh_join)
    return scored.select("doc_a", "doc_b", "n_common", "jaccard").where(
        F.col("jaccard") >= 0.5
    )


def _containment_pairs(sh: DataFrame, sh_join: DataFrame) -> DataFrame:
    """The ``_pair_scores_from(sh, sh_join)`` pairs with either side
    >= 0.8 contained, as exact scaled BIGINTs."""
    scaled = [
        F.expr(f"CAST(n_common * 1000000 DIV n{s} AS BIGINT) AS contain_{s}_scaled")
        for s in "ab"
    ]
    scored = _pair_scores_from(sh, sh_join)
    return scored.select("doc_a", "doc_b", "n_common", *scaled).where(
        F.greatest("contain_a_scaled", "contain_b_scaled") >= 800000
    )


@query(
    "dedup_lsh_candidate_recall",
    oracle=f"""
WITH {_MINHASH_BUCKETS_SQL},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact_pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.5
),
hits AS (
  SELECT e.doc_a FROM exact_pairs e
  JOIN cand c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
)
SELECT (SELECT count(*) FROM exact_pairs) AS n_exact,
       (SELECT count(*) FROM cand) AS n_candidates,
       (SELECT count(*) FROM hits) AS n_hits,
       CAST((SELECT count(*) FROM hits) AS DOUBLE)
         / (SELECT count(*) FROM exact_pairs) AS recall
""",
    doc="LSH INDEX-TUNING metric — the dedup twin of similarity_ann_recall: "
    "what fraction of the true jaccard>=0.5 pairs does the 4-band x "
    "4-row MinHash index surface as candidates? Recall here is the "
    "band/row sizing signal (more bands -> higher recall, more candidate "
    "volume), exactly how production LSH is tuned — and it quantifies "
    "the miss rate the banding trades for never running all-pairs. The "
    "exact side reuses the inverted-shingle scorer; at 100 TB the "
    "metric runs on a sampled sub-corpus (the exact side is the "
    "expensive one — that asymmetry is the point of the index) or "
    "through the df-capped twin. Three bounded 1-row aggregates "
    "broadcast-crossed into one summary row.",
)
def dedup_lsh_candidate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = dedup_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cand = dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    hits = exact.join(cand, ["doc_a", "doc_b"], "left_semi")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        ne.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_exact",
            "n_candidates",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_exact")).alias(
                "recall"
            ),
        )
    )


def _quality_chain_sql() -> str:
    """``qual(doc_id, quality)`` CTE assembled from the REGISTERED
    doc_quality_scores oracle — compose, don't copy (ADVICE r7): the
    Spark side of both consumers calls doc_quality_scores() directly, so
    the oracle must track the registered scorer's formula automatically,
    matching the _capstone_v5_oracle/_capstone_v6_oracle convention."""
    import spark_streaming_twitter_spark.text.analysis  # noqa: F401

    from spark_streaming_twitter_spark.registry import QUERIES

    q = QUERIES["doc_quality_scores"].oracle
    return (
        f"qual AS (\n  SELECT doc_id, quality, n_tokens FROM (\n{q}\n  )\n)"
    )


_QUALITY_CHAIN_SQL = _quality_chain_sql()


@query(
    "dedup_quality_keeper_drop_list",
    oracle=f"""
WITH {_VERIFIED_PAIRS_SQL},
members AS (SELECT doc_a AS id FROM verified UNION SELECT doc_b FROM verified),
edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
          UNION SELECT doc_b, doc_a FROM verified),
reach AS (
  WITH RECURSIVE r(node, label) AS (
    SELECT id, id FROM members
    UNION
    SELECT e.b, r.label FROM r JOIN edges e ON e.a = r.node
  )
  SELECT node, min(label) AS group_id FROM r GROUP BY node
),
{_QUALITY_CHAIN_SQL.lstrip()},
ranked AS (
  SELECT g.node AS doc_id, g.group_id, q.quality,
         row_number() OVER (PARTITION BY g.group_id
                            ORDER BY q.quality DESC, g.node ASC) AS rn,
         first_value(g.node) OVER (PARTITION BY g.group_id
                                   ORDER BY q.quality DESC, g.node ASC)
           AS kept_doc_id
  FROM reach g JOIN qual q ON q.doc_id = g.node
)
SELECT doc_id AS drop_doc_id, group_id, kept_doc_id
FROM ranked WHERE rn > 1
""",
    doc="QUALITY-AWARE keeper rule — the curation-grade refinement of "
    "dedup_drop_list's keep-min-id: within each near-dup group "
    "(connected components over verified pairs), keep the HIGHEST-"
    "quality member (doc_quality_scores' C4/Gopher heuristic; min "
    "doc_id tie-break) and drop the rest, so deduplication removes the "
    "boilerplate-heavy or truncated variant instead of whichever "
    "happened to have the larger id — the keeper policy real corpus "
    "pipelines use (e.g. keeping the longest/cleanest of a mirror set). "
    "Composes two proven families with one (doc_id) join + one "
    "per-group window; the quality double is the identical expression "
    "tree on both engines, so ordering and output match bitwise.",
)
def dedup_quality_keeper_drop_list(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_streaming_twitter_spark.text.analysis import doc_quality_scores

    groups = dedup_group_ids(spark, sf_dir)
    qual = doc_quality_scores(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("group_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = (
        groups.join(qual, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("kept_doc_id", F.first("doc_id").over(w))
    )
    return ranked.where(F.col("rn") > 1).select(
        F.col("doc_id").alias("drop_doc_id"), "group_id", "kept_doc_id"
    )


@query(
    "corpus_curation_pipeline_v4",
    oracle=f"""
WITH {_VERIFIED_PAIRS_SQL},
members AS (SELECT doc_a AS id FROM verified UNION SELECT doc_b FROM verified),
edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
          UNION SELECT doc_b, doc_a FROM verified),
reach AS (
  WITH RECURSIVE r(node, label) AS (
    SELECT id, id FROM members
    UNION
    SELECT e.b, r.label FROM r JOIN edges e ON e.a = r.node
  )
  SELECT node, min(label) AS group_id FROM r GROUP BY node
),
{_QUALITY_CHAIN_SQL.lstrip()},
drops1 AS (
  SELECT doc_id FROM (
    SELECT g.node AS doc_id,
           row_number() OVER (PARTITION BY g.group_id
                              ORDER BY q.quality DESC, g.node ASC) AS rn
    FROM reach g JOIN qual q ON q.doc_id = g.node
  ) WHERE rn > 1
),
cinter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cpairs AS (
  SELECT c.doc_a, c.doc_b,
         c.n_common * 1000000 // sa.n AS ca,
         c.n_common * 1000000 // sb.n AS cb
  FROM cinter c
  JOIN sizes sa ON c.doc_a = sa.doc_id
  JOIN sizes sb ON c.doc_b = sb.doc_id
  WHERE c.n_common * 1000000 // sa.n >= 800000
     OR c.n_common * 1000000 // sb.n >= 800000
),
drops2 AS (
  SELECT CASE WHEN ca >= 800000 AND cb >= 800000 THEN doc_b
              WHEN ca >= 800000 THEN doc_a
              ELSE doc_b END AS doc_id
  FROM cpairs
),
drops AS (SELECT doc_id FROM drops1 UNION SELECT doc_id FROM drops2),
surv AS (
  SELECT d.doc_id, d.source FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
),
kept AS (
  SELECT * FROM (
    SELECT s.doc_id, s.source, q.quality, q.n_tokens,
           row_number() OVER (PARTITION BY s.source
                              ORDER BY q.quality DESC, s.doc_id ASC) AS rn
    FROM surv s
    JOIN qual q ON q.doc_id = s.doc_id
  ) WHERE rn <= 50
)
SELECT source,
       count(*) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(quality) AS min_quality
FROM kept GROUP BY 1
""",
    doc="Round-7 curation capstone, composing the new operators into one "
    "plan: (1) QUALITY-AWARE near-dup dedup — within each verified-pair "
    "connected component keep the highest-quality member "
    "(dedup_quality_keeper_drop_list); (2) CONTAINMENT pruning — drop "
    "the contained (quoted/subset) side of every >=0.8 containment "
    "pair through the df-capped scorer (container kept; mutual "
    "containment keeps min id); (3) per-source QUALITY BUDGET — top-50 "
    "docs per source by quality. Output: per-source kept count, token "
    "total, and the quality floor the budget enforced. Shuffle "
    "ledger: the shingle stages reuse one sh relation; the two drop "
    "lists union into a single anti-join; the budget is one "
    "source-keyed window — nothing rescans documents more than the "
    "component pipelines already do.",
)
def corpus_curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.text.analysis import doc_quality_scores

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    drops1 = dedup_quality_keeper_drop_list(spark, sf_dir).select(
        F.col("drop_doc_id").alias("doc_id")
    )
    cont = dedup_containment_pairs_capped(spark, sf_dir)
    drops2 = cont.select(
        F.when(
            (F.col("contain_a_scaled") >= 800000)
            & (F.col("contain_b_scaled") >= 800000),
            F.col("doc_b"),
        )
        .when(F.col("contain_a_scaled") >= 800000, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id")
    )
    drops = drops1.unionByName(drops2).distinct()
    surv = docs.join(drops, "doc_id", "left_anti")
    qual = doc_quality_scores(spark, sf_dir).select(
        "doc_id", "quality", "n_tokens"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    kept = (
        surv.join(qual, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("quality").alias("min_quality"),
    )


# Chunk-level global dedup: fixed window width in tokens. 8 stands in for
# the line/paragraph boundary real corpora have (the fixture text carries
# no newlines); the operator is boundary-function-agnostic.
_CHUNK_W = 8


@query(
    "dedup_chunk_keep_first",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS l
  FROM documents
),
chunks AS (
  SELECT doc_id, i AS idx,
         array_to_string(l[(i * {_CHUNK_W} + 1):(i * {_CHUNK_W} + {_CHUNK_W})],
                         ' ') AS chunk
  FROM toks,
       unnest(generate_series(
         0, CAST(floor((len(l) - 1) / {_CHUNK_W}.0) AS BIGINT))) AS u(i)
  WHERE len(l) > 0
),
hashed AS (
  SELECT doc_id, idx, chunk, {portable_hash_sql("chunk")} AS h FROM chunks
),
ranked AS (
  SELECT doc_id, idx, chunk,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
  FROM hashed
),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM hashed GROUP BY 1
),
kept AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(chunk, ' ' ORDER BY idx)) AS kept_md5
  FROM ranked WHERE rn = 1 GROUP BY 1
)
SELECT t.doc_id, t.n_chunks,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(k.n_kept, 0) AS DOUBLE) / t.n_chunks AS kept_frac,
       coalesce(k.kept_md5, md5('')) AS kept_md5
FROM totals t LEFT JOIN kept k USING (doc_id)
""",
    doc="Chunk-level GLOBAL dedup (the CCNet/RefinedWeb line-dedup stage, "
    "which removes boilerplate the doc-level passes can't touch): split "
    "every document into fixed 8-token chunks, keep each distinct chunk's "
    "FIRST occurrence corpus-wide (deterministic keeper = lexicographic "
    "min (doc_id, idx) per chunk hash), emit per-doc total/kept counts, "
    "kept fraction, and the md5 of the surviving text in position order. "
    "Scale shape: explode to chunk rows, ONE aggregation keyed by chunk "
    "hash picks keepers (map-side combine — a boilerplate chunk shared by "
    "millions of docs partially aggregates per partition, so unlike a "
    "pair self-join there is NO freq^2 term), join back on the hash, then "
    "re-aggregate per doc. Two shuffles, both on high-cardinality keys.",
    bench=True,
)
def dedup_chunk_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    return chunk_keep_first(docs)


def chunk_keep_first(docs: DataFrame) -> DataFrame:
    """Core of ``dedup_chunk_keep_first`` over any (doc_id, text) frame."""
    toks = tokens(F.lower(F.col("text")))
    chunks_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.size(toks).cast("double") - 1.0) / float(_CHUNK_W)),
            ),
            lambda i: F.concat_ws(
                " ", F.slice(toks, (i * _CHUNK_W + 1).cast("int"), _CHUNK_W)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = (
        docs.select("doc_id", F.posexplode(chunks_arr).alias("idx", "chunk"))
        .withColumn("h", portable_hash(F.col("chunk")))
    )
    keepers = hashed.groupBy("h").agg(F.min(F.struct("doc_id", "idx")).alias("k"))
    kept_rows = hashed.join(keepers, "h").where(
        (F.col("doc_id") == F.col("k.doc_id")) & (F.col("idx") == F.col("k.idx"))
    )
    totals = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    kept = kept_rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
            )
        ).alias("kept_md5"),
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        (
            F.coalesce("n_kept", F.lit(0).cast("long")).cast("double")
            / F.col("n_chunks")
        ).alias("kept_frac"),
        F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
    )


# All-pairs similarity search (Bayardo et al. 2007, "Scaling Up All Pairs
# Similarity Search"): sparse TF-IDF cosine over word-BIGRAM terms. The df
# cap is the APSS frequent-term prefix filter AND the freq^2 guard in one:
# a term kept by the cap joins at most C(64,2) pairs, so the term-keyed
# pair join is bounded by construction — this scorer is born with the guard
# the unigram-shingle scorers had to retrofit.
_APSS_DF_CAP = 64
_APSS_IDF_SCALE = 1000  # linear idf, integer-scaled (overflow headroom:
# wt <= tf * n_docs * 1000; wt^2 sums stay < 2^63 through ~10^7 docs — at
# larger corpora drop the scale a decade per 100x docs, ranking unchanged.
_APSS_MIN_COSINE = 0.35


@query(
    "dedup_tfidf_cosine_pairs",
    oracle=rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
),
g AS (
  SELECT doc_id, l[i] || ' ' || l[i + 1] AS term
  FROM t, unnest(generate_series(1, len(l) - 1)) AS u(i)
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM g GROUP BY 1, 2),
dfs AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
  HAVING count(*) <= {_APSS_DF_CAP}
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * ((nd.n * {_APSS_IDF_SCALE}) // dfs.df) AS wt
  FROM tf JOIN dfs USING (term) CROSS JOIN nd
),
norms AS (SELECT doc_id, CAST(sum(wt * wt) AS BIGINT) AS n2 FROM w GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.wt * b.wt) AS BIGINT) AS dot,
         CAST(count(*) AS BIGINT) AS n_common
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b, d.n_common,
       CAST(d.dot AS DOUBLE)
         / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
WHERE CAST(d.dot AS DOUBLE)
        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
      >= {_APSS_MIN_COSINE}
""",
    doc="All-pairs sparse TF-IDF cosine (APSS, Bayardo et al. 2007) over "
    "word-bigram terms: integer-scaled linear-idf weights, exact BIGINT "
    "dot products via the inverted-index term join, cosine as one "
    "sqrt-normalized IEEE division (sqrt is correctly-rounded in both "
    "engines). The df<=64 cap IS the APSS frequent-term filter: every "
    "surviving term joins <= C(64,2) pairs, so the pair join is bounded "
    "by construction — the freq^2 exposure the unigram scorers needed "
    "retrofitted caps for cannot arise here. Scale shape: tf/df aggs on "
    "(doc, term) and (term), a term-keyed pair join bounded by the cap, "
    "pair-keyed dot agg, two doc-keyed norm joins.",
    bench=True,
)
def dedup_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = tokens(F.lower(F.col("text")))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i + 1, 1)[0], F.slice(toks, i + 2, 1)[0]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tf = (
        docs.select("doc_id", F.explode(bigrams).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    dfs = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _APSS_DF_CAP)
    )
    w = (
        tf.join(dfs, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("wt", F.expr(f"tf * ((n_docs * {_APSS_IDF_SCALE}) DIV df)"))
        .select("doc_id", "term", "wt")
        .localCheckpoint()
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("wt") * F.col("wt")).alias("n2")
    )
    dots = (
        key_matches(w, "doc_id", "term")
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.sum(F.col("a.wt") * F.col("b.wt")).alias("dot"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("cosine", cosine)
        .where(F.col("cosine") >= _APSS_MIN_COSINE)
        .select("doc_a", "doc_b", "n_common", "cosine")
    )


@query(
    "doc_duplicate_chunk_fraction",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS l
  FROM documents
),
chunks AS (
  SELECT doc_id,
         CASE WHEN len(l) > 0 THEN
           [array_to_string(l[(i * {_CHUNK_W} + 1):(i * {_CHUNK_W} + {_CHUNK_W})], ' ')
            FOR i IN generate_series(0, CAST(floor((len(l) - 1) / {_CHUNK_W}.0) AS BIGINT))]
         ELSE [] END AS cs
  FROM toks
)
SELECT doc_id,
       CAST(len(cs) AS BIGINT) AS n_chunks,
       CAST(len(list_distinct(cs)) AS BIGINT) AS n_distinct,
       CASE WHEN len(cs) > 0
            THEN CAST(1 AS DOUBLE)
                 - CAST(len(list_distinct(cs)) AS DOUBLE) / len(cs)
            ELSE CAST(0 AS DOUBLE) END AS dup_chunk_frac
FROM chunks
""",
    doc="Within-document duplicate-chunk fraction (the Gopher "
    "duplicate-line-fraction quality rule, on the same fixed 8-token "
    "chunking as dedup_chunk_keep_first): 1 - distinct/total chunks per "
    "doc — high values mark internally-repetitive spam. ENTIRELY "
    "row-local: the chunk array and its array_distinct never leave the "
    "row, so the plan is one Project over the scan with zero shuffles; "
    "the only arithmetic is exact counts and a single IEEE division.",
)
def doc_duplicate_chunk_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    toks = tokens(F.lower(F.col("text")))
    chunks_arr = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.size(toks).cast("double") - 1.0) / float(_CHUNK_W)),
            ),
            lambda i: F.concat_ws(
                " ", F.slice(toks, (i * _CHUNK_W + 1).cast("int"), _CHUNK_W)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select(
        "doc_id",
        F.size(chunks_arr).cast("long").alias("n_chunks"),
        F.size(F.array_distinct(chunks_arr)).cast("long").alias("n_distinct"),
    )
    return base.select(
        "doc_id",
        "n_chunks",
        "n_distinct",
        F.when(
            F.col("n_chunks") > 0,
            F.lit(1.0)
            - F.col("n_distinct").cast("double") / F.col("n_chunks"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_chunk_frac"),
    )


def _capstone_v5_oracle() -> str:
    """Assemble the v5 oracle from the registered sub-oracles — the
    capstone can never drift from the stage queries' semantics."""
    import spark_streaming_twitter_spark.text.corpus  # noqa: F401  (registers imp)
    from spark_streaming_twitter_spark.registry import QUERIES

    dup = QUERIES["doc_duplicate_chunk_fraction"].oracle
    ck = QUERIES["dedup_chunk_keep_first"].oracle
    imp = QUERIES["doc_importance_weights"].oracle
    return f"""
WITH dup AS ({dup}),
ck AS ({ck}),
imp AS ({imp}),
joined AS (
  SELECT d.source, dup.doc_id, imp.n_feats, imp.importance_mean_scaled
  FROM dup
  JOIN ck ON ck.doc_id = dup.doc_id
  JOIN imp ON imp.doc_id = dup.doc_id
  JOIN documents d ON d.doc_id = dup.doc_id
  WHERE dup.n_distinct * 2 >= dup.n_chunks
    AND ck.n_kept * 10 >= ck.n_chunks * 3
),
ranked AS (
  SELECT source, doc_id, n_feats, importance_mean_scaled,
         row_number() OVER (PARTITION BY source
                            ORDER BY importance_mean_scaled DESC,
                                     doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY source) AS cnt
  FROM joined
)
SELECT source,
       CAST(max(cnt) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN rn * 2 <= cnt + 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept_docs,
       CAST(sum(CASE WHEN rn * 2 <= cnt + 1 THEN n_feats ELSE 0 END)
            AS BIGINT) AS kept_feats,
       CAST(min(CASE WHEN rn * 2 <= cnt + 1
                     THEN importance_mean_scaled END) AS BIGINT)
         AS min_kept_imp
FROM ranked GROUP BY 1
"""


@query(
    "corpus_curation_pipeline_v5",
    oracle=_capstone_v5_oracle(),
    doc="Round-7 curation capstone: the new stages composed into ONE "
    "Catalyst plan — (1) internal-repetition gate (Gopher duplicate-"
    "chunk fraction <= 0.5, as the EXACT integer test 2*n_distinct >= "
    "n_chunks), (2) corpus-global boilerplate gate (chunk keep-first "
    "kept fraction >= 0.3, as 10*n_kept >= 3*n_chunks), (3) DSIR "
    "importance ranking with a per-source median cut (rightmost-stable "
    "row_number tie-broken on doc_id), reported per source. All "
    "thresholds are integer cross-multiplications — no float literal "
    "ever meets a computed double. Scale: the three stage pipelines "
    "shuffle on their own keys then join on doc_id; the per-source "
    "window runs over the post-filter survivors only.",
)
def corpus_curation_pipeline_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.text.corpus import importance_weights

    base = widen(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text", "source"),
        spark,
    )
    dup = doc_duplicate_chunk_fraction(spark, sf_dir).select(
        "doc_id", "n_chunks", "n_distinct"
    )
    ck = chunk_keep_first(base.select("doc_id", "text")).select(
        F.col("doc_id"), F.col("n_chunks").alias("ck_chunks"), "n_kept"
    )
    imp = importance_weights(base.select("doc_id", "lang", "text")).select(
        "doc_id", "n_feats", "importance_mean_scaled"
    )
    joined = (
        dup.join(ck, "doc_id")
        .join(imp, "doc_id")
        .join(base.select("doc_id", "source"), "doc_id")
        .where(
            (F.col("n_distinct") * 2 >= F.col("n_chunks"))
            & (F.col("n_kept") * 10 >= F.col("ck_chunks") * 3)
        )
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.col("importance_mean_scaled").desc(), F.col("doc_id").asc()
    )
    w_cnt = Window.partitionBy("source")
    ranked = joined.select(
        "source",
        "n_feats",
        "importance_mean_scaled",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_cnt).alias("cnt"),
    )
    kept = F.col("rn") * 2 <= F.col("cnt") + 1
    return ranked.groupBy("source").agg(
        F.max("cnt").cast("long").alias("n_candidates"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept_docs"),
        F.sum(F.when(kept, F.col("n_feats")).otherwise(0))
        .cast("long")
        .alias("kept_feats"),
        F.min(F.when(kept, F.col("importance_mean_scaled")))
        .cast("long")
        .alias("min_kept_imp"),
    )


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
WITH g AS ({_GROUP_IDS_ORACLE}),
sizes AS (
  SELECT group_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM g GROUP BY 1
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
""",
    doc="Curation observability: the near-dup CLUSTER-SIZE distribution "
    "(how many clusters of 2, of 3, ... — the first chart every dedup "
    "run gets audited with; a sudden mass at large sizes means "
    "boilerplate is bridging unrelated docs). Composes dedup_group_ids "
    "(its oracle embeds the group-ids recursive-CTE oracle verbatim) "
    "with two tiny aggregations; output is bounded by the number of "
    "DISTINCT cluster sizes, which grows at most logarithmically in "
    "practice. Scale: both aggs run over the (already tiny) group-label "
    "table, not the corpus.",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = dedup_group_ids(spark, sf_dir)
    sizes = groups.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )


@query(
    "dedup_prefix_filter_pairs",
    oracle=f"""
WITH {_JACCARD_PAIRS_SQL.lstrip()}
SELECT doc_a, doc_b, n_common, jaccard FROM jac WHERE jaccard >= 0.5
""",
    doc="Exact Jaccard >= 0.5 pairs via PREFIX FILTERING (the PPJoin/"
    "AllPairs family, Xiao et al. WWW'08 / Bayardo et al. WWW'07): "
    "order every document's shingles by GLOBAL rarity (df asc, shingle "
    "asc) and index only the first n - ceil(t*n) + 1 of them — any pair "
    "with Jaccard >= t MUST share a prefix shingle (pigeonhole on the "
    "sorted overlap; property-tested in tests/test_properties.py), so "
    "the candidate join runs over prefixes only — further banded by the "
    "AllPairs LENGTH filter (Bayardo et al. WWW'07 §3: J >= 0.5 forces "
    "max(na,nb) <= 2*min(na,nb), exact, carried free on the prefix "
    "relation) and pruned by the POSITIONAL filter (Xiao et al. WWW'08 "
    "§3.2: both lists share one global rarity order, so the first "
    "shared prefix shingle at ranks (ia, jb) bounds the overlap, "
    "I <= 1 + min(na-ia, nb-jb), and J >= 0.5 needs 3I >= na+nb — "
    "exact, soundness property-tested) — and the verify step fetches "
    "each candidate pair's two shingle ARRAYS and intersects them "
    "row-locally — candidate-bound work, no second inverted-index "
    "pass. The oracle is "
    "dedup_ngram_jaccard_pairs' SQL VERBATIM: the algorithm is exact, "
    "so the answers must match the naive full inverted-index join "
    "bit-for-bit — a stronger check than any replayed approximation. "
    "Scale: the prefix cuts each document's index postings ~2x at "
    "t=0.5 and, because prefixes hold the RAREST shingles, hot "
    "boilerplate shingles land in nobody's prefix — the df-cap's "
    "recall-free cousin (measured at sf0.01: 13,985 full-inverted-"
    "index join rows -> 1,613 prefix join rows -> 1,407 after the "
    "length band; 977 -> 772 candidate pairs after the length band "
    "-> 27 after the positional filter, vs 25 true pairs — the "
    "array-fetch verify stage all but vanishes). "
    "The df<=64 cap composes on the prefix relation as the "
    "ADVERSARIAL-prefix guard (a shingle rare enough to be indexed "
    "yet shared by millions pays df^2); it does not bite on this "
    "corpus — the max prefix-posting df here is 4, so the output "
    "stays bit-identical to the uncapped exact join. (The positional "
    "bound's no-shared-shingle-before-the-first-match proof assumes "
    "uncapped prefixes; when the adversarial cap DOES bite, both the "
    "cap and the positional prune are part of the same documented "
    "conservative trade.) Shuffles: ONE "
    "count-window on sh (replacing the groupBy + join-back pair), rank "
    "window on doc_id, prefix self-join on sh, one (pair) aggregation; "
    "the shingle arrays are cached once and the tiny candidate list "
    "broadcasts into the verify fetches.",
    bench=True,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    # The shingle transform is the hot loop and is a higher-order function
    # (no codegen subexpression elimination), so cache the arrays ONCE —
    # they are read by the explode, the size, and the two verify fetches.
    # At 100 TB this cache is the staged-artifact write the pipeline does
    # anyway (cf. staged_dedup_artifacts).
    sets0 = docs.select(
        "doc_id",
        shingles(tokens(F.lower(F.col("text"))), SHINGLE_N).alias("arr"),
    ).persist()
    sets = sets0.select("doc_id", "arr", F.size("arr").alias("n"))
    sh = sets.select("doc_id", "n", F.explode("arr").alias("sh"))
    # df as a count-window over sh: ONE shuffle on sh instead of the
    # groupBy + join-back pair (both also keyed on sh).
    w_df = Window.partitionBy("sh")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("sh").asc()
    )
    prefix = (
        sh.withColumn("df", F.count(F.lit(1)).over(w_df))
        .withColumn("rn", F.row_number().over(w))
        .where(F.expr("rn <= n DIV 2 + 1"))
        .where(F.col("df") <= PAIR_DF_CAP)
        .select("doc_id", "n", "sh", "rn")
        .persist()
    )
    # AllPairs length filter (Bayardo et al. WWW'07 §3): at t=0.5,
    # J >= t forces max(na, nb) <= min(na, nb)/t = 2*min(na, nb).
    length = (F.col("b.n") <= 2 * F.col("a.n")) & (F.col("a.n") <= 2 * F.col("b.n"))
    # Positional filter (PPJoin, Xiao et al. WWW'08 §3.2), exact: both
    # shingle lists are ranked by the SAME global (df, sh) order, so the
    # FIRST shared prefix shingle (min rn on either side — consistent
    # order means both mins land on the same shingle) bounds the overlap:
    # I <= 1 + min(na - rn_a, nb - rn_b). J >= 0.5 needs 3*I >= na + nb.
    cand = (
        key_matches(prefix, "doc_id", "sh", extra=length)
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.min(F.col("a.n")).alias("pna"),
            F.min(F.col("b.n")).alias("pnb"),
            F.min(F.col("a.rn")).alias("ia"),
            F.min(F.col("b.rn")).alias("jb"),
        )
        .where(
            3
            * (
                1
                + F.least(
                    F.col("pna") - F.col("ia"), F.col("pnb") - F.col("jb")
                )
            )
            >= F.col("pna") + F.col("pnb")
        )
        .select("doc_a", "doc_b")
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        F.col("n").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    out = (
        sa.join(F.broadcast(cand), "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("bigint").alias("n_common"),
            (
                inter.cast("double")
                / (F.col("na") + F.col("nb") - inter)
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )
    # Materialize before unpersisting the two caches — returning a lazy
    # plan over unpersisted intermediates would recompute everything at
    # the driver's later collect.
    try:
        rows = out.collect()
        result = spark.createDataFrame(rows, out.schema)
    finally:
        prefix.unpersist()
        sets0.unpersist()
    return result
