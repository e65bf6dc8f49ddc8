"""Corpus-construction operators: packing, chunking, vocab, data mixing.

The last mile of a training-data pipeline, after curation has decided WHAT
to keep: pack documents into fixed-length training sequences, chunk them
into overlapping context windows, build the vocabulary and measure OOV,
and weight sources for temperature-based mixture sampling. None of these
exist in the reference (it stops at windowed counts); all are mandated by
the large-scale-training-pipeline brief and all are DuckDB-oracle-twinned.

Scale designs, per operator:
- pack_training_sequences: the global token-offset cumsum uses the SHARDED
  two-stage pattern (per-shard window in parallel, then a cumsum over the
  tiny shard-total table) — the same shape as running_event_total, never
  a single-partition window over the corpus. The shard size adapts to the
  corpus so the stage-2 table is bounded at 10^6 rows at any scale.
- doc_chunk_windows: purely row-local (explode of per-doc chunk starts);
  zero shuffles.
- vocab_oov_rate: vocabulary is top-V by construction (bounded), so the
  membership join broadcasts legitimately; the two real shuffles are
  keyed on token and doc_id.
- stratified_split_exact: exact per-stratum quotas need a per-stratum
  rank (one shuffle on the stratum key). For web-scale strata swap the
  rank for an approx-quantile hash threshold; the hash ordering makes
  either assignment deterministic.
- source_temperature_weights: one tiny agg; the single-row total
  cross-joins (broadcast of 1 row).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.catalog import table, widen
from spark_streaming_twitter_spark.functions.hashing import (
    portable_hash,
    portable_hash_sql,
)
from spark_streaming_twitter_spark.registry import QUERIES, query
from spark_streaming_twitter_spark.text.analysis import tokens

SEQ_LEN = 2048  # tokens per packed training sequence
PACK_SHARD = 1000  # MINIMUM docs per cumsum shard (stage-1 parallelism unit)
PACK_MAX_SHARDS = 1_000_000  # hard cap on stage-2 window rows (see below)
PACK_PART_MIN = 4000  # MINIMUM docs per writer partition (range unit)
PACK_MAX_PARTS = 10_000  # hard cap on coordinator-table rows
CHUNK_LEN = 128  # tokens per context-window chunk
CHUNK_STRIDE = 64  # overlap stride
VOCAB_SIZE = 1000  # top-V vocabulary

# Layout keys: a single writer cuts the id axis into cumsum shards; a
# ranged (multi-writer) layout also cuts it into writer partitions.
SINGLE = ("shard",)
RANGED = ("part", "shard")
_SPANS = {
    "shard": (PACK_SHARD, PACK_MAX_SHARDS),
    "part": (PACK_PART_MIN, PACK_MAX_PARTS),
}


@query(
    "pack_training_sequences",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS start_offset
  FROM toks
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // 2048 AS first_seq,
       CASE WHEN n_tokens = 0 THEN start_offset // 2048
            ELSE (start_offset + n_tokens - 1) // 2048 END AS last_seq
FROM c
""",
    doc="GPT-style sequence packing (concat-and-slice): documents are laid "
    "end-to-end in doc_id order and the token stream is cut into "
    "2048-token training sequences; each doc reports its global token "
    "offset and the first/last sequence it lands in. The global cumsum "
    "is SHARDED (doc_id DIV shard_size): per-shard window cumsums run in "
    "parallel, the shard-total cumsum runs over #shards rows only — never "
    "a single-partition window over the corpus (the oracle's unpartitioned "
    "window is the spec, not the plan). shard_size ADAPTS to the corpus: "
    "greatest(1000, max_doc_id/1e6 + 1), derived from a broadcast 1-row "
    "max aggregate, so the stage-2 window is provably <= 10^6 rows at ANY "
    "corpus size (10^10 docs -> 10^4-doc shards, still 10^6 stage-2 rows) "
    "while small corpora keep 1000-doc shards for stage-1 parallelism.",
    bench=True,
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    return _pack_layout(docs)


def _pack_layout(docs: DataFrame) -> DataFrame:
    """The batch packer's layout over ANY (doc_id, text) corpus slice —
    reused by the full-corpus query and the opt-out re-pack delta."""
    toks = docs.select("doc_id", _text_tokens().alias("n_tokens"))
    return _pack_core(_keyed(toks, SINGLE), SINGLE)


def _text_tokens() -> Column:
    return F.size(tokens(F.col("text"))).cast("bigint")


def _keyed(
    df: DataFrame, keys: "tuple[str, ...]", hi: "int | None" = None
) -> DataFrame:
    """``df`` plus its layout keys, each ``doc_id DIV`` a span that adapts
    to the id range: at least the key's minimum span, and wide enough
    that at most its cap of key values exist at ANY corpus size. The
    range's top is the bound ``hi`` when the caller knows one, else
    ``df``'s own max doc_id from a broadcast 1-row aggregate (no driver
    collect; the max prunes to the id column, so a token-count branch
    is not recomputed)."""
    if hi is None:
        top = "max_doc_id"
        src = df.crossJoin(F.broadcast(df.agg(F.max("doc_id").alias(top))))
    else:
        top, src = f"{int(hi)}L", df
    return src.select(
        *df.columns,
        *(
            F.expr(f"doc_id DIV greatest({lo}L, {top} DIV {cap} + 1)").alias(k)
            for k in keys
            for lo, cap in [_SPANS[k]]
        ),
    )


def _pack_core(
    toks: DataFrame, keys: "tuple[str, ...]", base: int = 0
) -> DataFrame:
    """Concat-and-slice layout of a (doc_id, *keys, n_tokens, ...) frame,
    starting at token offset ``base``: the sharded two-stage cumsum.
    Stage 1 is a window per key group over the doc rows, in parallel;
    stage 2 is one cumsum over the key-group totals, ordered by the
    keys. A single writer keys on shard. A ranged (multi-writer) layout
    keys on (part, shard), so the stage-2 table is the COORDINATOR: it
    has at most n_parts + n_shards rows (both cut the same id axis),
    and a part's handed-out range starts at its first shard's start,
    min(shard_start) over the part. No doc-row window spans two key
    groups. Other columns pass through; the layout keys are dropped
    except ``part``, which is returned with its ``part_range_start``."""
    w_in = (
        Window.partitionBy(*keys)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_pre = Window.orderBy(*keys).rowsBetween(Window.unboundedPreceding, -1)
    starts = (
        toks.groupBy(*keys)
        .agg(F.sum("n_tokens").alias("tot"))
        .select(
            *keys,
            (
                F.lit(base).cast("bigint")
                + F.coalesce(F.sum("tot").over(w_pre), F.lit(0))
            ).alias("shard_start"),
        )
    )
    ranges: "tuple[str, ...]" = ()
    if "part" in keys:
        ranges = ("part", "part_range_start")
        starts = starts.withColumn(
            "part_range_start",
            F.min("shard_start").over(Window.partitionBy("part")),
        )
    rest = [c for c in toks.columns if c not in keys]
    start = F.col("shard_start") + F.col("cs_in_shard") - F.col("n_tokens")
    return (
        toks.withColumn("cs_in_shard", F.sum("n_tokens").over(w_in))
        .join(starts, list(keys))
        .select(*rest, start.alias("start_offset"), *ranges)
        .select(
            *rest,
            "start_offset",
            F.expr(f"start_offset DIV {SEQ_LEN}").alias("first_seq"),
            # a zero-token doc sits in the sequence its offset falls in
            F.expr(
                f"(start_offset + greatest(n_tokens - 1, 0)) DIV {SEQ_LEN}"
            ).alias("last_seq"),
            *ranges,
        )
    )


MEDIA_TOKEN_COST = {"image": 64, "audio": 32, "video": 256}


@query(
    "pack_multimodal_sequences",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
              AS BIGINT) AS n_text_tokens,
         CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 64
              WHEN 1 THEN 32 ELSE 256 END AS BIGINT) AS n_media_tokens
  FROM documents
),
t2 AS (
  SELECT doc_id, kind, n_text_tokens, n_media_tokens,
         n_text_tokens + n_media_tokens AS n_tokens
  FROM toks
),
c AS (
  SELECT *, CAST(sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          - n_tokens AS start_offset
  FROM t2
)
SELECT doc_id, kind, n_text_tokens, n_media_tokens, n_tokens, start_offset,
       start_offset // 2048 AS first_seq,
       (start_offset + n_tokens - 1) // 2048 AS last_seq
FROM c
""",
    doc="MULTIMODAL sequence packing — the VLM-training token budget: "
    "each document carries its attached media item (the multimodal "
    "fixture pairs every doc with one image/audio/video by "
    "doc_id % 3, multimodal/columns.py:60-79) as a FIXED per-kind "
    "patch-token cost (image 64, audio 32, video 256 — the "
    "vision-encoder output length a trainer budgets, independent of "
    "payload bytes), and the concat-and-slice layout packs the "
    "COMBINED text+media token count. Reuses the sharded two-stage "
    "cumsum verbatim via _pack_core — the layout engine "
    "is modality-agnostic; only the count column changes. n_tokens is "
    "always >= the media cost so the zero-token branch never fires "
    "(the oracle drops the CASE accordingly). Downstream derivations "
    "(manifest, spans, shuffle) apply to this layout unchanged, since "
    "they read only the count/offset columns.",
)
def pack_multimodal_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_TOKEN_COST]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    counts = docs.select(
        "doc_id",
        kind.alias("kind"),
        _text_tokens().alias("n_text_tokens"),
        _media_tokens().alias("n_media_tokens"),
    ).withColumn(
        "n_tokens", F.col("n_text_tokens") + F.col("n_media_tokens")
    )
    return _pack_core(_keyed(counts, SINGLE), SINGLE)


def _media_tokens() -> Column:
    """Each doc's media item as its fixed per-kind patch-token cost."""
    return F.element_at(
        F.array(*[F.lit(v) for v in MEDIA_TOKEN_COST.values()]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    ).cast("bigint")


def _mm_tokens() -> Column:
    return _text_tokens() + _media_tokens()


@query(
    "stream_pack_multimodal_sequences",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
              AS BIGINT)
           + CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 64
                  WHEN 1 THEN 32 ELSE 256 END AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS start_offset
  FROM toks
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {SEQ_LEN} AS first_seq,
       (start_offset + n_tokens - 1) // {SEQ_LEN} AS last_seq
FROM c
""",
    doc="MULTIMODAL training examples AT INGEST — the streaming twin of "
    "pack_multimodal_sequences: interleaved text+media token budgets "
    "(image 64 / audio 32 / video 256 patch tokens by the fixture's "
    "doc % 3 media pairing) are packed incrementally as documents "
    "arrive, with the identical per-trigger machinery as the text "
    "packer — only the count expression changes "
    "(_pack_stream's count parameter), which is the point: "
    "the at-ingest layout engine is count-agnostic, so the streaming "
    "curation-to-training-examples story holds for multimodal corpora "
    "with zero new moving parts. Oracle is the multimodal budget's "
    "concat-and-slice layout; n_tokens >= the media cost so the "
    "zero-token branch never fires.",
)
def stream_pack_multimodal_sequences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir, count=_mm_tokens)


@query(
    "stream_pack_multimodal_sequences_persisted",
    oracle=QUERIES["stream_pack_multimodal_sequences"].oracle,
    doc="The multimodal streaming packer in its PRODUCTION READ-BACK "
    "shape (the text packer's persisted twin, same _kept_ledger_dir "
    "pattern): identical count-agnostic per-trigger "
    "body with the multimodal budget, ledger written to a kept "
    "per-user location (overwrite-at-start with the pre-rmtree "
    "ownership recheck), returned frame IS the parquet-backed ledger "
    "— no collect() between streaming finish and the caller. Oracle "
    "verbatim from the lifecycle twin.",
)
def stream_pack_multimodal_sequences_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    keep = _kept_ledger_dir("pack_mm_ledger")
    return _pack_stream(spark, sf_dir, count=_mm_tokens, keep_ledger_dir=keep)


# Registered before the multimodal ingest-to-training block below: its
# oracles import phash, whose v8 capstone imports dedup, whose v5 capstone
# reads doc_importance_weights — so text.corpus imports on its own.
#
# DSIR-class data selection (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): hashed n-gram bucket counts estimate a
# target and a source distribution; documents are weighted by how target-like
# their features are. Log-free adaptation: DSIR's log-likelihood-ratio sum
# needs libm, so the per-bucket weight here is the SCALED PROBABILITY RATIO
# (t_b+1)*SCALE DIV (s_b+1) (add-one smoothed; the constant (S+B)/(T+B)
# normalizer is the same for every bucket, so dropping it preserves ranking
# exactly), and the per-doc score is the exact-BIGINT SUM of its features'
# weights — an order-free arithmetic-mean surrogate for DSIR's
# log-probability product that both engines evaluate bitwise-identically.
_DSIR_BUCKETS = 256
_DSIR_SCALE = 1 << 20


@query(
    "doc_importance_weights",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS l
  FROM documents
),
uni AS (SELECT doc_id, lang, unnest(l) AS f FROM toks),
bi AS (
  SELECT doc_id, lang, l[i] || ' ' || l[i + 1] AS f
  FROM toks, unnest(generate_series(1, len(l) - 1)) AS u(i)
),
feats AS (
  SELECT doc_id, lang, {portable_hash_sql("f")} % {_DSIR_BUCKETS} AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
counts AS (
  SELECT b, CAST(count(*) AS BIGINT) AS s_b,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_b
  FROM feats GROUP BY 1
),
w AS (SELECT b, ((t_b + 1) * {_DSIR_SCALE}) // (s_b + 1) AS wt FROM counts)
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_feats,
       CAST(sum(w.wt) AS BIGINT) AS importance_scaled,
       CAST(sum(w.wt) AS BIGINT) // count(*) AS importance_mean_scaled
FROM feats f JOIN w USING (b)
GROUP BY 1
""",
    doc="DSIR-class importance weighting for data selection: hashed "
    "unigram+bigram features into 256 buckets, target = lang='en' docs, "
    "source = whole corpus, per-bucket add-one-smoothed scaled "
    "probability ratio, per-doc exact-BIGINT weight sum + mean. Scale "
    "shape: ONE feature pass aggregated to a 256-row weight table (the "
    "target/source counts come from the same aggregation via a "
    "conditional sum), broadcast back onto the feature stream, per-doc "
    "sum — two shuffles (bucket id, doc_id), no floating point anywhere.",
    bench=True,
)
def doc_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text"), spark
    )
    return importance_weights(docs)


def importance_weights(docs: DataFrame) -> DataFrame:
    """Core of ``doc_importance_weights`` over any (doc_id, lang, text)
    frame; target = lang='en'."""
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
    # the hashed feature stream feeds BOTH the bucket-count aggregation
    # and the per-doc weight join — pin it (projected to the 3 columns the
    # consumers need; the feature string dies at the hash) so the tokenize
    # + bigram build + explode runs once per doc, not twice. Per-call
    # localCheckpoint: no CacheManager entry, freed when the returned plan
    # dies.
    feats = (
        docs.select(
            "doc_id", "lang", F.explode(F.concat(toks, bigrams)).alias("f")
        )
        .select(
            "doc_id",
            "lang",
            (portable_hash(F.col("f")) % _DSIR_BUCKETS).alias("b"),
        )
        .localCheckpoint()
    )
    counts = feats.groupBy("b").agg(
        F.count(F.lit(1)).alias("s_b"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("t_b"),
    )
    weights = counts.select(
        "b", F.expr(f"((t_b + 1) * {_DSIR_SCALE}) DIV (s_b + 1)").alias("wt")
    )
    return (
        feats.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("wt").alias("importance_scaled"),
        )
        .select(
            "doc_id",
            "n_feats",
            "importance_scaled",
            F.expr("importance_scaled DIV n_feats").alias(
                "importance_mean_scaled"
            ),
        )
    )


def _mm_ingest_to_training_oracle(suffix: str = "") -> str:
    """Compose the three streaming keeper oracles verbatim (capstone
    convention), drop their rejects, and lay out the multimodal token
    budget of the survivors. ``suffix`` selects the keeper family and
    the layout's arrival order: "" = ordered spools (layout = id
    order), "_unordered" = round-robin disorder (layout = arrival
    order: epoch, then id within the trigger)."""
    import spark_streaming_twitter_spark.multimodal.phash  # noqa: F401
    from spark_streaming_twitter_spark.registry import QUERIES

    ik = QUERIES[f"stream_media_phash_keeper_dedup{suffix}"].oracle
    ak = QUERIES[f"stream_media_audio_keeper_dedup{suffix}"].oracle
    vk = QUERIES[f"stream_media_video_keeper_dedup{suffix}"].oracle
    order = "doc_id % 4, doc_id" if suffix else "doc_id"
    return rf"""
WITH ikeeper AS ({ik}),
akeeper AS ({ak}),
vkeeper AS ({vk}),
drops AS (
  SELECT media_id AS doc_id FROM ikeeper WHERE NOT kept
  UNION ALL SELECT media_id FROM akeeper WHERE NOT kept
  UNION ALL SELECT media_id FROM vkeeper WHERE NOT kept
),
toks AS (
  SELECT d.doc_id,
         CAST(len(list_filter(string_split_regex(d.text, '\s+'),
                              t -> t <> '')) AS BIGINT)
           + CAST(CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 64
                  WHEN 1 THEN 32 ELSE 256 END AS BIGINT) AS n_tokens
  FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY {order}
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS start_offset
  FROM toks
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {SEQ_LEN} AS first_seq,
       (start_offset + n_tokens - 1) // {SEQ_LEN} AS last_seq
FROM c
"""


# The reject-set join gate. A keeper DROP list is
# broadcastable only while it is genuinely small: under disorder the
# builder's own fixture measures it at 75% of the corpus (373/500 docs at
# sf0.01 — arrival clustering makes keeper dedup drop most near-dup group
# members), and broadcasting a corpus-proportional frame is a driver/OOM
# cliff at 100 TB. The choice is data-driven on the ALREADY-materialized
# drop count: broadcast when the list is both absolutely small (fits a
# broadcast comfortably) and a small FRACTION of the stream side (the
# "dups are rare" premise the broadcast rests on); otherwise take the
# shuffled hash anti-join — both sides hash-partition on doc_id, each
# task builds only its partition's slice of the drop set, nothing
# corpus-proportional ever lands on one node. Plan-pinned both sides in
# tests/test_plan_shapes.py.
# Both bounds are INCLUSIVE (<=): at exactly 4M rows / exactly 1/10 of
# the survivors the gate still broadcasts.
REJECT_BROADCAST_MAX_ROWS = 4_000_000  # ~32 MB of bigint ids
REJECT_BROADCAST_MAX_FRAC = 10  # ...and drops <= survivors-side/10


def _adaptive_reject_anti_join(
    src: DataFrame, drops: DataFrame, n_drops: int, n_src: int
) -> DataFrame:
    """Anti-join ``src`` (survivor side, keyed ``doc_id``) against the
    keeper reject set, picking the physical join from the measured drop
    count: broadcast below the gate, shuffled hash join above it."""
    if n_drops <= min(
        REJECT_BROADCAST_MAX_ROWS,
        max(n_src // REJECT_BROADCAST_MAX_FRAC, 1),
    ):
        return src.join(F.broadcast(drops), "doc_id", "left_anti")
    return src.join(drops.hint("shuffle_hash"), "doc_id", "left_anti")


def _kept_ledger_dir(name: str) -> str:
    """Namespaced kept location for a persisted flagship ledger:
    per-user under ``$SPARK_GRAFT_LEDGER_BASE`` (default the temp
    dir), so concurrent users/processes on a shared host don't silently
    corrupt each other's ledger, and ownership-verified before the
    overwrite-at-start rmtree so a pre-planted directory or symlink is
    rejected rather than followed."""
    import getpass
    import os
    import stat as stat_mod
    import tempfile

    base = os.environ.get("SPARK_GRAFT_LEDGER_BASE") or tempfile.gettempdir()
    try:
        user = getpass.getuser()
    except Exception:
        user = "u"
    parent = os.path.join(base, f"spark_graft_{user}_{os.getuid()}")
    os.makedirs(parent, exist_ok=True)
    pst = os.lstat(parent)
    if stat_mod.S_ISLNK(pst.st_mode) or pst.st_uid != os.getuid():
        raise RuntimeError(
            f"refusing to use {parent}: not a directory owned by this user"
        )
    d = os.path.join(parent, name)
    if os.path.lexists(d):
        dst = os.lstat(d)
        if not stat_mod.S_ISDIR(dst.st_mode) or dst.st_uid != os.getuid():
            raise RuntimeError(
                f"refusing to overwrite {d}: not an owned directory"
            )
    return d


def _reclaim_ledger_dir(path: str) -> None:
    """Re-verify ownership IMMEDIATELY before the overwrite-at-start
    rmtree: _kept_ledger_dir checks at path-computation
    time, but the rmtree happens later in the impl — re-running the
    lexists/lstat check here closes the window in which a same-uid
    process could plant a symlink at the ledger path between the two
    (the parent dir is already ownership-verified, so only the same
    uid can write there at all)."""
    import os
    import stat as stat_mod

    if os.path.lexists(path):
        st = os.lstat(path)
        if not stat_mod.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
            raise RuntimeError(
                f"refusing to overwrite {path}: not an owned directory"
            )
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def _ledger_or_none(spark: SparkSession, path: str) -> "DataFrame | None":
    """Read an executor-written parquet ledger, or None when nothing has
    landed yet (dir absent, or present with no data files — an empty
    micro-batch write leaves only _SUCCESS). Makes every recovery /
    re-seed path TOTAL: a pre-crash half that packed zero docs resumes
    from offset 0 instead of raising AnalysisException."""
    import glob as glob_mod
    import os

    if not os.path.isdir(path) or not glob_mod.glob(
        os.path.join(path, "*.parquet")
    ):
        return None
    return spark.read.parquet(path)


@query(
    "stream_multimodal_ingest_to_training",
    oracle=_mm_ingest_to_training_oracle(),
    doc="FLAGSHIP multimodal capstone, in two phases: ONE online keeper "
    "stream dedups every modality (image pHash / audio fingerprint / "
    "video frame-signature keys, modality-tagged, each modality cut on "
    "its own id range, so every decision is its standalone keeper "
    "stream's — the three oracles composed VERBATIM), then a pack "
    "stream lays the SURVIVING documents into multimodal training "
    "sequences at ingest — the full curation-to-training-examples "
    "story for a multimodal corpus in one registered query. The keeper "
    "decision ledger feeds the packer "
    "as a drop set anti-joined per trigger through the SIZE-ADAPTIVE "
    "gate (_adaptive_reject_anti_join): the drop count "
    "is materialized anyway, so the join broadcasts when drops are "
    "both <= 4M rows and <= 1/10 of the corpus (the dedup premise "
    "holding, as here: 47/500 at sf0.01) and flips to a shuffled hash "
    "anti-join when the list is corpus-proportional. The packer is the "
    "same count-agnostic per-trigger body with the multimodal budget. "
    "One wrong keep/drop decision in any modality shifts "
    "every downstream offset here, so the capstone re-verifies all "
    "three detectors through the layout.",
)
def stream_multimodal_ingest_to_training(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mm_ingest_impl(spark, sf_dir, unordered=False)


@query(
    "stream_multimodal_ingest_to_training_unordered",
    oracle=_mm_ingest_to_training_oracle("_unordered"),
    doc="The flagship multimodal capstone under Kafka CROSS-PARTITION "
    "DISORDER — keeper curation AND packing both run on round-robin "
    "arrivals: the round-robin keeper stream decides keep/drop "
    "with arrival-defined semantics (their unordered oracles composed "
    "verbatim, epochs replayed), and the survivors pack in arrival "
    "order (epoch, then id within the trigger). Identical code to the "
    "ordered flagship except which spool feeds each stage — the "
    "composition, like its parts, assumes nothing about id order. "
    "Under disorder the reject list is NOT the small side — arrival "
    "clustering makes keeper dedup drop most near-dup group members "
    "(373/500 docs at sf0.01, the sensitivity SCALE.md names) — so "
    "the size-adaptive gate FLIPS here: 373 > 500/10 fails the "
    "fraction test and the packer anti-joins through a shuffled hash "
    "join instead of a broadcast. This query is the "
    "gate's shuffled side IN the driver's correctness gate; the "
    "ordered flagship exercises the broadcast side.",
)
def stream_multimodal_ingest_to_training_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mm_ingest_impl(spark, sf_dir, unordered=True)


@query(
    "stream_multimodal_ingest_to_training_persisted",
    oracle=_mm_ingest_to_training_oracle(),
    bench=True,  # the headline flagship entries point at
    # the persisted (production read-back) shapes, not the
    # collect-materializing harness-lifecycle variants
    doc="The flagship capstone in its PRODUCTION READ-BACK shape: "
    "identical keeper-dedup + at-ingest packing, "
    "but the packer ledger is written to a KEPT location (overwritten "
    "at start, like any output-table rewrite) and the returned frame "
    "IS the parquet-backed ledger — no collect() anywhere between "
    "streaming finish and the caller's hands, so the output scales to "
    "a corpus-proportional result where the harness-lifecycle variant "
    "(which must materialize before its temp dir dies) cannot. At "
    "100 TB this is the only valid shape: the ledger is the training "
    "job's input table, read where it landed. Ordered-flagship oracle "
    "verbatim — same bits, different lifecycle.",
)
def stream_multimodal_ingest_to_training_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mm_ingest_impl(
        spark,
        sf_dir,
        unordered=False,
        keep_ledger_dir=_kept_ledger_dir("flagship_ledger"),
    )


@query(
    "stream_multimodal_ingest_to_training_unordered_persisted",
    oracle=_mm_ingest_to_training_oracle("_unordered"),
    bench=True,
    doc="The DISORDERED flagship in the production read-back shape: "
    "keeper curation and packing on round-robin "
    "arrivals, ledger written to a kept per-user location, returned "
    "frame IS the parquet-backed ledger — no collect between streaming "
    "finish and the caller. Because disorder makes the reject list "
    "corpus-proportional (373/500 at sf0.01), this variant runs the "
    "size-adaptive gate's SHUFFLED side end-to-end in its production "
    "lifecycle. Unordered-flagship oracle verbatim — same bits, "
    "different lifecycle.",
)
def stream_multimodal_ingest_to_training_unordered_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mm_ingest_impl(
        spark,
        sf_dir,
        unordered=True,
        keep_ledger_dir=_kept_ledger_dir("flagship_unordered_ledger"),
    )


def _mm_ingest_impl(
    spark: SparkSession,
    sf_dir: str,
    unordered: bool,
    keep_ledger_dir: "str | None" = None,
) -> DataFrame:
    """The two-phase flagship (the docs' "4-stream" form, against the
    fused one): ONE keeper stream decides all three media kinds (each
    cut on its own id range, or round-robin like the packer), then the
    pack stream anti-joins that ledger's drops in every trigger."""
    from spark_streaming_twitter_spark.multimodal.phash import _media_keeper_stream

    ledger = _media_keeper_stream(spark, sf_dir, 0, 1, 2, roundrobin=unordered)
    drops = ledger.where(~F.col("kept")).select(F.col("media_id").alias("doc_id"))
    # the gate's measured sizes: the drop set against the survivor side
    # (a count-from-metadata parquet scan)
    n_drops = drops.count()
    n_docs = table(spark, sf_dir, "documents").count()
    return _pack_stream(
        spark,
        sf_dir,
        count=_mm_tokens,
        roundrobin=unordered,
        keep_ledger_dir=keep_ledger_dir,
        survivors_in=lambda _tmp: lambda bdf: _adaptive_reject_anti_join(
            bdf, drops, n_drops, n_docs
        ),
    )


def _stream_pack_oracle() -> str:
    """The batch packer's oracle VERBATIM (capstone convention): with the
    ordered spool, arrival order == doc_id order, so incremental offset
    assignment must reproduce the global concat-and-slice layout."""
    from spark_streaming_twitter_spark.registry import QUERIES

    return QUERIES["pack_training_sequences"].oracle


@query(
    "stream_pack_training_sequences",
    oracle=_stream_pack_oracle(),
    bench=True,  # benched beside its persisted twin so the
    # lifecycle-vs-production cost delta is a measured number
    doc="AT-INGEST sequence packing — extends the streaming story from "
    "curation to TRAINING-EXAMPLE construction: documents arrive in "
    "micro-batches and each is assigned its GLOBAL token offset (and "
    "the 2048-token training sequences it lands in) incrementally, "
    "without ever re-scanning history. Per trigger the work is the "
    "batch packer's own sharded two-stage cumsum restricted to the "
    "batch's rows (stage-1 windows per shard in parallel, stage-2 over "
    "#shards rows); the ONLY cross-batch coordination is one scalar — "
    "the running token total, read back from the ledger when a run "
    "starts, carried across triggers and added to "
    "every within-batch offset — which is the monotone 'offset "
    "allocator' a production ingest owns anyway (the Kafka-offset "
    "shape: a coordinator hands out ranges, workers fill them — "
    "demonstrated as a first-class query by pack_training_sequences_"
    "ranged, whose per-partition layouts tile the offset space under "
    "a bounded coordinator cumsum). "
    "Per-doc rows land in an executor-written parquet ledger. Oracle "
    "is the batch packer's VERBATIM; output bitwise-identical to "
    "pack_training_sequences (invariant-tested) because the ordered "
    "spool makes arrival order == id order — the layout a real "
    "pipeline gets by packing per partition and concatenating offset "
    "ranges.",
)
def stream_pack_training_sequences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir)


@query(
    "stream_pack_training_sequences_persisted",
    oracle=_stream_pack_oracle(),
    bench=True,
    doc="The streaming text packer in its PRODUCTION READ-BACK shape "
    "(the flagship's _kept_ledger_dir pattern applied "
    "to the packer family): identical per-trigger sharded-cumsum "
    "machinery, but the per-doc ledger is written to a KEPT per-user "
    "location (overwritten at start like any output-table rewrite, "
    "ownership re-verified immediately before the rmtree) and the "
    "returned frame IS the parquet-backed ledger — no collect() "
    "between streaming finish and the caller, so the result scales to "
    "a corpus-proportional layout table where the harness-lifecycle "
    "variant (which must materialize before its temp dir dies) "
    "cannot. At 100 TB the ledger is the training job's input table, "
    "read where it landed. Oracle verbatim from the lifecycle twin — "
    "same bits, different lifecycle; benched beside it so the "
    "production shape's cost is a measured number, not a claim.",
)
def stream_pack_training_sequences_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    keep = _kept_ledger_dir("pack_training_ledger")
    return _pack_stream(spark, sf_dir, keep_ledger_dir=keep)


# What a packer ledger returns: the layout, plus the trigger each doc was
# packed in (round-robin arrival) or the writer-range handoffs (ranged).
_PACK_COLS = ("doc_id", "n_tokens", "start_offset", "first_seq", "last_seq")
_ARRIVAL_COLS = _PACK_COLS + ("batch AS arrival_epoch",)
_RANGED_COLS = _PACK_COLS + ("batch", "part", "part_range_start")


def _pack_stream(
    spark: SparkSession,
    sf_dir: str,
    cols: "tuple[str, ...]" = _PACK_COLS,
    keys: "tuple[str, ...]" = SINGLE,
    count: "Callable[[], Column]" = _text_tokens,
    roundrobin: bool = False,
    resume: bool = False,
    keep_ledger_dir: "str | None" = None,
    survivors_in: "Callable[[str], Callable[[DataFrame], DataFrame]] | None" = None,
    assign: bool = False,
) -> DataFrame:
    """The at-ingest packer: spool the documents (by doc_id range, or
    round-robin), then run the stream, each trigger packing the batch
    (or what ``survivors_in(tmp)``, called once with the run's temp dir
    where a keeper store may live, keeps of it) into the ledger through
    _pack_batch. Every run seeds its offset and batch counter from the
    ledger it appends to, so ``resume`` is just a second run: the
    first run sees batches 0-1, the driver's carry is dropped, and a
    fresh run over batches 2.. reads it back. ``assign`` adds the run
    order's assign step after each pack and returns the run order read
    from both ledgers; otherwise the ledger's ``cols`` are returned.
    With ``keep_ledger_dir`` the ledger outlives the query
    (overwritten at start) and the returned frame is parquet-backed;
    otherwise it is collected before the temp dir dies."""
    import glob
    import os
    import shutil
    import tempfile

    from spark_streaming_twitter_spark.streaming.harness import (
        run_foreach_batch,
        spool_ordered_batches,
        spool_roundrobin_batches,
    )

    tmp = tempfile.mkdtemp(prefix="stream_pack_")
    if keep_ledger_dir is not None:
        _reclaim_ledger_dir(keep_ledger_dir)
    ledger_dir = keep_ledger_dir or os.path.join(tmp, "ledger")
    shuffle_dir = os.path.join(tmp, "shuffle_ledger")
    spools = [os.path.join(tmp, "spool"), os.path.join(tmp, "after_restart")]
    try:
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        # one id-scan agg serves the spool cuts and the single writer's
        # shard bound. The spool gets its own subdir: a partitioned keeper
        # store must not share a root with the FileStreamSource's scan
        lo, hi = _doc_id_bounds(spark, sf_dir)
        if roundrobin:
            spool_roundrobin_batches(docs, "doc_id", spools[0])
        else:
            spool_ordered_batches(docs, "doc_id", spools[0], bounds=(lo, hi))
        if resume:
            os.makedirs(spools[1])
            for f in sorted(glob.glob(os.path.join(spools[0], "batch_*")))[2:]:
                shutil.move(f, spools[1])
        survivors = survivors_in(tmp) if survivors_in is not None else None
        for spool_dir in spools[: 2 if resume else 1]:
            carry = _ledger_carry(spark, ledger_dir)
            # ranged parts keep the per-batch max id, which the oracles'
            # part replays; shards are offset-invariant, so any bound works
            bound = None if "part" in keys else hi
            trigger = _pack_batch(ledger_dir, carry, keys, count(), bound, survivors)
            if assign:
                trigger = _assign_seqs(spark, trigger, carry, shuffle_dir)
            stream = _stream_docs_from_spool(spark, spool_dir)
            run_foreach_batch(stream, trigger, output_mode="append")
        if assign:
            out = _run_order_from_ledgers(spark, ledger_dir, shuffle_dir)
        else:
            led = _ledger_or_none(spark, ledger_dir)
            if led is None:  # nothing packed: total, not AnalysisException
                led = spark.createDataFrame([], _LEDGER_SCHEMA)
            out = led.selectExpr(*cols)
        if keep_ledger_dir is not None:
            return out
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_LEDGER_SCHEMA = (
    "doc_id bigint, n_tokens bigint, start_offset bigint, first_seq bigint,"
    " last_seq bigint, part bigint, part_range_start bigint, batch bigint"
)


def _ledger_carry(spark: SparkSession, ledger_dir: str) -> dict:
    """A packer run's starting state, read from the ledger it appends to:
    the next token offset (sum of n_tokens, exactly the tokens already
    laid out) and the next batch (max(batch) + 1). A missing or empty
    ledger starts from zero without running a job. At scale each is a
    map-side aggregate (parquet footer statistics make it metadata-only)."""
    led = _ledger_or_none(spark, ledger_dir)
    if led is None:
        return {"offset": 0, "batch": 0}
    row = led.agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0)),
        F.coalesce(F.max("batch") + 1, F.lit(0)),
    ).first()
    return {"offset": int(row[0]), "batch": int(row[1])}


def _pack_batch(
    ledger_dir: str,
    carry: dict,
    keys: "tuple[str, ...]",
    count: Column,
    hi: "int | None" = None,
    survivors: "Callable[[DataFrame], DataFrame] | None" = None,
):
    """The at-ingest packer's per-trigger body: key the batch's rows
    (those ``survivors`` keeps, if given) with ``count`` as n_tokens,
    lay them out with _pack_core from the carried offset, stamp every
    row with the carried batch, and append them to the parquet ledger.
    The ONLY cross-trigger state is that scalar pair. ``hi`` is an
    upper bound on every batch's max doc_id; a single writer shards
    from it, so no trigger runs a max-id job. That is safe because
    offsets do not depend on the shard size (the ledger carries no
    shard), and bound >= batch max keeps <= PACK_MAX_SHARDS shards."""

    def pack(bdf: DataFrame, _epoch_id: int) -> None:
        # Cache the narrow (doc_id, keys, n_tokens) rows, not the payload:
        # the tokenizer runs once per trigger although both cumsum stages
        # read them. bdf is cached too, since a ranged batch's max and
        # its rows are separate reads of it. try/finally: an exception
        # mid-trigger must not leak the cached frames for the session.
        bdf = bdf.persist()
        toks = None
        try:
            rows = bdf if survivors is None else survivors(bdf)
            toks = _keyed(
                rows.select("doc_id", count.alias("n_tokens")), keys, hi
            ).persist()
            # the running total rides the write as an observed metric
            # (the key join drops no row), so it costs no extra job
            obs = Observation()
            (
                _pack_core(toks, keys, carry["offset"])
                .withColumn("batch", F.lit(carry["batch"]).cast("bigint"))
                .observe(obs, F.sum("n_tokens").alias("total"))
                .write.mode("append")
                .parquet(ledger_dir)
            )
            carry["offset"] += int(obs.get["total"] or 0)
            carry["batch"] += 1
        finally:
            if toks is not None:
                toks.unpersist()
            bdf.unpersist()

    return pack


def _assign_seqs(spark: SparkSession, pack, carry: dict, shuffle_dir: str):
    """The run order's assign step after each pack: every training
    sequence the trigger brings into existence (seq ids [next,
    (offset - 1) DIV 2048]; the carried offset already knows them, no
    history scan) gets its shuffle assignment appended to the shuffle
    ledger, exactly once. The next-unassigned pointer is read from that
    ledger at run start (max(seq_id) + 1): it is the recovery state
    that keeps a restarted run from assigning a sequence twice."""
    shl = _ledger_or_none(spark, shuffle_dir)
    nxt = 0
    if shl is not None:
        nxt = shl.agg(F.coalesce(F.max("seq_id") + 1, F.lit(0))).first()[0]
    state = {"next": int(nxt)}

    def pack_and_assign(bdf: DataFrame, epoch_id: int) -> None:
        pack(bdf, epoch_id)
        last = (carry["offset"] - 1) // SEQ_LEN
        if last >= state["next"]:
            new_seqs = spark.range(state["next"], last + 1).select(
                F.col("id").cast("bigint").alias("seq_id")
            )
            _shuffle_keys(new_seqs).write.mode("append").parquet(shuffle_dir)
            state["next"] = last + 1

    return pack_and_assign


def _doc_id_bounds(spark: SparkSession, sf_dir: str) -> "tuple[int, int]":
    """Exact (min, max) doc_id of the documents fixture, from a narrow
    id-column scan — one cheap job that serves BOTH the spool's batch
    cuts (spool bounds=, killing the text persist + second pass) and the
    packer's shard bound (killing the per-trigger max-id agg)."""
    row = (
        table(spark, sf_dir, "documents")
        .select("doc_id")
        .agg(F.min("doc_id"), F.max("doc_id"))
        .first()
    )
    return row[0], row[1]


def _stream_docs_from_spool(spark: SparkSession, spool_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .option("pathGlobFilter", "batch_*.parquet")
        .parquet(spool_dir)
    ).repartition(par)


def _seq_manifest_oracle(pack: "str | None" = None) -> str:
    """Compose a packer's oracle verbatim (capstone convention), then
    invert it: one row per 2048-token training sequence with the docs
    that fill it. ``pack`` defaults to the batch packer; the unordered
    chain passes the arrival-defined packer's oracle instead — the
    manifest derivation itself is layout-agnostic."""
    from spark_streaming_twitter_spark.registry import QUERIES

    if pack is None:
        pack = QUERIES["pack_training_sequences"].oracle
    return f"""
WITH pk AS ({pack}),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM pk),
spans AS (
  SELECT doc_id, unnest(generate_series(first_seq, last_seq)) AS seq_id
  FROM pk WHERE n_tokens > 0
)
SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       CAST(LEAST({SEQ_LEN}, total - seq_id * {SEQ_LEN}) AS BIGINT)
         AS n_tokens_filled
FROM spans CROSS JOIN tot
GROUP BY seq_id, total
"""


@query(
    "training_sequence_manifest",
    oracle=_seq_manifest_oracle(),
    doc="The PROVENANCE INVERSE of sequence packing — per 2048-token "
    "training sequence, which documents fill it (count, first/last doc "
    "id) and its token fill (2048 everywhere except the ragged tail). "
    "This is the lookup a training-time data-attribution or "
    "contamination-audit question needs ('which docs were in the "
    "sequence at step N?') and the packer's per-doc ledger answers only "
    "in the wrong direction. Row-local derivation: explode each doc's "
    "[first_seq, last_seq] span (bounded by n_tokens/2048 + 2 rows per "
    "doc) and aggregate by sequence — no joins beyond a broadcast "
    "1-row total; zero-token docs occupy no tokens and are excluded. "
    "The packer's oracle is composed verbatim, so the manifest can "
    "never drift from the layout.",
)
def training_sequence_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return manifest_from_layout(pack_training_sequences(spark, sf_dir))


def manifest_from_layout(pk: DataFrame) -> DataFrame:
    """Manifest derivation over ANY packer ledger/layout with columns
    (doc_id, n_tokens, start_offset, first_seq, last_seq) — the batch
    packer's frame or a landed streaming ledger read back (the
    attention_spans_from_layout pattern)."""
    tot = pk.agg(F.sum("n_tokens").cast("bigint").alias("total"))
    return (
        pk.where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("first_seq"), F.col("last_seq"))
            ).alias("seq_id"),
        )
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "seq_id",
            "n_docs",
            "first_doc",
            "last_doc",
            F.least(
                F.lit(SEQ_LEN).cast("bigint"),
                F.col("total") - F.col("seq_id") * F.lit(SEQ_LEN),
            ).alias("n_tokens_filled"),
        )
    )


def _training_datasheet_oracle() -> str:
    """Compose the manifest oracle verbatim and reduce it to the card."""
    from spark_streaming_twitter_spark.registry import QUERIES

    mf = QUERIES["training_sequence_manifest"].oracle
    return f"""
WITH mf AS ({mf})
SELECT CAST(count(*) AS BIGINT) AS n_seqs,
       CAST(sum(n_tokens_filled) AS BIGINT) AS total_tokens,
       CAST(sum(n_docs) AS BIGINT) AS total_doc_spans,
       CAST(count(*) FILTER (WHERE n_tokens_filled = {SEQ_LEN}) AS BIGINT)
         AS n_full_seqs,
       CAST(max(n_docs) AS BIGINT) AS max_docs_per_seq,
       CAST(sum(n_docs) AS DOUBLE) / count(*) AS mean_docs_per_seq
FROM mf
"""


@query(
    "training_datasheet",
    oracle=_training_datasheet_oracle(),
    doc="The PACKED dataset's card — corpus_datasheet's companion on the "
    "training side: one summary row over the sequence manifest with the "
    "numbers a training-data release documents — sequence count, total "
    "tokens, doc-span count, how many sequences are full 2048-token "
    "blocks (all but the ragged tail, by construction of "
    "concat-and-slice), and the docs-per-sequence profile (max and "
    "mean; the mean is one count/count double division, deterministic). "
    "One bounded aggregate over the manifest, whose oracle is composed "
    "verbatim.",
)
def training_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    mf = training_sequence_manifest(spark, sf_dir)
    return mf.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
        F.sum("n_tokens_filled").cast("bigint").alias("total_tokens"),
        F.sum("n_docs").cast("bigint").alias("total_doc_spans"),
        F.count(F.when(F.col("n_tokens_filled") == SEQ_LEN, F.lit(1)))
        .cast("bigint")
        .alias("n_full_seqs"),
        F.max("n_docs").cast("bigint").alias("max_docs_per_seq"),
        (
            F.sum("n_docs").cast("double") / F.count(F.lit(1))
        ).alias("mean_docs_per_seq"),
    )


@query(
    "pack_training_sequences_ranged",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
mx AS (SELECT max(doc_id) AS m FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         doc_id // greatest({PACK_PART_MIN}, m // {PACK_MAX_PARTS} + 1)
           AS part,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS start_offset
  FROM toks CROSS JOIN mx
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // 2048 AS first_seq,
       CASE WHEN n_tokens = 0 THEN start_offset // 2048
            ELSE (start_offset + n_tokens - 1) // 2048 END AS last_seq,
       CAST(part AS BIGINT) AS part,
       CAST(min(start_offset) OVER (PARTITION BY part) AS BIGINT)
         AS part_range_start
FROM c
""",
    doc="MULTI-WRITER sequence packing — the production shape the "
    "streaming packer's docstring promises ('a coordinator hands out "
    "ranges, workers fill them'), demonstrated: documents are cut into "
    "contiguous-id WRITER PARTITIONS (part = doc_id DIV part_span, "
    "part_span adaptive like the shard size so the coordinator table "
    "is provably <= 10^4 parts at any corpus size). The COORDINATOR "
    "step is one cumsum over the (part, shard) token totals, ordered "
    "by part then shard — at most #parts + #shards rows, since both "
    "cut the same id axis; the only global synchronization, and the "
    "only thing a real multi-writer ingest serializes — and a part's "
    "handed-out range starts at its first shard's start "
    "(min(shard_start) over the part, on the same small table). Each "
    "partition's doc rows are then laid out by per-(part, shard) "
    "windows, seeing nothing but its own rows plus one scalar start "
    "per shard. Concatenating the per-part layouts in "
    "part order tiles the global offset space with no gaps or "
    "overlaps (invariant-tested) and reproduces pack_training_"
    "sequences' concat-and-slice layout bitwise; the output adds the "
    "(part, part_range_start) columns so the range handoff itself is "
    "oracle-checked. At 100 TB: parts are the write tasks, the "
    "coordinator is a cumsum over a table of at most #parts + #shards "
    "rows, and no doc-row window ever spans more than one partition's "
    "rows.",
)
def pack_training_sequences_ranged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    toks = docs.select("doc_id", _text_tokens().alias("n_tokens"))
    return _pack_core(_keyed(toks, RANGED), RANGED)


def _datasheet_oracle() -> str:
    """Compose the quality oracle verbatim for the per-source card."""
    from spark_streaming_twitter_spark.functions.numeric import davg_sql
    from spark_streaming_twitter_spark.registry import QUERIES

    q = QUERIES["doc_quality_scores"].oracle
    return rf"""
WITH q AS ({q}),
t AS (
  SELECT d.doc_id, d.source, d.lang,
         CAST(len(list_filter(string_split_regex(d.text, '\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens,
         {portable_hash_sql("d.text")} AS h
  FROM documents d
),
g AS (SELECT source, h, count(*) AS cnt FROM t GROUP BY 1, 2),
dup AS (
  SELECT source, CAST(sum(cnt - 1) AS BIGINT) AS n_exact_dup_docs
  FROM g WHERE cnt > 1 GROUP BY 1
),
agg AS (
  SELECT t.source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT t.lang) AS BIGINT) AS n_langs,
         CAST(sum(t.n_tokens) AS BIGINT) AS n_tokens,
         {davg_sql("q.quality")} AS mean_quality,
         CAST(count(*) FILTER (WHERE t.n_tokens < 10) AS BIGINT)
           AS n_short_docs
  FROM t JOIN q ON q.doc_id = t.doc_id
  GROUP BY 1
)
SELECT a.source, a.n_docs, a.n_langs, a.n_tokens, a.mean_quality,
       a.n_short_docs,
       CAST(coalesce(d.n_exact_dup_docs, 0) AS BIGINT) AS n_exact_dup_docs
FROM agg a LEFT JOIN dup d ON a.source = d.source
"""


@query(
    "corpus_datasheet",
    oracle=_datasheet_oracle(),
    doc="The DATASET CARD ('datasheets for datasets'): one row per "
    "source with the numbers a dataset release documents — doc and "
    "token counts, language count, mean quality score (exact-decimal "
    "sum, functions/numeric.py, so the double is bitwise on both "
    "engines), short-doc count, and exact-duplicate count (portable "
    "text-hash groups within the source, sum of group sizes minus "
    "one). Scale shape: everything keys on source (bounded "
    "cardinality) — the quality score is per-row, the dup groups "
    "combine map-side on (source, hash), and the final table is "
    "#sources rows. Composes doc_quality_scores' oracle verbatim.",
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.functions.numeric import davg
    from spark_streaming_twitter_spark.text.analysis import (
        quality_projection,
    )

    docs = widen(
        table(spark, sf_dir, "documents").select(
            "doc_id", "text", "n_chars", "source", "lang"
        ),
        spark,
    )
    qp = quality_projection(
        docs.select("doc_id", "text", "n_chars")
    ).select("doc_id", "quality")
    t = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        portable_hash(F.col("text")).alias("h"),
    )
    dup = (
        t.groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .groupBy("source")
        .agg((F.sum(F.col("cnt") - 1)).cast("bigint").alias("dups"))
    )
    agg = (
        t.join(qp, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            davg("quality").alias("mean_quality"),
            F.count(F.when(F.col("n_tokens") < 10, F.lit(1)))
            .cast("bigint")
            .alias("n_short_docs"),
        )
    )
    return agg.join(F.broadcast(dup), "source", "left").select(
        "source",
        "n_docs",
        "n_langs",
        "n_tokens",
        "mean_quality",
        "n_short_docs",
        F.coalesce(F.col("dups"), F.lit(0)).cast("bigint").alias(
            "n_exact_dup_docs"
        ),
    )


def _attention_spans_oracle() -> str:
    """Compose the packer's oracle verbatim, then project each doc's token
    span INSIDE every sequence it touches."""
    from spark_streaming_twitter_spark.registry import QUERIES

    pack = QUERIES["pack_training_sequences"].oracle
    return f"""
WITH pk AS ({pack}),
spans AS (
  SELECT doc_id, n_tokens, start_offset,
         unnest(generate_series(first_seq, last_seq)) AS seq_id
  FROM pk WHERE n_tokens > 0
)
SELECT seq_id, doc_id,
       CAST(greatest(0, start_offset - seq_id * {SEQ_LEN}) AS BIGINT)
         AS begin_tok,
       CAST(least({SEQ_LEN}, start_offset + n_tokens - seq_id * {SEQ_LEN})
            AS BIGINT) AS end_tok,
       CAST(least({SEQ_LEN}, start_offset + n_tokens - seq_id * {SEQ_LEN})
            - greatest(0, start_offset - seq_id * {SEQ_LEN}) AS BIGINT)
         AS n_span_tokens
FROM spans
"""


@query(
    "training_attention_spans",
    oracle=_attention_spans_oracle(),
    doc="Per-(sequence, document) TOKEN SPANS for packed training "
    "sequences — the block-diagonal attention-mask / loss-mask input a "
    "trainer needs when sequences are packed (attention must not cross "
    "document boundaries, so the data pipeline has to ship each doc's "
    "[begin, end) offsets inside every 2048-token sequence it occupies). "
    "training_sequence_manifest answers 'which docs are in sequence N'; "
    "this answers 'exactly which token positions belong to each doc'. "
    "Purely row-local above the packer: explode each doc's "
    "[first_seq, last_seq] span and clamp the global offsets into "
    "sequence-local coordinates — zero joins, zero extra shuffles at any "
    "scale. The packer's oracle is composed verbatim so the spans can "
    "never drift from the layout; by construction the spans of a "
    "sequence tile [0, n_tokens_filled) with no gaps or overlaps "
    "(invariant-tested against the manifest).",
)
def training_attention_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attention_spans_from_layout(pack_training_sequences(spark, sf_dir))


def attention_spans_from_layout(layout: DataFrame) -> DataFrame:
    """Span derivation over ANY packer ledger/layout with columns
    (doc_id, n_tokens, start_offset, first_seq, last_seq) — the ordered,
    ranged, resumed, and UNORDERED packers all emit this shape, and the
    derivation is layout-order-agnostic (it reads only each row's own
    offsets), so the mask input works for arrival-defined layouts too
    (pinned by tests/test_self_dedup_invariants.py's unordered-ledger
    span test)."""
    spans = layout.where(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.explode(F.sequence(F.col("first_seq"), F.col("last_seq"))).alias(
            "seq_id"
        ),
    )
    begin = F.greatest(
        F.lit(0).cast("bigint"),
        F.col("start_offset") - F.col("seq_id") * F.lit(SEQ_LEN),
    )
    end = F.least(
        F.lit(SEQ_LEN).cast("bigint"),
        F.col("start_offset")
        + F.col("n_tokens")
        - F.col("seq_id") * F.lit(SEQ_LEN),
    )
    return spans.select(
        "seq_id",
        "doc_id",
        begin.alias("begin_tok"),
        end.alias("end_tok"),
        (end - begin).alias("n_span_tokens"),
    )


SHUFFLE_EPOCHS = 2  # epochs demonstrated by training_epoch_shuffle
SHUFFLE_READERS = 4  # data-loader reader shards
_SHUFFLE_SUB_BITS = 8  # 2^8 range sub-shards per reader for the sharded rank


def _epoch_shuffle_oracle() -> str:
    """Compose the manifest oracle verbatim (the sequence universe), then
    the deterministic shuffle: hash-keyed order, hash-mod reader shard."""
    from spark_streaming_twitter_spark.registry import QUERIES

    manifest = QUERIES["training_sequence_manifest"].oracle
    key = portable_hash_sql(
        "CAST(epoch AS VARCHAR) || ':' || CAST(seq_id AS VARCHAR)"
    )
    epochs = ", ".join(
        f"CAST({i} AS BIGINT)" for i in range(SHUFFLE_EPOCHS)
    )
    return f"""
WITH mf AS ({manifest}),
e AS (SELECT seq_id, unnest([{epochs}]) AS epoch FROM mf),
k AS (SELECT epoch, seq_id, {key} AS order_key FROM e)
SELECT epoch,
       CAST(order_key % {SHUFFLE_READERS} AS BIGINT) AS reader,
       CAST(row_number() OVER (
              PARTITION BY epoch, order_key % {SHUFFLE_READERS}
              ORDER BY order_key, seq_id) AS BIGINT) AS position,
       seq_id, order_key
FROM k
"""


@query(
    "training_epoch_shuffle",
    oracle=_epoch_shuffle_oracle(),
    doc="Deterministic PER-EPOCH shuffle + reader sharding of the packed "
    "training sequences — the data-loader order. Each (epoch, sequence) "
    "gets a portable hash key; the key mod R picks the reader shard and "
    "the within-shard sort position is the read order. Deterministic "
    "(any worker can recompute any reader's order for resume-from-step), "
    "epoch-varying (the epoch is hashed into the key, so no two epochs "
    "share an order), and coordination-free. Scale shape: the "
    "within-reader rank is SHARDED two-stage (the packer's pattern), "
    "never one window per reader — the uniform 60-bit order_key is "
    "RANGE-sub-sharded by its high bits (order-preserving, so ranks "
    "compose by prefix counts; equal keys share a sub-shard, keeping "
    "the seq_id tie-break window-local), stage-1 row_numbers run per "
    "(epoch, reader, sub-shard) in parallel, and stage-2 is a cumsum "
    "over the bounded E x R x 2^{_SHUFFLE_SUB_BITS} count table. No "
    "global sort, no driver-side permutation, no single-task reader "
    "stream at any corpus size (sub-shard bits are the parallelism "
    "knob; production R is the loader's worker count, thousands). "
    "Composes training_sequence_manifest verbatim as the sequence "
    "universe.",
)
def training_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    mf = training_sequence_manifest(spark, sf_dir).select("seq_id")
    return _rank_positions(_shuffle_keys(mf))


def _shuffle_keys(mf: DataFrame) -> DataFrame:
    """(epoch, seq_id, order_key, reader, sub) for every epoch x sequence
    — the PURE-FUNCTION half of the shuffle: no window, no shuffle, just
    a hash projection, so ANY worker can recompute any row from the
    manifest alone (the property resume-from-step rests on)."""
    e = mf.select(
        "seq_id",
        F.explode(
            F.array([F.lit(i) for i in range(SHUFFLE_EPOCHS)])
        ).alias("epoch_i"),
    ).select("seq_id", F.col("epoch_i").cast("bigint").alias("epoch"))
    return e.select(
        "epoch",
        "seq_id",
        portable_hash(
            F.concat(
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("seq_id").cast("string"),
            )
        ).alias("order_key"),
    ).withColumn(
        "reader",
        F.pmod(F.col("order_key"), F.lit(SHUFFLE_READERS)).cast("bigint"),
    ).withColumn(
        # range sub-shard on the key's high bits: order-preserving within
        # a reader (sub asc == order_key asc across sub-shards), uniform
        # by construction (the key is a 60-bit hash)
        "sub",
        F.expr(f"order_key DIV {1 << (60 - _SHUFFLE_SUB_BITS)}"),
    )


def _rank_positions(k: DataFrame) -> DataFrame:
    """The STATEFUL half: within-reader read position via the sharded
    two-stage rank (stage-1 row_number per (epoch, reader, sub-shard),
    stage-2 prefix over the bounded count table). Works identically on
    the full key set or any (epoch, reader) slice of it — positions are
    per-(epoch, reader) by construction, so ranking a single reader's
    slice yields exactly that reader's positions from the full run."""
    w_in = Window.partitionBy("epoch", "reader", "sub").orderBy(
        "order_key", "seq_id"
    )
    ranked = k.withColumn("rn", F.row_number().over(w_in))
    sub_tot = k.groupBy("epoch", "reader", "sub").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_sub = (
        Window.partitionBy("epoch", "reader")
        .orderBy("sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sub_pre = sub_tot.select(
        "epoch",
        "reader",
        "sub",
        F.coalesce(F.sum("cnt").over(w_sub), F.lit(0)).alias("prefix"),
    )
    return ranked.join(F.broadcast(sub_pre), ["epoch", "reader", "sub"]).select(
        "epoch",
        "reader",
        (F.col("prefix") + F.col("rn")).cast("bigint").alias("position"),
        "seq_id",
        "order_key",
    )


def _run_order_from_ledgers(
    spark: SparkSession, ledger_dir: str, shuffle_dir: str
) -> DataFrame:
    """Read position rank + provenance join over the LANDED ledgers —
    the epoch-start step shared by the streaming run-order chains.
    Total on empty ledgers: a run that packed zero docs /
    assigned zero sequences yields an empty run order, not an
    AnalysisException from reading a never-created directory."""
    led = _ledger_or_none(spark, ledger_dir)
    shl = _ledger_or_none(spark, shuffle_dir)
    if led is None or shl is None:
        return spark.createDataFrame(
            [],
            "epoch bigint, reader bigint, position bigint, seq_id bigint,"
            " n_docs bigint, first_doc bigint, last_doc bigint,"
            " n_tokens_filled bigint",
        )
    ranked = _rank_positions(shl)
    mf = manifest_from_layout(
        led.select(
            "doc_id", "n_tokens", "start_offset", "first_seq", "last_seq"
        )
    )
    return ranked.join(mf, "seq_id").select(
        "epoch",
        "reader",
        "position",
        "seq_id",
        "n_docs",
        "first_doc",
        "last_doc",
        "n_tokens_filled",
    )


def _run_order_oracle() -> str:
    """Compose the epoch-shuffle and manifest oracles verbatim (capstone
    convention) and join them on seq_id."""
    from spark_streaming_twitter_spark.registry import QUERIES

    sh = QUERIES["training_epoch_shuffle"].oracle
    mf = QUERIES["training_sequence_manifest"].oracle
    return f"""
WITH sh AS ({sh}),
mf AS ({mf})
SELECT sh.epoch, sh.reader, sh.position, sh.seq_id,
       mf.n_docs, mf.first_doc, mf.last_doc, mf.n_tokens_filled
FROM sh JOIN mf USING (seq_id)
"""


@query(
    "training_run_order",
    oracle=_run_order_oracle(),
    doc="CAPSTONE of the training-data story: the exact stream a "
    "trainer's reader consumes — per (epoch, reader, position), the "
    "packed sequence it reads next with its provenance (how many docs "
    "fill it, their id range, the token fill). Composes "
    "training_epoch_shuffle and training_sequence_manifest, both stage "
    "oracles verbatim, joined 1:1 on seq_id — the answer to 'what did "
    "the model see at step N of epoch E on reader R, and where did it "
    "come from?' in one query over nothing but the raw documents "
    "table. The join is fact-fact on seq_id (both sides corpus-"
    "proportional) and legitimately shuffles once; everything below it "
    "reuses the already-audited packer/manifest/shuffle plans.",
)
def training_run_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    order = training_epoch_shuffle(spark, sf_dir)
    mf = training_sequence_manifest(spark, sf_dir)
    return order.join(mf, "seq_id").select(
        "epoch",
        "reader",
        "position",
        "seq_id",
        "n_docs",
        "first_doc",
        "last_doc",
        "n_tokens_filled",
    )


RESUME_EPOCH = 1  # the checkpoint a mid-run worker restarts from
RESUME_READER = 2


def _run_order_resumed_oracle() -> str:
    """The UNINTERRUPTED run-order oracle composed verbatim, sliced to
    the checkpoint reader's suffix — so the resumed stream is pinned
    equal to what the reader would have consumed had it never died."""
    from spark_streaming_twitter_spark.registry import QUERIES

    full = QUERIES["training_run_order"].oracle
    return f"""
WITH fullorder AS ({full}),
mine AS (
  SELECT * FROM fullorder
  WHERE epoch = {RESUME_EPOCH} AND reader = {RESUME_READER}
),
ckpt AS (SELECT CAST(count(*) // 2 AS BIGINT) AS p FROM mine)
SELECT epoch, reader, position, seq_id,
       n_docs, first_doc, last_doc, n_tokens_filled
FROM mine CROSS JOIN ckpt
WHERE position > p
"""


@query(
    "training_run_order_resumed",
    oracle=_run_order_resumed_oracle(),
    doc="RESUME-FROM-STEP, demonstrated: a worker "
    "that died mid-epoch recomputes reader R's remaining stream from "
    "checkpoint position p — here epoch 1, reader 2, p = the midpoint "
    "of that reader's stream (data-derived so the demo scales) — "
    "WITHOUT any saved shuffle state: the order key is a pure hash of "
    "(epoch, seq_id), so the keys are re-projected from the manifest, "
    "FILTERED to the one reader BEFORE any ranking work (the filter "
    "is on pmod(key, R) — a projection predicate, so the recompute "
    "prices at O(corpus/R) rows through one reader-local sharded "
    "rank, never the full shuffle), re-ranked, and sliced at p. The "
    "oracle composes the uninterrupted training_run_order verbatim "
    "and takes the same suffix — bitwise equality with the stream the "
    "reader would have consumed had it never died is exactly what the "
    "gate checks. The packer proved the WRITE side's crash story "
    "(ledger resume); this is the READ side's.",
)
def training_run_order_resumed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    mf = training_sequence_manifest(spark, sf_dir)
    mine = _shuffle_keys(mf.select("seq_id")).where(
        (F.col("epoch") == RESUME_EPOCH)
        & (F.col("reader") == RESUME_READER)
    )
    ranked = _rank_positions(mine)
    ckpt = ranked.agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("p")
    )
    return (
        ranked.crossJoin(F.broadcast(ckpt))
        .where(F.col("position") > F.col("p"))
        .join(mf, "seq_id")
        .select(
            "epoch",
            "reader",
            "position",
            "seq_id",
            "n_docs",
            "first_doc",
            "last_doc",
            "n_tokens_filled",
        )
    )


@query(
    "stream_training_run_order",
    oracle=_run_order_oracle(),
    doc="The training chain goes STREAMING past the packer: "
    "in the SAME foreachBatch pass that packs each "
    "micro-batch, every training sequence the batch brings into "
    "existence (seq ids [emitted, (offset_after-1) DIV 2048] — the "
    "carried offset already knows them, no history scan) gets its "
    "shuffle ASSIGNMENT — (epoch, order_key, reader, sub), a pure "
    "hash projection over a distributed range, stateless per trigger "
    "— appended to a second ledger beside the doc ledger. Each seq "
    "is assigned exactly once, the trigger it first exists. READ "
    "positions are then one sharded rank over the landed assignment "
    "ledger at epoch start — deliberately NOT per-trigger: a read "
    "position is only meaningful once the epoch's sequence universe "
    "is closed, and ranking earlier would re-rank every trigger for "
    "no consumer. Provenance joins the doc ledger's manifest "
    "(manifest_from_layout — the span/aggregate derivation, layout-"
    "agnostic). Oracle: the BATCH training_run_order's composed "
    "oracle verbatim — on the ordered spool the streaming chain must "
    "reproduce the batch chain bitwise, which re-verifies packer "
    "offsets, sequence discovery, hash assignment, and rank through "
    "one another.",
)
def stream_training_run_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir, assign=True)


def _blast_radius_oracle() -> str:
    """Compose the decontaminator, attention-span, and epoch-shuffle
    oracles verbatim (capstone convention)."""
    import spark_streaming_twitter_spark.dedup.dedup  # noqa: F401
    from spark_streaming_twitter_spark.registry import QUERIES

    decon = QUERIES["dedup_decontaminate"].oracle
    spans = QUERIES["training_attention_spans"].oracle
    sh = QUERIES["training_epoch_shuffle"].oracle
    return f"""
WITH decon AS ({decon}),
spans AS ({spans}),
sh AS ({sh})
SELECT s.doc_id, s.seq_id, o.epoch, o.reader, o.position, s.n_span_tokens
FROM spans s
JOIN decon d ON s.doc_id = d.doc_id AND d.is_contaminated
JOIN sh o ON o.seq_id = s.seq_id
"""


@query(
    "contamination_blast_radius",
    oracle=_blast_radius_oracle(),
    doc="POST-HOC contamination audit — the question every training run "
    "eventually asks: 'we trained, and THEN discovered benchmark "
    "contamination; exactly which training steps consumed the "
    "contaminated tokens?' Per (contaminated doc, sequence, epoch): the "
    "reader and step position that read it and how many of its tokens "
    "the sequence carries — the blast radius a checkpoint-rollback or "
    "eval-invalidation decision needs. Composes dedup_decontaminate "
    "(the flagged docs), training_attention_spans (doc -> sequences + "
    "token spans), and training_epoch_shuffle (sequence -> read steps), "
    "all three stage oracles verbatim. Scale shape: the flagged set is "
    "small BY THE DECONTAMINATION PREMISE (a benchmark overlap is rare), "
    "so it broadcasts against the span table, and the surviving flagged "
    "spans broadcast against the run order — the corpus-proportional "
    "order table is scanned once and never shuffled; the audit costs "
    "two broadcasts and one scan.",
)
def contamination_blast_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.dedup.dedup import dedup_decontaminate

    flagged = (
        dedup_decontaminate(spark, sf_dir)
        .where(F.col("is_contaminated"))
        .select("doc_id")
    )
    spans = training_attention_spans(spark, sf_dir)
    flagged_spans = spans.join(F.broadcast(flagged), "doc_id").select(
        "doc_id", "seq_id", "n_span_tokens"
    )
    order = training_epoch_shuffle(spark, sf_dir)
    return order.join(F.broadcast(flagged_spans), "seq_id").select(
        "doc_id",
        "seq_id",
        "epoch",
        "reader",
        "position",
        "n_span_tokens",
    )


def _optout_oracle() -> str:
    """Compose the packer's oracle verbatim twice: once over the full
    corpus, once REBOUND to the kept slice (a deterministic textual
    rebind of its FROM documents — asserted present — which is the only
    way to reuse the layout spec verbatim over a filtered corpus)."""
    from spark_streaming_twitter_spark.registry import QUERIES

    pack = QUERIES["pack_training_sequences"].oracle
    assert "FROM documents" in pack
    pack_kept = pack.replace("FROM documents", "FROM documents_kept")
    return f"""
WITH optout AS (SELECT min(source) AS src FROM documents),
documents_kept AS (
  SELECT d.* FROM documents d CROSS JOIN optout WHERE d.source <> src
),
pk_old AS ({pack}),
pk_new AS ({pack_kept}),
dropped AS (
  SELECT o.* FROM pk_old o JOIN documents d ON o.doc_id = d.doc_id
  CROSS JOIN optout WHERE d.source = src
),
inval AS (
  SELECT count(DISTINCT seq_id) AS n_seqs_invalidated
  FROM (SELECT unnest(generate_series(first_seq, last_seq)) AS seq_id
        FROM dropped WHERE n_tokens > 0)
),
shifted AS (
  SELECT count(*) AS n_docs_shifted
  FROM pk_old o JOIN pk_new n ON o.doc_id = n.doc_id
  WHERE o.start_offset <> n.start_offset
)
SELECT (SELECT src FROM optout) AS src,
       CAST((SELECT count(*) FROM dropped) AS BIGINT) AS n_docs_dropped,
       CAST((SELECT coalesce(sum(n_tokens), 0) FROM dropped) AS BIGINT)
         AS n_tokens_dropped,
       CAST((SELECT (sum(n_tokens) + {SEQ_LEN} - 1) // {SEQ_LEN}
             FROM pk_old) AS BIGINT) AS n_seqs_before,
       CAST((SELECT (sum(n_tokens) + {SEQ_LEN} - 1) // {SEQ_LEN}
             FROM pk_new) AS BIGINT) AS n_seqs_after,
       CAST((SELECT n_seqs_invalidated FROM inval) AS BIGINT)
         AS n_seqs_invalidated,
       CAST((SELECT n_docs_shifted FROM shifted) AS BIGINT)
         AS n_docs_shifted
"""


@query(
    "source_optout_repack_delta",
    oracle=_optout_oracle(),
    doc="DATA-ERASURE propagation through the training pipeline — the "
    "right-to-be-forgotten / publisher-opt-out question: when a source "
    "demands removal (here the lexicographically first source stands in "
    "for the opted-out publisher), what is the blast radius on the "
    "packed corpus and the cost of re-packing? One summary row: docs "
    "and tokens dropped, sequence counts before/after, sequences "
    "INVALIDATED (old-layout sequences containing any dropped token — "
    "the ones a trainer must not reuse, via the span explode), and kept "
    "docs whose offsets SHIFT under the re-pack (the incremental-"
    "re-pack cost: everything after the first dropped doc — in "
    "practice the argument for tombstoning over re-packing). The "
    "packer's layout spec is composed verbatim twice, the second time "
    "rebound to the kept slice; both layouts shuffle once on doc_id "
    "for the shift compare and every other term is a bounded "
    "aggregate.",
)
def source_optout_repack_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "text", "source"),
        spark,
    )
    optout = docs.agg(F.min("source").alias("src"))
    tagged = docs.crossJoin(F.broadcast(optout))
    pk_old = _pack_layout(docs.select("doc_id", "text")).join(
        tagged.select("doc_id", (F.col("source") == F.col("src")).alias("is_dropped")),
        "doc_id",
    )
    pk_new = _pack_layout(
        tagged.where(F.col("source") != F.col("src")).select("doc_id", "text")
    )
    dropped = pk_old.where(F.col("is_dropped"))
    inval = (
        dropped.where(F.col("n_tokens") > 0)
        .select(
            F.explode(F.sequence(F.col("first_seq"), F.col("last_seq"))).alias(
                "seq_id"
            )
        )
        .agg(F.countDistinct("seq_id").alias("n_seqs_invalidated"))
    )
    shifted = (
        pk_old.select("doc_id", F.col("start_offset").alias("off_old"))
        .join(pk_new.select("doc_id", F.col("start_offset").alias("off_new")), "doc_id")
        .where(F.col("off_old") != F.col("off_new"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_shifted"))
    )
    drop_stats = dropped.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_dropped"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias(
            "n_tokens_dropped"
        ),
    )
    # integer DIV, never float division: exact at any token total
    seqs_before = pk_old.agg(
        F.expr(f"(sum(n_tokens) + {SEQ_LEN - 1}) DIV {SEQ_LEN}")
        .cast("bigint")
        .alias("n_seqs_before")
    )
    seqs_after = pk_new.agg(
        F.expr(f"(sum(n_tokens) + {SEQ_LEN - 1}) DIV {SEQ_LEN}")
        .cast("bigint")
        .alias("n_seqs_after")
    )
    return (
        optout.crossJoin(F.broadcast(drop_stats))
        .crossJoin(F.broadcast(seqs_before))
        .crossJoin(F.broadcast(seqs_after))
        .crossJoin(F.broadcast(inval))
        .crossJoin(F.broadcast(shifted))
        .select(
            "src",
            "n_docs_dropped",
            "n_tokens_dropped",
            "n_seqs_before",
            "n_seqs_after",
            "n_seqs_invalidated",
            "n_docs_shifted",
        )
    )


def _tombstone_oracle() -> str:
    """Compose the span oracle verbatim, tag spans by the opted-out
    source, and aggregate per sequence."""
    from spark_streaming_twitter_spark.registry import QUERIES

    spans = QUERIES["training_attention_spans"].oracle
    return f"""
WITH optout AS (SELECT min(source) AS src FROM documents),
sp AS ({spans}),
tagged AS (
  SELECT sp.seq_id, sp.n_span_tokens, (d.source = o.src) AS is_dropped
  FROM sp JOIN documents d ON sp.doc_id = d.doc_id CROSS JOIN optout o
)
SELECT seq_id,
       CAST(count(*) FILTER (WHERE is_dropped) AS BIGINT)
         AS n_tombstoned_spans,
       CAST(coalesce(sum(n_span_tokens) FILTER (WHERE is_dropped), 0)
            AS BIGINT) AS n_tombstoned_tokens,
       CAST(coalesce(sum(n_span_tokens) FILTER (WHERE NOT is_dropped), 0)
            AS BIGINT) AS n_live_tokens
FROM tagged
GROUP BY seq_id
HAVING count(*) FILTER (WHERE is_dropped) > 0
"""


@query(
    "source_optout_tombstone_masks",
    oracle=_tombstone_oracle(),
    doc="The TOMBSTONE alternative the re-pack delta argues for: instead "
    "of re-packing the corpus after an opt-out (shifting every "
    "downstream offset), keep the layout and LOSS-MASK the dropped "
    "spans — per invalidated sequence, how many spans/tokens are "
    "tombstoned and how many live tokens remain (a trainer reuses the "
    "sequence with the dropped spans masked out of the loss; a "
    "sequence whose live count hits zero is skipped outright). "
    "Composes the span oracle verbatim; the doc->source tag is one "
    "join on doc_id and the rest is a per-sequence aggregate — no "
    "layout recomputation, which is precisely the operational point.",
)
def source_optout_tombstone_masks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    optout = docs.agg(F.min("source").alias("src"))
    spans = training_attention_spans(spark, sf_dir)
    tagged = spans.join(docs, "doc_id").crossJoin(F.broadcast(optout)).select(
        "seq_id",
        "n_span_tokens",
        (F.col("source") == F.col("src")).alias("is_dropped"),
    )
    dropped_tok = F.sum(F.when(F.col("is_dropped"), F.col("n_span_tokens")))
    live_tok = F.sum(F.when(~F.col("is_dropped"), F.col("n_span_tokens")))
    return (
        tagged.groupBy("seq_id")
        .agg(
            F.count(F.when(F.col("is_dropped"), F.lit(1)))
            .cast("bigint")
            .alias("n_tombstoned_spans"),
            F.coalesce(dropped_tok, F.lit(0))
            .cast("bigint")
            .alias("n_tombstoned_tokens"),
            F.coalesce(live_tok, F.lit(0)).cast("bigint").alias(
                "n_live_tokens"
            ),
        )
        .where(F.col("n_tombstoned_spans") > 0)
    )


@query(
    "stream_pack_training_sequences_ranged",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
lohi AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
b AS (
  SELECT t.doc_id, t.n_tokens,
         CAST((CASE WHEN t.doc_id > lo + (hi - lo + 1) * 1 // 4
                    THEN 1 ELSE 0 END)
            + (CASE WHEN t.doc_id > lo + (hi - lo + 1) * 2 // 4
                    THEN 1 ELSE 0 END)
            + (CASE WHEN t.doc_id > lo + (hi - lo + 1) * 3 // 4
                    THEN 1 ELSE 0 END) AS BIGINT) AS batch
  FROM toks t CROSS JOIN lohi
),
bm AS (SELECT batch, max(doc_id) AS bmax FROM b GROUP BY batch),
c AS (
  SELECT b.doc_id, b.n_tokens, b.batch,
         b.doc_id // greatest({PACK_PART_MIN},
                              bm.bmax // {PACK_MAX_PARTS} + 1) AS part,
         CAST(sum(b.n_tokens) OVER (ORDER BY b.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - b.n_tokens AS start_offset
  FROM b JOIN bm USING (batch)
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {SEQ_LEN} AS first_seq,
       CASE WHEN n_tokens = 0 THEN start_offset // {SEQ_LEN}
            ELSE (start_offset + n_tokens - 1) // {SEQ_LEN} END AS last_seq,
       batch,
       CAST(part AS BIGINT) AS part,
       CAST(min(start_offset) OVER (PARTITION BY batch, part) AS BIGINT)
         AS part_range_start
FROM c
""",
    doc="MULTI-WRITER packing AT INGEST — the composition of "
    "stream_pack_training_sequences (one carried scalar across triggers) "
    "and pack_training_sequences_ranged (coordinator hands out "
    "per-partition offset ranges; writers pack independently), closing "
    "the production claim end-to-end: per micro-batch, the batch's rows "
    "are cut into contiguous-id writer partitions (part span adaptive "
    "from the batch's max doc_id, provably <= 10^4 parts), the "
    "per-trigger COORDINATOR step is one cumsum over the batch's "
    "(part, shard) token totals (at most #parts + #shards rows) seeded "
    "by the carried running total, each part's range starts at its "
    "first shard's start, and each part's rows are laid out inside "
    "that range (doc-row windows partitioned by (part, shard) — no "
    "window sees another writer's rows). The "
    "output keeps (batch, part, part_range_start) so BOTH handoffs — "
    "cross-trigger scalar and intra-trigger ranges — are oracle-checked: "
    "the oracle replays the ordered spool's id-range batching (cuts at "
    "lo + (hi-lo+1)*q/4, the spool helper's own rule) and derives every "
    "range start as min(start_offset) per (batch, part). Offsets are "
    "bitwise-identical to the batch packer's (invariant-tested): ordered "
    "arrival makes concatenating per-part layouts in (batch, part) order "
    "the global concat-and-slice layout.",
)
def stream_pack_training_sequences_ranged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir, _RANGED_COLS, RANGED)


@query(
    "stream_pack_training_sequences_ranged_persisted",
    oracle=QUERIES["stream_pack_training_sequences_ranged"].oracle,
    doc="The multi-writer (ranged) streaming packer in its PRODUCTION "
    "READ-BACK shape: identical per-trigger "
    "coordinator-cumsum + per-part packing, ledger written to a kept "
    "per-user location (overwrite-at-start with the pre-rmtree "
    "ownership recheck), returned frame IS the parquet-backed ledger "
    "with both handoff columns (batch, part, part_range_start) — no "
    "collect() between streaming finish and the caller. Oracle "
    "verbatim from the lifecycle twin.",
)
def stream_pack_training_sequences_ranged_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    keep = _kept_ledger_dir("pack_ranged_ledger")
    return _pack_stream(spark, sf_dir, _RANGED_COLS, RANGED, keep_ledger_dir=keep)


@query(
    "stream_pack_training_sequences_ranged_unordered",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
b AS (
  SELECT doc_id, n_tokens, CAST(doc_id % 4 AS BIGINT) AS batch
  FROM toks
),
bm AS (SELECT batch, max(doc_id) AS bmax FROM b GROUP BY batch),
c AS (
  SELECT b.doc_id, b.n_tokens, b.batch,
         b.doc_id // greatest({PACK_PART_MIN},
                              bm.bmax // {PACK_MAX_PARTS} + 1) AS part,
         CAST(sum(b.n_tokens) OVER (ORDER BY b.batch, b.doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - b.n_tokens AS start_offset
  FROM b JOIN bm USING (batch)
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {SEQ_LEN} AS first_seq,
       CASE WHEN n_tokens = 0 THEN start_offset // {SEQ_LEN}
            ELSE (start_offset + n_tokens - 1) // {SEQ_LEN} END AS last_seq,
       batch,
       CAST(part AS BIGINT) AS part,
       CAST(min(start_offset) OVER (PARTITION BY batch, part) AS BIGINT)
         AS part_range_start
FROM c
""",
    doc="The FULL production topology in one query: MULTI-WRITER packing "
    "of a DISORDERED stream — Kafka cross-partition disorder (the "
    "round-robin spool) feeding per-trigger coordinator/range packing "
    "(the multi-writer shape: one cumsum over the batch's (part, shard) "
    "token totals hands each part its range). Within a trigger the "
    "writer partitions "
    "are id-contiguous segments OF THAT BATCH'S members (part span "
    "adaptive from the batch's max id), so the within-trigger layout is "
    "still id order and the global layout is arrival order — the oracle "
    "replays batch = doc_id % 4 for the round-robin epochs, derives "
    "parts per batch, and checks every range start as "
    "min(start_offset) per (batch, part). Completes the packer cube: "
    "{single, multi-writer} x {ordered, disordered} x {uninterrupted, "
    "resumed} all share the same per-trigger machinery and differ only "
    "in which handoffs the oracle must replay.",
)
def stream_pack_training_sequences_ranged_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir, _RANGED_COLS, RANGED, roundrobin=True)


def _ranged_resumed_oracle() -> str:
    from spark_streaming_twitter_spark.registry import QUERIES

    return QUERIES["stream_pack_training_sequences_ranged"].oracle


@query(
    "stream_pack_training_sequences_ranged_resumed",
    oracle=_ranged_resumed_oracle(),
    doc="Crash recovery for the MULTI-WRITER packer — the cube's last "
    "cell: the ranged packer's cross-restart state is the same one "
    "scalar as the single-writer's plus the trigger counter, and BOTH "
    "are recoverable from the ledger itself (sum of n_tokens; "
    "max(batch) + 1) — the per-trigger writer ranges need no recovery "
    "at all because they are derived per batch from the carried "
    "scalar. Same drill as the single-writer resume: first half of "
    "the spool, discard the carry, re-seed from the ledger, process "
    "the rest; oracle is the ordered ranged packer's VERBATIM, so the "
    "combined ledger must be bitwise the uninterrupted multi-writer "
    "layout including every (batch, part, part_range_start) handoff.",
)
def stream_pack_training_sequences_ranged_resumed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir, _RANGED_COLS, RANGED, resume=True)


@query(
    "stream_pack_training_sequences_unordered",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id % 4, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS start_offset
  FROM toks
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {SEQ_LEN} AS first_seq,
       CASE WHEN n_tokens = 0 THEN start_offset // {SEQ_LEN}
            ELSE (start_offset + n_tokens - 1) // {SEQ_LEN} END AS last_seq,
       CAST(doc_id % 4 AS BIGINT) AS arrival_epoch
FROM c
""",
    doc="At-ingest packing under Kafka CROSS-PARTITION DISORDER (the "
    "round-robin spool: every micro-batch spans the full id range, so "
    "arrival order disagrees with id order everywhere — the reference "
    "topic guarantees order only within a partition, "
    "TwitterDatasetTrendingHashtag.java:64-72). Packing at ingest is "
    "ARRIVAL-DEFINED, like keeper dedup: the layout is 'concatenate in "
    "the order documents arrived', which is the only layout an online "
    "packer can produce without buffering the corpus — so the machinery "
    "must assume NOTHING about id order, and the oracle replays the "
    "arrival order explicitly (ORDER BY doc_id % 4, doc_id — the "
    "round-robin epochs, then id order within a batch, which is the "
    "within-trigger layout because the shard key is monotone in doc_id). "
    "Mechanics are stream_pack_training_sequences' verbatim — per-batch "
    "sharded two-stage cumsum, one carried scalar — demonstrating that "
    "the SAME code is disorder-safe; only the oracle's notion of 'the "
    "expected layout' changes. The arrival_epoch column pins which "
    "trigger packed each doc. Downstream invariants survive disorder: "
    "offsets still tile [0, total) gap-free (invariant-tested) and the "
    "manifest/attention-span derivations apply unchanged to the ledger.",
)
def stream_pack_training_sequences_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir, _ARRIVAL_COLS, roundrobin=True)


def _stream_pack_resumed_oracle() -> str:
    from spark_streaming_twitter_spark.registry import QUERIES

    return QUERIES["pack_training_sequences"].oracle


@query(
    "stream_pack_training_sequences_resumed",
    oracle=_stream_pack_resumed_oracle(),
    doc="CRASH RECOVERY of the at-ingest packer's offset allocator: the "
    "streaming packer's only cross-trigger state is one scalar (the "
    "running token total), and this query demonstrates it is "
    "RECOVERABLE FROM THE LEDGER ITSELF — no side checkpoint. The "
    "stream runs over the first half of the spool, the driver-held "
    "carry is then DISCARDED (the simulated crash), a fresh run seeds "
    "its carry with one aggregate over the ledger (sum of n_tokens = "
    "exactly the tokens already laid out) and processes the remaining "
    "batches; the combined ledger must be bitwise the uninterrupted "
    "packer's layout, so the oracle is the batch packer's VERBATIM. "
    "At scale the recovery aggregate is a map-side sum over the ledger "
    "(or its footer statistics — parquet column sums make it metadata-"
    "only); production pairing: the ledger append itself is made "
    "idempotent under foreachBatch retry with the epoch-id guard "
    "stream_exactly_once_sink_replay demonstrates, and recovery then "
    "sums only committed epochs.",
)
def stream_pack_training_sequences_resumed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir, resume=True)


def _unordered_resumed_oracle() -> str:
    from spark_streaming_twitter_spark.registry import QUERIES

    return QUERIES["stream_pack_training_sequences_unordered"].oracle


@query(
    "stream_pack_training_sequences_unordered_resumed",
    oracle=_unordered_resumed_oracle(),
    doc="Crash recovery UNDER DISORDER — the most production-real cell "
    "of the packer cube (a Kafka consumer restarting mid-stream while "
    "partitions interleave): the round-robin spool's first two epochs "
    "run, the carry is discarded, recovery re-seeds BOTH scalars from "
    "the ledger (sum of n_tokens; max(arrival_epoch) + 1 — the ledger "
    "read needs no order assumption, a sum and a max are "
    "arrival-order-free), and the remaining epochs run. Oracle is the "
    "unordered packer's VERBATIM: the combined ledger must be bitwise "
    "the uninterrupted arrival-defined layout. With this cell every "
    "corner of {single, multi-writer} x {ordered, disordered} x "
    "{uninterrupted, resumed} is either demonstrated directly or "
    "differs from a demonstrated cell only by which spool feeds it.",
)
def stream_pack_training_sequences_unordered_resumed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(
        spark, sf_dir, _ARRIVAL_COLS, roundrobin=True, resume=True
    )


@query(
    "doc_chunk_windows",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
  FROM documents
),
starts AS (
  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, {CHUNK_STRIDE})) AS s
  FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS start_tok,
       CAST(LEAST({CHUNK_LEN}, len(t) - s) AS BIGINT) AS n_chunk_tokens,
       {portable_hash_sql(f"array_to_string(t[s + 1:s + {CHUNK_LEN}], ' ')")}
         AS chunk_hash
FROM starts
""",
    doc="Sliding context-window chunking (RAG / long-context prep): each "
    "doc explodes into 128-token chunks with stride 64; the chunk is "
    "reported as a portable content hash (never an ARRAY column — oracle "
    "canon rule). Purely row-local — the explode happens where the doc "
    "row lives, ZERO shuffles at any scale.",
    bench=True,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    with_t = docs.select("doc_id", tokens(F.col("text")).alias("t")).where(
        F.size("t") > 0
    )
    starts = with_t.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STRIDE))
        ).alias("s"),
    )
    return starts.select(
        "doc_id",
        F.expr(f"s DIV {CHUNK_STRIDE}").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_LEN), F.size("t") - F.col("s"))
        .cast("bigint")
        .alias("n_chunk_tokens"),
        portable_hash(
            F.array_join(F.expr(f"slice(t, s + 1, {CHUNK_LEN})"), " ")
        ).alias("chunk_hash"),
    )


@query(
    "vocab_oov_rate",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                t -> t <> '')) AS tok
  FROM documents
),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
vocab AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM counts
  ) WHERE rn <= {VOCAB_SIZE}
),
per_doc AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
  GROUP BY 1
)
SELECT doc_id, n_tokens, n_oov,
       CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
FROM per_doc
""",
    doc="Vocabulary coverage: build the top-1000 token vocabulary (count "
    "desc, token asc tie-break — fully deterministic) and report each "
    "doc's out-of-vocabulary token count and rate. The vocab build is a "
    "TakeOrderedAndProject (top-V, no global sort); membership joins "
    "BROADCAST legitimately — the vocab is V rows by construction, the "
    "same bounded-by-construction argument as decontamination. Two real "
    "shuffles: token counts (partial-agg absorbs hot tokens) and the "
    "per-doc rollup.",
    bench=True,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
        )
    )


@query(
    "stratified_split_exact",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {portable_hash_sql("'strat:' || CAST(doc_id AS VARCHAR)")},
                    doc_id) AS rn,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
)
SELECT lang,
       CASE WHEN rn * 10 <= n_lang THEN 'val' ELSE 'train' END AS split,
       count(*) AS n_docs, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM ranked GROUP BY 1, 2
""",
    doc="EXACT-quota stratified split: precisely floor(10%) of every "
    "language goes to 'val', chosen by salted-hash order (deterministic, "
    "leak-free, engine-independent) — the quota guarantee hash-RANGE "
    "splits (train_val_test_split) cannot give on small strata. Costs "
    "one shuffle + per-stratum sort on the stratum key; at web scale "
    "replace the exact rank with an approx-quantile threshold on the "
    "same hash (same determinism, no full sort) — the exact form is the "
    "oracle for that approximation.",
)
def stratified_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = portable_hash(
        F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_lang"),
    )
    split = F.when(F.col("rn") * 10 <= F.col("n_lang"), "val").otherwise("train")
    return (
        ranked.select("doc_id", "lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


MIX_MAX_EPOCHS = 4  # repetition cap per source (data-recipe hyperparameter)


@query(
    "source_mixture_plan",
    oracle=r"""
WITH s AS (
  SELECT source,
         CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
m AS (SELECT max(n_tokens) AS max_tokens FROM s)
SELECT source, n_tokens,
       CAST(least(4, greatest(1, max_tokens // greatest(n_tokens, 1)))
            AS BIGINT) AS epochs,
       CAST(n_tokens * least(4, greatest(1,
              max_tokens // greatest(n_tokens, 1))) AS BIGINT)
         AS planned_tokens
FROM s, m
""",
    doc="Mixture PLAN (the integer sibling of source_temperature_weights): "
    "per-source epoch counts that upsample small sources toward the "
    "largest one, capped at 4 epochs — the repeat-rare-sources-but-not-"
    "too-often rule every LLM data recipe applies. Entirely integer "
    "arithmetic (token totals, floor division, least/greatest), so the "
    "plan is exactly reproducible on any engine — no float normalization "
    "anywhere. One agg + a broadcast 1-row max; the token count scans "
    "the corpus once.",
)
def source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("source", "text"), spark)
    s = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text"))).cast("bigint")).alias("n_tokens")
    )
    m = s.agg(F.max("n_tokens").alias("max_tokens"))
    epochs = F.least(
        F.lit(MIX_MAX_EPOCHS).cast("bigint"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("max_tokens DIV greatest(n_tokens, 1L)"),
        ),
    )
    return s.crossJoin(F.broadcast(m)).select(
        "source",
        "n_tokens",
        epochs.alias("epochs"),
        (F.col("n_tokens") * epochs).alias("planned_tokens"),
    )


@query(
    "source_temperature_weights",
    oracle="""
WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM s)
SELECT source, n_docs,
       CAST(n_docs AS DOUBLE) / total AS p,
       sqrt(CAST(n_docs AS DOUBLE) / total) AS temp_weight
FROM s, t
""",
    doc="Temperature-based mixture weights (alpha = 0.5, i.e. sqrt "
    "up-weighting of rare sources — the standard multilingual/multi-"
    "source rebalancing rule): per-source share p and unnormalized "
    "sampling weight p^alpha. sqrt and a single division are correctly-"
    "rounded everywhere, so the output is bitwise-portable (the "
    "cross-engine normalization SUM is deliberately left out — summing "
    "floats in engine order is the one non-portable step; downstream "
    "samplers normalize locally). One agg + a 1-row cross join.",
)
def source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = s.agg(F.sum("n_docs").cast("bigint").alias("total"))
    p = F.col("n_docs").cast("double") / F.col("total")
    return s.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        p.alias("p"),
        F.sqrt(p).alias("temp_weight"),
    )


@query(
    "corpus_curation_pipeline_v3",
    oracle=r"""
WITH RECURSIVE
toks AS (
  SELECT doc_id, source, text, n_chars,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
           AS tk_lower,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit
  FROM documents
),
feats AS (
  SELECT doc_id, source, text,
         -600000
         + 8000 * LEAST(len(tk), 200)
         + 2 * (len(list_filter(tk_lower,
               t -> list_contains(['the','a','of','and','to','is','in'], t)))
             * 1000000 // GREATEST(len(tk), 1))
         + (-3) * (n_punct * 1000000 // GREATEST(n_chars, 1))
         + (-2) * (n_digit * 1000000 // GREATEST(n_chars, 1))
           AS logit
  FROM toks
),
kept AS (SELECT * FROM feats WHERE logit >= 0),
canon AS (
  SELECT k.doc_id, k.source, k.text
  FROM kept k
  JOIN (SELECT text, min(doc_id) AS md FROM kept GROUP BY text) m
    ON k.doc_id = m.md
),
doc_words AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                            t -> t <> '')) AS tok
  FROM canon
),
words AS (SELECT DISTINCT tok FROM doc_words),
vocab(piece) AS (SELECT unnest(['the','ing','ed','er','an','and','of','to',
  'in','re','on','at','en','es','or','st','ar','nd','is','it','ou','le',
  'tion','ment'])),
step(tok, pos, pieces) AS (
  SELECT tok, 1, 0 FROM words
  UNION ALL
  SELECT s.tok,
         s.pos + length(coalesce(
           (SELECT v.piece FROM vocab v
            WHERE v.piece = substr(s.tok, s.pos, length(v.piece))
            ORDER BY length(v.piece) DESC, v.piece LIMIT 1),
           substr(s.tok, s.pos, 1))),
         s.pieces + 1
  FROM step s
  WHERE s.pos <= length(s.tok)
),
done AS (SELECT tok, pieces FROM step WHERE pos = length(tok) + 1),
wp AS (
  SELECT d.source, CAST(sum(p.pieces) AS BIGINT) AS total_pieces
  FROM doc_words d JOIN done p USING (tok)
  GROUP BY 1
),
per_source AS (
  SELECT f.source,
         count(*) AS n_docs,
         sum(CASE WHEN f.logit >= 0 THEN 1 ELSE 0 END) AS n_kept
  FROM feats f GROUP BY 1
),
per_canon AS (
  SELECT source, count(*) AS n_canonical FROM canon GROUP BY 1
)
SELECT s.source, s.n_docs, CAST(s.n_kept AS BIGINT) AS n_kept,
       coalesce(c.n_canonical, 0) AS n_canonical,
       coalesce(w.total_pieces, 0) AS total_wp_tokens
FROM per_source s
LEFT JOIN per_canon c ON s.source = c.source
LEFT JOIN wp w ON s.source = w.source
""",
    doc="Round-6 capstone: the session's new stages composed as ONE "
    "curation plan — (1) learned-classifier gate (classifier_logit, "
    "exact BIGINT inference in the scan projection), (2) exact "
    "content dedup among survivors (min-doc_id canonical per identical "
    "text — the keeper rule of dedup_exact), (3) WordPiece token "
    "accounting over the canonical set (wordpiece_piece_counts: Python "
    "touches DISTINCT words only), reported per source as the "
    "budget-planning table a training run starts from (docs in, kept by "
    "model, canonical after dedup, subword tokens available). Stages "
    "share one scan; shuffles key on text-hash (dedup), tok (piece "
    "join), and source (final rollup). The DuckDB oracle replays all "
    "three stages including the recursive greedy-tokenizer automaton.",
)
def corpus_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.text.analysis import (
        classifier_logit,
        wordpiece_piece_counts,
        wordpiece_words,
    )

    docs = widen(
        table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text", "n_chars"
        ),
        spark,
    )
    feats = docs.select(
        "doc_id", "source", "text", classifier_logit().alias("logit")
    )
    kept = feats.where(F.col("logit") >= 0)
    canon = (
        kept.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(kept.select("doc_id", "source", "text"), ["doc_id", "text"])
    )
    words = wordpiece_words(canon).join(
        canon.select("doc_id", "source"), "doc_id"
    )
    pieces = wordpiece_piece_counts(words)
    wp = (
        words.join(pieces, "tok")
        .groupBy("source")
        .agg(F.sum("pieces").cast("bigint").alias("total_wp_tokens"))
    )
    per_source = feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("logit") >= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
    )
    per_canon = canon.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_canonical")
    )
    return (
        per_source.join(per_canon, "source", "left")
        .join(wp, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.coalesce("n_canonical", F.lit(0)).alias("n_canonical"),
            F.coalesce("total_wp_tokens", F.lit(0)).alias("total_wp_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING (Sennrich et al. 2016) as distributed aggregation.
#
# The classic trainer works on the distinct-WORD frequency table (the Zipf
# trick doc_wordpiece_tokens already exploits for encoding): per round,
# count adjacent symbol pairs weighted by word frequency, merge the argmax
# pair everywhere, repeat. Symbol sequences are represented as strings with
# every symbol individually wrapped in '_' sentinels ('hi' -> '_h__i_'), which
# makes "merge pair (a,b) greedy-leftmost, non-overlapping" EXACTLY a plain
# string replace of '_a__b_' with '_ab_' — both engines' replace() scans
# left-to-right non-overlapping, and because every symbol keeps its own
# sentinels, a replacement never consumes a neighbouring match's delimiter
# ('_a__a__a__a_' -> '_aa__aa_', the correct greedy pairing) and a pattern
# can never false-match inside a longer symbol. Words are restricted to
# lowercase-alpha tokens so '_' is provably outside the symbol alphabet.
# ---------------------------------------------------------------------------
_BPE_ROUNDS = 6
_BPE_SEP = "_"


def _bpe_oracle() -> str:
    """The trainer replayed in DuckDB: one unrolled CTE block per round
    (same pattern as the k-means / PageRank unrolled oracles). Every
    round CTE is MATERIALIZED: b{i} is referenced four times by r{i+1}'s
    scalar subqueries, so inlined CTEs re-evaluate the whole prior chain
    per reference — O(4^K) work; materialization makes it O(K)."""
    parts = [
        """
WITH w0 AS (
  SELECT u.tok, count(*) AS freq
  FROM documents d,
       unnest(list_filter(string_split_regex(lower(d.text), '\\s+'),
                          x -> x <> '')) AS u(tok)
  WHERE regexp_matches(u.tok, '^[a-z]+$')
  GROUP BY 1
),
r0 AS MATERIALIZED (
  SELECT tok, freq,
         regexp_replace(tok, '(.)', '_\\1_', 'g') AS rep
  FROM w0
)"""
    ]
    for i in range(_BPE_ROUNDS):
        parts.append(f""",
s{i} AS MATERIALIZED (
  SELECT regexp_extract_all(rep, '_([^_]+)_', 1) AS syms, freq FROM r{i}
),
p{i} AS MATERIALIZED (
  SELECT list_extract(syms, CAST(j AS INT)) AS l,
         list_extract(syms, CAST(j AS INT) + 1) AS r2,
         sum(freq) AS cnt
  FROM s{i}, unnest(generate_series(1, len(syms) - 1)) AS t(j)
  GROUP BY 1, 2
),
b{i} AS MATERIALIZED (
  SELECT l, r2, cnt FROM p{i} ORDER BY cnt DESC, l ASC, r2 ASC LIMIT 1
),
r{i + 1} AS MATERIALIZED (
  SELECT tok, freq,
         replace(rep,
                 '_' || (SELECT l FROM b{i}) || '__'
                     || (SELECT r2 FROM b{i}) || '_',
                 '_' || (SELECT l FROM b{i})
                     || (SELECT r2 FROM b{i}) || '_') AS rep
  FROM r{i}
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS round, l AS sym_left, r2 AS sym_right,"
        f" l || r2 AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(_BPE_ROUNDS)
    )
    return "".join(parts) + "\n" + unions


def _bpe_chain_ctes() -> str:
    """Just the WITH-chain (w0..r{K}) of the trainer oracle, for reuse by
    the encode twin."""
    full = _bpe_oracle()
    # the chain ends right before the first top-level SELECT (the unions)
    cut = full.rindex("\nSELECT 1 AS round")
    return full[:cut]


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """Run the merge-learning loop; returns (words with final rep, merges)."""
    docs = widen(table(spark, sf_dir, "documents").select("text"), spark)
    words = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .where(F.col("tok").rlike("^[a-z]+$"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "rep", F.regexp_replace("tok", "(.)", f"{_BPE_SEP}$1{_BPE_SEP}")
        )
        .localCheckpoint()
    )
    cur = words
    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(_BPE_ROUNDS):
        syms = F.regexp_extract_all(
            F.col("rep"), F.lit(f"{_BPE_SEP}([^{_BPE_SEP}]+){_BPE_SEP}"), 1
        )
        pairs = (
            cur.withColumn("syms", syms)
            .withColumn("la", F.expr("slice(syms, 1, size(syms) - 1)"))
            .withColumn("rb", F.expr("slice(syms, 2, size(syms) - 1)"))
            .select(
                "freq",
                F.explode(F.arrays_zip(F.col("la"), F.col("rb"))).alias("p"),
            )
            .select(
                F.col("p.la").alias("l"), F.col("p.rb").alias("r2"), "freq"
            )
        )
        best = (
            pairs.groupBy("l", "r2")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r2").asc())
            .limit(1)
            .collect()
        )
        l, r2, cnt = best[0]["l"], best[0]["r2"], int(best[0]["cnt"])
        merges.append((i + 1, l, r2, l + r2, cnt))
        cur = cur.withColumn(
            "rep",
            F.replace(
                F.col("rep"),
                F.lit(f"{_BPE_SEP}{l}{_BPE_SEP}{_BPE_SEP}{r2}{_BPE_SEP}"),
                F.lit(f"{_BPE_SEP}{l}{r2}{_BPE_SEP}"),
            ),
        )
    return cur, merges


@query(
    "bpe_learned_merges",
    oracle=_bpe_oracle(),
    doc="REAL BPE tokenizer TRAINING (Sennrich et al. 2016), not just "
    "encoding: learns the first 6 merge rules from the corpus. Each "
    "round is one distributed aggregation — adjacent symbol pairs over "
    "the DISTINCT-word frequency table (Zipf-bounded, orders of "
    "magnitude under token occurrences at any corpus size), weighted "
    "sum per pair, deterministic argmax (count desc, pair asc) — "
    "followed by a declarative merge application: the wrap-each-symbol "
    "sentinel string encoding makes greedy-leftmost merge a plain "
    "replace() with IDENTICAL semantics on both engines (see module "
    "note). Driver cost per round is ONE 1-row collect (the argmax), "
    "the same contract as the k-means centroid loop; the word table "
    "localCheckpoints once and each round's work is a map + "
    "shuffle-by-pair over it. The oracle replays all 6 rounds as "
    "unrolled CTE blocks. Output: the merge table — THE artifact a "
    "tokenizer ships.",
    bench=True,
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "round int, sym_left string, sym_right string, merged string, "
        "pair_count bigint",
    )


def _bpe_encode_oracle() -> str:
    return f"""{_bpe_chain_ctes()},
enc AS (
  SELECT tok, len(regexp_extract_all(rep, '_([^_]+)_', 1)) AS pieces
  FROM r{_BPE_ROUNDS}
),
occ AS (
  SELECT d.doc_id, u.tok
  FROM documents d,
       unnest(list_filter(string_split_regex(lower(d.text), '\\s+'),
                          x -> x <> '')) AS u(tok)
  WHERE regexp_matches(u.tok, '^[a-z]+$')
)
SELECT o.doc_id,
       count(*) AS n_words,
       CAST(sum(e.pieces) AS BIGINT) AS n_pieces,
       CAST(sum(length(o.tok)) AS BIGINT) AS n_chars
FROM occ o JOIN enc e ON e.tok = o.tok
GROUP BY 1
"""


@query(
    "doc_bpe_encoded_stats",
    oracle=_bpe_encode_oracle(),
    doc="The ENCODE half of the BPE loop: documents tokenized with the "
    "merges bpe_learned_merges just learned from this same corpus — "
    "train and encode as one composed, verified pipeline (the "
    "train-your-tokenizer-then-tokenize shape every LLM corpus build "
    "runs). Encoding applies the learned replaces to the DISTINCT-word "
    "table only (the Zipf trick shared with doc_wordpiece_tokens), "
    "counts pieces per word from the sentinel representation, and joins "
    "piece counts back to occurrences — the per-doc aggregate moves "
    "(doc, word) rows, never re-tokenizes text. Compression is visible "
    "in the output: n_pieces < n_chars exactly where merges fired. The "
    "oracle chains the full 6-round trainer replay with the same "
    "encode-and-join.",
)
def doc_bpe_encoded_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    words_final, _merges = _bpe_train(spark, sf_dir)
    enc = words_final.select(
        "tok",
        F.size(
            F.regexp_extract_all(
                F.col("rep"),
                F.lit(f"{_BPE_SEP}([^{_BPE_SEP}]+){_BPE_SEP}"),
                1,
            )
        ).alias("pieces"),
    )
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    occ = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    ).where(F.col("tok").rlike("^[a-z]+$"))
    return (
        occ.join(enc, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("pieces").cast("bigint").alias("n_pieces"),
            F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
        )
    )


def _stream_run_order_unordered_oracle() -> str:
    """Shuffle oracle verbatim + the manifest derivation rebound to the
    arrival-defined (unordered) packer's oracle: disorder changes WHICH
    docs fill each sequence — never the sequence universe (total tokens
    are order-invariant) and therefore never the read schedule."""
    from spark_streaming_twitter_spark.registry import QUERIES

    sh = QUERIES["training_epoch_shuffle"].oracle
    mf = _seq_manifest_oracle(
        QUERIES["stream_pack_training_sequences_unordered"].oracle
    )
    return f"""
WITH sh AS ({sh}),
mf AS ({mf})
SELECT sh.epoch, sh.reader, sh.position, sh.seq_id,
       mf.n_docs, mf.first_doc, mf.last_doc, mf.n_tokens_filled
FROM sh JOIN mf USING (seq_id)
"""


@query(
    "stream_training_run_order_unordered",
    oracle=_stream_run_order_unordered_oracle(),
    doc="The streaming run order under Kafka CROSS-PARTITION DISORDER — "
    "and the invariant that makes loader scheduling robust to ingest "
    "order: the sequence UNIVERSE depends only on total tokens (order-"
    "invariant), and the shuffle key only on (epoch, seq_id), so the "
    "READ SCHEDULE (epoch, reader, position, seq_id) is bitwise "
    "identical to the ordered chain's while the PROVENANCE columns "
    "(which docs fill each sequence) are arrival-defined. The oracle "
    "states exactly that: the batch epoch-shuffle oracle verbatim, "
    "joined to the manifest derivation rebound to the unordered "
    "packer's arrival-replaying oracle. Same per-trigger assign-once "
    "discovery as the ordered variant — the carried offset grows "
    "monotonically regardless of arrival order.",
)
def stream_training_run_order_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir, assign=True, roundrobin=True)


@query(
    "stream_training_run_order_resumed",
    oracle=_run_order_oracle(),
    doc="CRASH RECOVERY for the streaming training chain — the packer's "
    "ledger-resume story extended through sequence discovery and "
    "shuffle assignment: the chain's cross-trigger state is two "
    "scalars (the offset allocator and the next-unassigned seq id), "
    "and BOTH are recoverable from the ledgers themselves — offset = "
    "sum(n_tokens) over the doc ledger, next seq = max(seq_id) + 1 "
    "over the assignment ledger (each a map-side aggregate; parquet "
    "footer stats make them metadata-only at scale). The stream runs "
    "over the first half of the spool, the driver dies (both scalars "
    "discarded), a fresh driver re-seeds from the ledgers and "
    "processes the rest; the combined chain must be bitwise the "
    "uninterrupted batch run order (oracle verbatim) — in particular "
    "the restart must not re-assign any sequence (the recovered next-"
    "seq pointer guarantees assign-exactly-once across the crash). "
    "With training_run_order_resumed this closes the crash story on "
    "BOTH sides: the writer's ledgers recover the ingest chain, the "
    "reader's determinism recovers the consumption order.",
)
def stream_training_run_order_resumed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _pack_stream(spark, sf_dir, assign=True, resume=True)


def _mm_fused_oracle() -> str:
    """The fused flagship's oracle: the three keeper protocols replayed
    on the SHARED ingest trigger grid — identical keeper CTE chains to
    the standalone streams' oracles (same generators, composed at
    decoration time) except the epoch cuts come from the DOCUMENT
    range, because in the fused topology one spool feeds everything —
    then the same drops/pack tail as the 4-stream flagship."""
    import spark_streaming_twitter_spark.multimodal.phash as ph

    docrng = "(SELECT doc_id AS media_id FROM documents)"
    ik = ph._chunk_keeper_oracle(
        ph._PHASH_SIGS_SQL, "sigs", "dhash", docrng,
        ph.PHASH_CHUNKS, 14, ph.PHASH_RADIUS,
    )
    ak = ph._chunk_keeper_oracle(
        ph._AFP_SIGS_SQL, "afps", "fingerprint", docrng,
        ph.AFP_CHUNKS, 12, ph.AFP_RADIUS,
    )
    vk = ph._video_keeper_oracle(rng_rel=docrng)
    return rf"""
WITH ikeeper AS ({ik}),
akeeper AS ({ak}),
vkeeper AS ({vk}),
drops AS (
  SELECT media_id AS doc_id FROM ikeeper WHERE NOT kept
  UNION ALL SELECT media_id FROM akeeper WHERE NOT kept
  UNION ALL SELECT media_id FROM vkeeper WHERE NOT kept
),
toks AS (
  SELECT d.doc_id,
         CAST(len(list_filter(string_split_regex(d.text, '\s+'),
                              t -> t <> '')) AS BIGINT)
           + CAST(CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 64
                  WHEN 1 THEN 32 ELSE 256 END AS BIGINT) AS n_tokens
  FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_tokens AS start_offset
  FROM toks
)
SELECT doc_id, n_tokens, start_offset,
       start_offset // {SEQ_LEN} AS first_seq,
       (start_offset + n_tokens - 1) // {SEQ_LEN} AS last_seq
FROM c
"""


@query(
    "stream_multimodal_ingest_to_training_fused",
    oracle=_mm_fused_oracle(),
    doc="The flagship capstone FUSED into one stream — the topology a "
    "production ingest actually owns (one topic, one consumer, one "
    "trigger grid): per micro-batch ONE Python pass builds and decodes "
    "every doc's media payload (doc_id % 3 routes image/audio/video) "
    "into modality-tagged probe keys, ONE probe of the one keeper "
    "protocol (streaming/keeper.py) decides all three kinds against a "
    "single kept index — the modality joins the key, the verify radius "
    "and the video frame threshold are per row, so every decision "
    "equals the standalone keeper streams' — and the batch's survivors "
    "are packed, so curation "
    "and training-example construction happen in ONE pass over the "
    "wire instead of two streams (a keeper stream, then a packer "
    "stream) over the same corpus. Keeper semantics are IDENTICAL per "
    "trigger; what changes is the epoch grid — decisions cut on the "
    "shared doc spool's ranges instead of each modality's own id "
    "range — and the oracle composes the same keeper CTE generators "
    "re-ranged to the document spool, then the same pack tail. At "
    "100 TB the fused form reads the corpus ONCE where the two-phase "
    "form reads it twice; bench_artifacts/r14_fused_bytes_probe.json "
    "measured the older form, which spooled three media payload "
    "streams.",
)
def stream_multimodal_ingest_to_training_fused(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mm_fused_impl(spark, sf_dir, unordered=False)


@query(
    "stream_multimodal_ingest_to_training_fused_persisted",
    oracle=_mm_fused_oracle(),
    bench=True,
    doc="The fused one-consumer flagship in the production read-back "
    "shape: same one-topic/one-trigger-grid topology, "
    "ledger written to a kept per-user location and returned as the "
    "parquet-backed frame — no collect between streaming finish and "
    "the caller. Fused-flagship oracle verbatim — same bits, "
    "different lifecycle.",
)
def stream_multimodal_ingest_to_training_fused_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mm_fused_impl(
        spark,
        sf_dir,
        unordered=False,
        keep_ledger_dir=_kept_ledger_dir("flagship_fused_ledger"),
    )


@query(
    "stream_multimodal_ingest_to_training_fused_unordered",
    oracle=_mm_ingest_to_training_oracle("_unordered"),
    doc="The fused one-consumer flagship under Kafka CROSS-PARTITION "
    "DISORDER — and the cell where the two topologies PROVABLY "
    "COINCIDE: round-robin arrival assigns batch = id % 4 with no "
    "range arithmetic, so the shared doc spool's trigger grid IS each "
    "modality's own grid, keeper decisions match the standalone "
    "unordered keeper streams bit for bit, and the oracle is the "
    "4-stream unordered flagship's VERBATIM (same composed keeper "
    "chains, same arrival-order pack tail). One query, two "
    "architectures, one answer — the strongest cross-check either "
    "implementation has.",
)
def stream_multimodal_ingest_to_training_fused_unordered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mm_fused_impl(spark, sf_dir, unordered=True)


@query(
    "stream_multimodal_ingest_to_training_fused_unordered_persisted",
    oracle=_mm_ingest_to_training_oracle("_unordered"),
    doc="The fourth and last cell of the persisted flagship cube "
    "({4-stream, fused} x {ordered, disordered}, all in the production "
    "read-back shape): the fused one-consumer topology under "
    "cross-partition disorder, kept parquet-backed ledger returned "
    "with no collect anywhere in the lifecycle. Oracle is the "
    "4-stream unordered flagship's VERBATIM (the provably-coinciding "
    "cell), so this single query cross-checks two architectures, two "
    "lifecycles, and the size-adaptive reject gate's shuffled side "
    "at once.",
)
def stream_multimodal_ingest_to_training_fused_unordered_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _mm_fused_impl(
        spark,
        sf_dir,
        unordered=True,
        keep_ledger_dir=_kept_ledger_dir("flagship_fused_unordered_ledger"),
    )


def _mm_fused_impl(
    spark: SparkSession,
    sf_dir: str,
    unordered: bool,
    keep_ledger_dir: "str | None" = None,
) -> DataFrame:
    """The fused flagship: one stream, whose every trigger builds its
    modality-tagged keys in ONE Python pass, decides them in ONE probe
    and packs the batch's survivors."""
    return _pack_stream(
        spark,
        sf_dir,
        count=_mm_tokens,
        roundrobin=unordered,
        keep_ledger_dir=keep_ledger_dir,
        survivors_in=lambda tmp: _fused_survivors(spark, tmp),
    )


def _fused_survivors(
    spark: SparkSession, tmp: str
) -> "Callable[[DataFrame], DataFrame]":
    """The fused flagship's per-trigger survivor side: the batch minus
    the docs its one media keeper probe drops. Beyond the probe it runs
    no action; the reject gate reads the counts the store write
    observed."""
    import os

    import spark_streaming_twitter_spark.multimodal.phash as ph

    # one modality-tagged keeper store (side=ledger + side=index) for
    # all three media kinds, so every trigger's decisions and index
    # entries land in a single write job (see streaming/keeper.py)
    probe = ph.make_media_keeper_prober(spark, os.path.join(tmp, "media_store"))

    def survivors(bdf: DataFrame) -> DataFrame:
        # persisted because the prober reads the keys twice (report
        # pin and store write); the report is localCheckpointed, so
        # unpersisting cannot force the payloads to be rebuilt
        keys = ph.media_key_frame(
            ph.media_keys_from_ids(bdf.select("doc_id"))
        ).persist()
        try:
            report = probe(keys)
        finally:
            keys.unpersist()
        # every doc is decided the trigger it arrives, so this batch's
        # drops are the pinned report's hit rows
        drops = report.where(F.col("n_index_hits") > 0).select(
            F.col("media_id").alias("doc_id")
        )
        # the reject set is batch-bounded but NOT small under disorder
        # (most of a clustered batch drops), so the gate picks the
        # broadcast or the shuffled anti-join from the counts the store
        # write observed: dropped items against probed items
        seen = probe.observed
        return _adaptive_reject_anti_join(bdf, drops, seen["hits"], seen["items"])

    return survivors
