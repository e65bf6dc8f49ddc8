"""Property-based tests (SURVEY.md §5.4): engine results vs plain-Python
reference implementations on randomized inputs.

Each example round-trips a Spark job, so example counts are kept small;
the properties cover the argmax/dedup/vector cores where randomized inputs
catch tie-break and boundary bugs fixtures can't.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.dedup.dedup import (
    scaled_dot,
    scaled_norm2,
    shingles,
)
from spark_streaming_twitter_spark.operators.trending import trending
from spark_streaming_twitter_spark.text.analysis import tokens

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

TAGS = ["a", "b", "c", "dd", "ee"]


@given(st.lists(st.sampled_from(TAGS), min_size=1, max_size=40))
@_SETTINGS
def test_trending_argmax_matches_python(spark, tags):
    df = spark.createDataFrame([(t,) for t in tags], ["term"]).withColumn(
        "bucket", F.lit(1)
    )
    got = trending(df, ["bucket"]).collect()[0]
    # python reference: max count, min term on ties
    counts: dict[str, int] = {}
    for t in tags:
        counts[t] = counts.get(t, 0) + 1
    best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    assert (got.top_term, got.term_count) == best


@given(
    st.lists(
        st.lists(st.sampled_from(TAGS), min_size=3, max_size=12), min_size=2, max_size=4
    )
)
@_SETTINGS
def test_shingle_sets_match_python(spark, docs):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.doc_id, r.sh)
        for r in df.select(
            "doc_id", F.explode(shingles(tokens(F.col("text")), 3)).alias("sh")
        ).collect()
    }
    want = set()
    for i, toks in enumerate(docs):
        if len(toks) >= 3:
            for j in range(len(toks) - 2):
                want.add((i, " ".join(toks[j : j + 3])))
        else:
            want.add((i, " ".join(toks)))
    assert got == want


@given(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
        min_size=4,
        max_size=16,
    ),
    st.data(),
)
@_SETTINGS
def test_scaled_dot_matches_numpy(spark, a, data):
    b = data.draw(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
            min_size=len(a),
            max_size=len(a),
        )
    )
    r = (
        spark.createDataFrame([(a, b)], "va array<float>, vb array<float>")
        .select(
            scaled_dot(F.col("va"), F.col("vb")).alias("dot"),
            scaled_norm2(F.col("va")).alias("na"),
        )
        .collect()[0]
    )
    import numpy as np

    av = np.array(a, dtype=np.float32).astype(np.float64)
    bv = np.array(b, dtype=np.float32).astype(np.float64)
    scale = float(1 << 40)
    assert abs(r.dot / scale - float(av @ bv)) <= len(a) * 0.5 / scale * 2
    assert abs(r.na / scale - float(av @ av)) <= len(a) * 0.5 / scale * 2
    assert math.isfinite(r.dot)


@given(
    st.lists(
        st.integers(min_value=0, max_value=20000), min_size=1, max_size=30
    )
)
@_SETTINGS
def test_sessionization_matches_python(spark, offsets):
    """Gap-based sessionization == a simple sequential-scan reference:
    session boundaries exactly where the sorted per-user gap exceeds 1800s."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, i, base + dt.timedelta(seconds=off))
        for i, off in enumerate(offsets)
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts"])

    # Reuse the registered query body by monkey-free substitution: the query
    # reads from catalog.table, so replicate its plan inline instead.
    from pyspark.sql import Window

    ev = df.select("user_id", "event_id", F.unix_timestamp("ts").alias("ts_s"))
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    gap = F.col("ts_s") - F.lag("ts_s").over(w)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    got = sorted(
        (r.session_start, r.session_end, r.n_events)
        for r in ev.withColumn(
            "is_new", (gap.isNull() | (gap > 1800)).cast("bigint")
        )
        .withColumn("session_seq", F.sum("is_new").over(run))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts_s").alias("session_start"),
            F.max("ts_s").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    )

    # local-time unix_timestamp: build the reference from the same
    # engine-computed epoch values so the tz convention cancels out.
    ts_sorted = sorted(
        r.ts_s for r in ev.select("ts_s").collect()
    )
    want, cur = [], [ts_sorted[0]]
    for t in ts_sorted[1:]:
        if t - cur[-1] > 1800:
            want.append(cur)
            cur = [t]
        else:
            cur.append(t)
    want.append(cur)
    assert got == sorted((c[0], c[-1], len(c)) for c in want)


def test_pagerank_matches_python_on_star_graph(spark):
    """3 exact-integer PageRank iterations == a pure-Python mirror on a
    star graph (center + 3 leaves), where ranks genuinely diverge."""
    from spark_streaming_twitter_spark.operators.graph import (
        BASE,
        SCALE,
        pagerank,
    )

    und = [(0, 1), (0, 2), (0, 3)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], ["src", "dst"]
    )
    got = {r.id: r.r for r in pagerank(edges).collect()}

    adj: dict[int, list[int]] = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    ranks = {v: SCALE for v in adj}
    for _ in range(3):
        contrib = {v: 0 for v in adj}
        for u, nbrs in adj.items():
            c = ranks[u] // len(nbrs)
            for v in nbrs:
                contrib[v] += c
        ranks = {v: BASE + (85 * contrib[v]) // 100 for v in adj}
    assert got == ranks
    assert got[0] > got[1] == got[2] == got[3]


def test_kmeans_separates_two_obvious_clusters(spark):
    """_assign/_centroids recover two well-separated clusters from seeds
    inside each blob, and recomputed centroids are the exact floor-means."""
    from spark_streaming_twitter_spark.similarity.kmeans import _assign
    from spark_streaming_twitter_spark.similarity.search import _centroids

    blob_a = [[10 + i, 10] for i in range(3)]  # around (11, 10)
    blob_b = [[-10 - i, -10] for i in range(3)]
    rows = [(i, v) for i, v in enumerate(blob_a + blob_b)]
    corpus = spark.createDataFrame(rows, "vec_id long, qv array<bigint>")
    seeds = spark.createDataFrame(
        [(0, blob_a[0]), (1, blob_b[0])], "cid long, cvec array<bigint>"
    )
    assigned = _assign(corpus, seeds)
    got = {r.vec_id: r.cid for r in assigned.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1}

    cents = {r.cid: r.cvec for r in _centroids(assigned, "cid").collect()}
    assert cents[0] == [(10 + 11 + 12) // 3, 10]
    assert cents[1] == [(-10 - 11 - 12) // 3, -10]  # floor division, exact


@given(
    st.lists(
        st.sampled_from(["hh1", "hh2"] + [f"rare{i}" for i in range(50)]),
        min_size=20,
        max_size=200,
    )
)
@_SETTINGS
def test_heavy_hitter_candidates_are_lossless(spark, terms):
    """Per-partition Misra-Gries (small k to stress decrements) must keep
    every term whose global frequency exceeds n/(k+1) — the two-pass
    heavy-hitters correctness precondition."""
    import pandas as pd

    k = 4

    def misra_gries(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for term in pdf["term"]:
                if term in counters:
                    counters[term] += 1
                elif len(counters) < k:
                    counters[term] = 1
                else:
                    for t in list(counters):
                        counters[t] -= 1
                        if counters[t] == 0:
                            del counters[t]
        yield pd.DataFrame({"term": list(counters.keys())})

    df = spark.createDataFrame([(t,) for t in terms], ["term"]).repartition(3)
    cands = {r.term for r in df.mapInPandas(misra_gries, "term string").collect()}

    n = len(terms)
    counts: dict[str, int] = {}
    for t in terms:
        counts[t] = counts.get(t, 0) + 1
    must_survive = {t for t, c in counts.items() if c > n / (k + 1)}
    assert must_survive <= cands


def test_pii_redaction_fires_on_planted_pii(spark):
    """The PII patterns must actually match and redact planted emails and
    phone numbers (the fixture corpus is PII-free, so the registered
    query's zero counts don't exercise the replace path)."""
    from pyspark.sql import functions as F

    from spark_streaming_twitter_spark.text.analysis import (
        _EMAIL_RE,
        _PHONE_RE,
    )

    text = "contact jo.doe+x@example.co.uk or +1 (555) 123-4567 today"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    r = df.select(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)).alias("e"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), 0)).alias("p"),
        redacted.alias("red"),
    ).collect()[0]
    assert r.e == 1 and r.p == 1
    assert r.red == "contact <EMAIL> or <PHONE> today"
    assert "@" not in r.red and "555" not in r.red


def test_observe_metrics_surface(spark):
    """df.observe(): the pipeline-metrics API — named aggregates computed
    as a side effect of the action, read back via the observation object.
    The instrumentation hook a production curation job uses to emit row
    counts / null counts per stage without extra passes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("stage_metrics")
    df = spark.range(100).withColumn(
        "v", F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id"))
    )
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v").isNull().cast("int")).alias("n_nulls"),
    )
    assert observed.where(F.col("v").isNotNull()).count() == 90
    assert obs.get == {"n_rows": 100, "n_nulls": 10}


@given(
    st.lists(
        st.integers(min_value=0, max_value=30000), min_size=1, max_size=25
    ),
    st.lists(st.booleans(), min_size=1, max_size=25),
)
@_SETTINGS
def test_dynamic_session_union_matches_python(spark, offsets, purchase_flags):
    """Dynamic-gap session_window == a naive interval-union reference:
    each event opens [ts, ts+gap) with gap depending on the event, and
    sessions are the connected components of overlapping intervals
    (half-open: touching endpoints do NOT merge)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    n = min(len(offsets), len(purchase_flags))
    rows = [
        (
            1,
            base + dt.timedelta(seconds=offsets[i]),
            "purchase" if purchase_flags[i] else "view",
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("1800 seconds")
    ).otherwise(F.lit("600 seconds"))
    got = sorted(
        (r["w"].start, r["w"].end, r["n"])
        for r in df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    ivals = sorted(
        (
            base + dt.timedelta(seconds=offsets[i]),
            base
            + dt.timedelta(
                seconds=offsets[i] + (1800 if purchase_flags[i] else 600)
            ),
        )
        for i in range(n)
    )
    want, cur_s, cur_e, cnt = [], ivals[0][0], ivals[0][1], 1
    for s, e in ivals[1:]:
        if s >= cur_e:  # half-open: touching does not merge
            want.append((cur_s, cur_e, cnt))
            cur_s, cur_e, cnt = s, e, 1
        else:
            cur_e, cnt = max(cur_e, e), cnt + 1
    want.append((cur_s, cur_e, cnt))
    assert got == sorted(want)


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=2),
        min_size=3,
        max_size=18,
    ),
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=2),
        min_size=3,
        max_size=18,
    ),
)
@_SETTINGS
def test_substring_span_islands_match_python(spark, toks_a, toks_b):
    """The positional-shingle diagonal/islands builder the span queries
    share (``_span_runs``) finds exactly the maximal shared token runs a
    naive O(n*m) dynamic program finds (for runs long enough to contain one
    3-shingle; the hot-shingle cap cannot bite on two docs of <= 18
    tokens)."""
    from spark_streaming_twitter_spark.dedup.dedup import _span_runs

    n = 3
    docs = spark.createDataFrame(
        [(1, " ".join(toks_a)), (2, " ".join(toks_b))], ["doc_id", "text"]
    )
    runs = _span_runs(
        docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    )
    spans = sorted(
        r.span
        for r in runs.groupBy("doc_a", "doc_b", "diag", "island")
        .agg((F.count(F.lit(1)) + n - 1).alias("span"))
        .collect()
    )

    # naive reference: for every alignment offset, scan for maximal runs of
    # matching tokens; report token-span lengths >= n
    ta = [t.lower() for t in toks_a]
    tb = [t.lower() for t in toks_b]
    want = []
    for off in range(-(len(tb) - 1), len(ta)):
        run = 0
        for j in range(len(tb)):
            i = j + off
            if 0 <= i < len(ta) and ta[i] == tb[j]:
                run += 1
            else:
                if run >= n:
                    want.append(run)
                run = 0
        if run >= n:
            want.append(run)
    assert spans == sorted(want)


def test_results_bitwise_identical_across_partition_layouts(spark):
    """The determinism contract: float-bearing results must be BITWISE
    identical whatever the physical partitioning (different layouts change
    reduction order, which changes plain float sums — the engine's
    exact-decimal / scaled-integer paths must not care). This is the
    property a 100 TB job relies on when a stage retries on different
    splits."""
    from spark_streaming_twitter_spark.registry import load_all

    specs = load_all()
    sf = "/root/testdata/sf0.001"
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        results: dict[str, dict[str, list]] = {}
        # different shuffle-partition counts change the partial-aggregate
        # merge tree, which is exactly what reorders a plain float sum
        for n_parts in ("1", "7", "32"):
            spark.conf.set(key, n_parts)
            for name in (
                "pricing_summary",
                "similarity_topk_cosine",
                "customer_rfm_scores",
            ):
                rows = sorted(map(tuple, specs[name].fn(spark, sf).collect()))
                results.setdefault(name, {})[n_parts] = rows
    finally:
        spark.conf.set(key, prev)
    for name, by_layout in results.items():
        baseline = by_layout["1"]
        for n_parts, rows in by_layout.items():
            assert rows == baseline, (
                f"{name}: result differs between shuffle.partitions=1 "
                f"and {n_parts}"
            )


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_png_codec_roundtrips_arbitrary_images(w, h, data):
    """Pure-Python property (no Spark): encode_png -> decode_png is the
    identity for ANY 8-bit RGB image, including w=1 (no left neighbor
    anywhere: Sub/Average/Paeth degenerate), h=1 (no up neighbor), and
    adversarial pixel values. The encoder cycles all five filter types,
    so every example with h >= 5 exercises full unfiltering."""
    from spark_streaming_twitter_spark.multimodal.columns import (
        decode_png,
        encode_png,
    )

    raw = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=w * h * 3,
                max_size=w * h * 3,
            )
        )
    )
    assert decode_png(encode_png(w, h, raw)) == (w, h, raw)


@given(
    n=st.integers(min_value=1, max_value=64),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_wav_codec_roundtrips_arbitrary_pcm(n, data):
    """Pure-Python property: encode_wav -> decode_wav is the identity for
    any 16-bit mono PCM stream, including full-scale samples at both
    int16 extremes."""
    from spark_streaming_twitter_spark.multimodal.columns import (
        decode_wav,
        encode_wav,
    )

    samples = data.draw(
        st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=n,
            max_size=n,
        )
    )
    assert decode_wav(encode_wav(n, samples)) == (16000, n, samples)


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_codec_bounded_error_on_arbitrary_images(w, h, data):
    """Pure-Python property: encode_jpeg -> decode_jpeg preserves exact
    dimensions and lands every RGB channel within the ANALYTIC error
    bound (all-ones quant tables make coefficient rounding the only
    lossy step — see multimodal/jpeg.py module doc) for ANY image,
    including 1-pixel-wide/tall shapes where every block is pure edge
    padding and adversarial random pixel content."""
    from spark_streaming_twitter_spark.multimodal.jpeg import (
        ERR_BOUND,
        decode_jpeg,
        encode_jpeg,
    )

    raw = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=w * h * 3,
                max_size=w * h * 3,
            )
        )
    )
    got = decode_jpeg(encode_jpeg(w, h, raw))
    assert got is not None
    gw, gh, rgb = got
    assert (gw, gh) == (w, h)
    assert len(rgb) == len(raw)
    max_err = max(abs(a - b) for a, b in zip(rgb, raw)) if raw else 0
    assert max_err <= ERR_BOUND, f"{w}x{h}: max channel err {max_err}"


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    data=st.data(),
)
@settings(max_examples=30, deadline=None)
def test_gif_lzw_codec_roundtrips_arbitrary_index_streams(w, h, data):
    """Pure-Python property: encode_gif -> decode_gif is the identity for
    ANY palette-index image — including constant runs (maximal LZW
    dictionary reuse, KwKwK chains) and adversarial random content."""
    from spark_streaming_twitter_spark.multimodal.gif import (
        N_COLORS,
        decode_gif,
        encode_gif,
    )

    idx = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=N_COLORS - 1),
                min_size=w * h,
                max_size=w * h,
            )
        )
    )
    assert decode_gif(encode_gif(w, h, idx)) == (w, h, idx)


@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-10, max_value=10,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=4, max_size=4,
        ),
        min_size=2, max_size=12,
    )
)
@_SETTINGS
def test_sq8_codes_bounded_and_recon_within_one_step(spark, vecs):
    """SQ8 invariants on arbitrary vectors: every code lands in [0, 255],
    and per-dimension reconstruction error is at most one quantization
    step (floor division can undershoot by < rng/255 twice: once encoding,
    once reconstructing — bound 2*(rng//255 + 1) in scaled space)."""
    from spark_streaming_twitter_spark.similarity.search import _quantized
    from spark_streaming_twitter_spark.similarity.sq import (
        _sq_encode,
        _sq_stats,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    ).withColumn("q", _quantized(F.col("embedding")))
    stats = _sq_stats(df).collect()[0]
    steps = [2 * (r // 255 + 1) for r in stats.rng_arr]
    for row in _sq_encode(df).collect():
        assert all(0 <= c <= 255 for c in row.code), row.code
        for x, rec, step in zip(row.q, row.r, steps):
            assert abs(x - rec) <= step, (x, rec, step)


def test_importance_weights_prefer_target_like_docs(spark):
    """DSIR-class selection: docs written in the target distribution's
    vocabulary must out-score docs with disjoint vocabulary. Target =
    lang='en'; two en docs establish the target buckets, one 'de' doc
    reuses the en vocabulary (target-like) and one uses disjoint terms."""
    from spark_streaming_twitter_spark.text.corpus import importance_weights

    en_text = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (1, "en", en_text),
        (2, "en", "the quick dog jumps over the brown fox once more"),
        (3, "de", en_text),  # target-like content, non-target label
        (4, "de", "vollkommen anderes vokabular ohne gemeinsame begriffe"),
    ]
    out = {
        r.doc_id: r
        for r in importance_weights(
            spark.createDataFrame(rows, ["doc_id", "lang", "text"])
        ).collect()
    }
    # the target-like doc scores above the disjoint-vocabulary doc
    assert (
        out[3].importance_mean_scaled > out[4].importance_mean_scaled
    ), (out[3], out[4])
    # docs IN the target set score at least as high as the disjoint doc
    assert out[1].importance_mean_scaled > out[4].importance_mean_scaled


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """Schleimer et al.'s winnowing guarantee: any shared token run of
    length >= w + k - 1 (= 8 tokens here) must produce at least one
    common (hash) fingerprint between the two documents, regardless of
    position. Positions differ across docs, so compare hash parts."""
    from spark_streaming_twitter_spark.text.analysis import winnow_selections

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, "one two three " + shared + " four five six"),
        (2, shared + " completely different tail words here now"),
        (3, "unrelated content with no overlap at all whatsoever kept"),
    ]
    out = {
        r.doc_id: {fp.split(":")[1] for fp in r.fps}
        for r in winnow_selections(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1] & out[2], "shared 8-token run must share a fingerprint"
    assert not (out[1] & out[3]) or not (out[2] & out[3])


def test_winnowing_density_near_theory(spark):
    """Schleimer et al. prove expected density 2/(w+1) for random hashes
    (= 0.4 at w=4). Pin the corpus-level mean selected/shingle ratio to
    a band around theory — a selector bug (wrong window, wrong dedupe)
    lands far outside it."""
    from pyspark.sql import functions as F

    from spark_streaming_twitter_spark.catalog import table
    from spark_streaming_twitter_spark.text.analysis import winnow_digests

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    out = winnow_digests(docs).agg(
        F.sum("n_fingerprints").alias("fp"), F.sum("n_shingles").alias("sh")
    ).collect()[0]
    density = out.fp / out.sh
    assert 0.30 <= density <= 0.55, density


@given(
    st.lists(
        st.lists(st.sampled_from(TAGS), min_size=1, max_size=20),
        min_size=1,
        max_size=5,
    )
)
@_SETTINGS
def test_chunk_keep_first_matches_python(spark, docs):
    """Randomized chunk-dedup check vs a plain-Python reference: same
    8-token chunking, same first-(doc_id, idx)-wins keeper rule —
    catches off-by-one chunk boundaries and tie-break drift."""
    from spark_streaming_twitter_spark.dedup.dedup import (
        _CHUNK_W,
        chunk_keep_first,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    got = {
        r.doc_id: (r.n_chunks, r.n_kept)
        for r in chunk_keep_first(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    seen: set[str] = set()
    want: dict[int, tuple[int, int]] = {}
    for doc_id, toks in enumerate(docs):
        chunks = [
            " ".join(toks[i : i + _CHUNK_W])
            for i in range(0, len(toks), _CHUNK_W)
        ]
        kept = 0
        for ch in chunks:
            if ch not in seen:
                seen.add(ch)
                kept += 1
        want[doc_id] = (len(chunks), kept)
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),
            st.lists(st.sampled_from(TAGS), min_size=1, max_size=10),
        ),
        min_size=2,
        max_size=5,
    )
)
@_SETTINGS
def test_importance_weights_match_python(spark, docs):
    """Randomized DSIR check vs a plain-Python reference that replays the
    md5 bucket hash, the conditional target count, the smoothed integer
    ratio, and the per-doc sum exactly."""
    import hashlib

    from spark_streaming_twitter_spark.text.corpus import (
        _DSIR_BUCKETS,
        _DSIR_SCALE,
        importance_weights,
    )

    rows = [(i, lang, " ".join(toks)) for i, (lang, toks) in enumerate(docs)]
    got = {
        r.doc_id: (r.n_feats, r.importance_scaled, r.importance_mean_scaled)
        for r in importance_weights(
            spark.createDataFrame(rows, ["doc_id", "lang", "text"])
        ).collect()
    }

    def bucket(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _DSIR_BUCKETS

    feats = []  # (doc_id, lang, bucket)
    for doc_id, (lang, toks) in enumerate(docs):
        fs = list(toks) + [
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        ]
        feats.extend((doc_id, lang, bucket(f)) for f in fs)
    s_b: dict[int, int] = {}
    t_b: dict[int, int] = {}
    for _, lang, b in feats:
        s_b[b] = s_b.get(b, 0) + 1
        if lang == "en":
            t_b[b] = t_b.get(b, 0) + 1
    wt = {b: ((t_b.get(b, 0) + 1) * _DSIR_SCALE) // (s + 1) for b, s in s_b.items()}
    want: dict[int, tuple[int, int, int]] = {}
    for doc_id in range(len(docs)):
        ws = [wt[b] for d, _, b in feats if d == doc_id]
        want[doc_id] = (len(ws), sum(ws), sum(ws) // len(ws))
    assert got == want


@given(
    st.lists(
        st.lists(st.sampled_from(TAGS), min_size=2, max_size=10),
        min_size=2,
        max_size=5,
    )
)
@_SETTINGS
def test_apss_pairs_match_python(spark, docs):
    """Randomized APSS check vs a plain-Python reference: bigram tf/df,
    the df cap, integer idf weights, BIGINT dots, and the IEEE cosine
    (math.sqrt == both engines' sqrt) replayed exactly."""
    import math

    from spark_streaming_twitter_spark.dedup.dedup import (
        _APSS_DF_CAP,
        _APSS_IDF_SCALE,
        _APSS_MIN_COSINE,
        dedup_tfidf_cosine_pairs,
    )
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # Spark side: run the registered query fn against a temp fixture dir
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.withColumn("lang", F.lit("en")).withColumn(
            "source", F.lit("s")
        ).withColumn("n_chars", F.length("text")).write.parquet(
            os.path.join(tmp, "documents.parquet")
        )
        got = {
            (r.doc_a, r.doc_b): (r.n_common, r.cosine)
            for r in dedup_tfidf_cosine_pairs(spark, tmp).collect()
        }

    # python reference
    tf: dict[tuple[int, str], int] = {}
    for doc_id, toks in enumerate(docs):
        for i in range(len(toks) - 1):
            g = f"{toks[i]} {toks[i + 1]}"
            tf[(doc_id, g)] = tf.get((doc_id, g), 0) + 1
    dfc: dict[str, int] = {}
    for (_, g), _c in tf.items():
        dfc[g] = dfc.get(g, 0) + 1
    n = len(docs)
    w = {
        (d, g): c * ((n * _APSS_IDF_SCALE) // dfc[g])
        for (d, g), c in tf.items()
        if dfc[g] <= _APSS_DF_CAP
    }
    norms: dict[int, int] = {}
    for (d, _g), wt in w.items():
        norms[d] = norms.get(d, 0) + wt * wt
    want: dict[tuple[int, int], tuple[int, float]] = {}
    for a in range(n):
        for b in range(a + 1, n):
            dot = 0
            n_common = 0
            for (d, g), wt in w.items():
                if d == a and (b, g) in w:
                    dot += wt * w[(b, g)]
                    n_common += 1
            if n_common == 0:
                continue
            cos = dot / (math.sqrt(norms[a]) * math.sqrt(norms[b]))
            if cos >= _APSS_MIN_COSINE:
                want[(a, b)] = (n_common, cos)
    assert got == want


@given(
    st.lists(
        st.lists(st.sampled_from(TAGS), min_size=1, max_size=25),
        min_size=1,
        max_size=4,
    )
)
@_SETTINGS
def test_winnowing_selection_matches_python(spark, docs):
    """Randomized winnowing check vs a plain-Python reference replaying
    shingling, the md5 hash, and the RIGHTMOST-minimal-hash window rule
    — the tie-break detail most likely to drift between engines."""
    import hashlib

    from spark_streaming_twitter_spark.text.analysis import (
        _WIN_SH,
        _WIN_W,
        winnow_selections,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    got = {
        r.doc_id: sorted(set(r.fps))
        for r in winnow_selections(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want: dict[int, list[str]] = {}
    for doc_id, toks in enumerate(docs):
        if len(toks) >= _WIN_SH:
            shs = [
                " ".join(toks[i : i + _WIN_SH])
                for i in range(len(toks) - _WIN_SH + 1)
            ]
        else:
            shs = [" ".join(toks)]
        hs = [h(s) for s in shs]
        sel = set()
        n_win = max(len(hs) - _WIN_W + 1, 1)
        for i in range(n_win):
            window = hs[i : i + min(_WIN_W, len(hs))]
            # rightmost minimal hash
            best_j, best_h = 0, window[0]
            for j, hv in enumerate(window):
                if hv <= best_h:
                    best_j, best_h = j, hv
            sel.add(f"{i + best_j:010d}:{best_h:019d}")
        want[doc_id] = sorted(sel)
    assert got == want


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_interval_binning_matches_brute_force(data):
    """Pure-Python replay of events_interval_burst_stats's bin rewrite:
    for ANY bin width, point set, and [start, end) interval set, the
    explode-onto-covered-bins + point-bin equi match + residual filter
    yields exactly the brute-force containment pairs, and every pair
    meets in exactly ONE bin (the point's) — the invariant that lets the
    Spark plan skip post-join dedup. Domain is non-negative (epoch
    seconds), matching Spark DIV == Python // there."""
    from collections import defaultdict

    bin_w = data.draw(st.integers(1, 50))
    pts = data.draw(st.lists(st.integers(0, 500), max_size=60))
    ivs = []
    for i in range(data.draw(st.integers(0, 20))):
        s = data.draw(st.integers(0, 500))
        # length <= 0 draws empty/inverted intervals: bin_interval_join
        # filters them (end > start guard) — they can match no point and
        # an unguarded descending F.sequence would explode them onto
        # bins they don't cover (ADVICE r7)
        ln = data.draw(st.integers(-30, 120))
        ivs.append((i, s, s + ln))

    brute = {
        (pi, wi)
        for pi, p in enumerate(pts)
        for wi, s, e in ivs
        if s <= p < e
    }

    buckets = defaultdict(list)
    for wi, s, e in ivs:
        if e <= s:  # the operator's precondition filter
            continue
        for b in range(s // bin_w, (e - 1) // bin_w + 1):
            buckets[b].append((wi, s, e))
    matches = [
        (pi, wi)
        for pi, p in enumerate(pts)
        for wi, s, e in buckets.get(p // bin_w, ())
        if s <= p < e
    ]

    assert len(matches) == len(set(matches)), "a pair met in two bins"
    assert set(matches) == brute


@settings(max_examples=300, deadline=None)
@given(st.integers(1, 10_000))
def test_tertile_rank_rule_is_balanced_and_monotone(n):
    """Pure-Python replay of doc_charlm_ccnet_buckets' bucket rule
    ((rn-1)*3 DIV n over rn in 1..n): buckets are contiguous in rank
    (monotone non-decreasing), all three appear whenever n >= 3, and
    sizes differ by at most 1 — the exact-tertile guarantee that makes
    the head/middle/tail keep decision reproducible at any corpus size."""
    buckets = [((rn - 1) * 3) // n for rn in range(1, n + 1)]
    assert buckets == sorted(buckets)
    assert set(buckets) <= {0, 1, 2}
    if n >= 3:
        assert set(buckets) == {0, 1, 2}
    from collections import Counter

    sizes = Counter(buckets).values()
    assert max(sizes) - min(sizes) <= 1


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet="theandingorest", min_size=1, max_size=10))
def test_unigram_viterbi_is_optimal_over_all_segmentations(tok):
    """The rolling-window DP in unigram_viterbi_scores (and its recursive-
    CTE oracle twin) must equal the brute-force maximum over ALL
    segmentations into vocab pieces of length 1-4 — optimality, not just
    cross-engine agreement. The alphabet is chosen to hit the multi-char
    pieces (the/and/ing/tion boundaries) constantly."""
    from spark_streaming_twitter_spark.text.analysis import (
        _UNIGRAM_VOCAB_FULL,
    )

    vocab = dict(_UNIGRAM_VOCAB_FULL)
    n = len(tok)

    best = [0] * (n + 1)
    for i in range(1, n + 1):
        b = best[i - 1] + vocab.get(tok[i - 1], 10)
        for ln in (2, 3, 4):
            if i >= ln:
                w = vocab.get(tok[i - ln : i])
                if w is not None:
                    b = max(b, best[i - ln] + w)
        best[i] = b

    def brute(pos):
        if pos == n:
            return 0
        out = None
        for ln in (1, 2, 3, 4):
            if pos + ln <= n:
                piece = tok[pos : pos + ln]
                w = vocab.get(piece, 10 if ln == 1 else None)
                if w is not None:
                    cand = w + brute(pos + ln)
                    out = cand if out is None else max(out, cand)
        return out

    assert best[n] == brute(0)


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_khop_wedge_minus_direct_equals_bfs_distance_two(data):
    """Pure-Python replay of copurchase_khop_features' hop-2 construction:
    (wedge join, dedup, minus self, minus direct neighbors) over a random
    undirected graph must equal the BFS exact-distance-2 set for every
    node — 'distance 2' really means distance 2, not 'reachable in 2'."""
    n = data.draw(st.integers(2, 12))
    edges = set()
    for _ in range(data.draw(st.integers(0, 20))):
        u = data.draw(st.integers(0, n - 1))
        v = data.draw(st.integers(0, n - 1))
        if u != v:
            edges.add((u, v))
            edges.add((v, u))

    # engine logic: wedge join + dedup - self - direct
    two = {
        (a, c)
        for (a, b) in edges
        for (b2, c) in edges
        if b == b2 and c != a
    }
    engine = two - edges

    # reference: BFS distance == 2
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
    bfs = set()
    for s in adj:
        d1 = adj[s]
        d2 = {w for v in d1 for w in adj.get(v, ()) if w != s} - d1
        bfs |= {(s, w) for w in d2}

    assert engine == bfs


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_prefix_filter_completeness_at_half_jaccard(data):
    """The prefix-filtering theorem behind dedup_prefix_filter_pairs
    (PPJoin/AllPairs): with every set's elements ordered by one GLOBAL
    order and each set indexing only its first n - ceil(t*n) + 1
    elements (t = 0.5 -> n DIV 2 + 1), every pair with Jaccard >= t
    shares at least one indexed element. Property-tested over random
    universes, set sizes, and skewed frequency orders — zero recall
    loss is the claim that lets the oracle be the naive algorithm
    verbatim."""
    import itertools
    import math

    n_docs = data.draw(st.integers(2, 25))
    uni = data.draw(st.integers(5, 40))
    docs = [
        data.draw(
            st.sets(st.integers(0, uni - 1), min_size=1, max_size=15)
        )
        for _ in range(n_docs)
    ]
    freq: dict[int, int] = {}
    for s in docs:
        for x in s:
            freq[x] = freq.get(x, 0) + 1
    rank = {
        x: i
        for i, x in enumerate(
            sorted(freq, key=lambda x: (freq[x], x))
        )
    }
    t = 0.5
    prefixes = []
    for s in docs:
        n = len(s)
        p = n - math.ceil(t * n) + 1
        prefixes.append(set(sorted(s, key=lambda x: rank[x])[:p]))
    for i, j in itertools.combinations(range(n_docs), 2):
        inter = len(docs[i] & docs[j])
        if inter / len(docs[i] | docs[j]) >= t:
            assert prefixes[i] & prefixes[j], (docs[i], docs[j])


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_positional_and_length_filters_sound_at_half_jaccard(data):
    """The two extra PPJoin/AllPairs prunes composed into
    dedup_prefix_filter_pairs must never kill a true pair (soundness —
    completeness of the prefix theorem is the test above):
    - LENGTH filter: J >= 0.5 forces max(na, nb) <= 2 * min(na, nb);
    - POSITIONAL filter (Xiao et al. WWW'08 §3.2): with both element
      lists ranked by one GLOBAL order, the FIRST shared prefix element
      at 1-based ranks (ia, jb) bounds the overlap,
      I <= 1 + min(na - ia, nb - jb), and J >= 0.5 needs 3*I >= na + nb
      — so every true pair must satisfy
      3 * (1 + min(na - ia, nb - jb)) >= na + nb."""
    import itertools
    import math

    n_docs = data.draw(st.integers(2, 25))
    uni = data.draw(st.integers(5, 40))
    docs = [
        data.draw(
            st.sets(st.integers(0, uni - 1), min_size=1, max_size=15)
        )
        for _ in range(n_docs)
    ]
    freq: dict[int, int] = {}
    for s in docs:
        for x in s:
            freq[x] = freq.get(x, 0) + 1
    rank = {
        x: i
        for i, x in enumerate(
            sorted(freq, key=lambda x: (freq[x], x))
        )
    }
    t = 0.5
    ordered = [sorted(s, key=lambda x: rank[x]) for s in docs]
    plens = [len(s) - math.ceil(t * len(s)) + 1 for s in docs]
    for i, j in itertools.combinations(range(n_docs), 2):
        inter = len(docs[i] & docs[j])
        if inter / len(docs[i] | docs[j]) < t:
            continue
        na, nb = len(docs[i]), len(docs[j])
        assert max(na, nb) <= 2 * min(na, nb), (docs[i], docs[j])
        shared_first = [
            (ordered[i].index(x) + 1, ordered[j].index(x) + 1)
            for x in docs[i] & docs[j]
            if ordered[i].index(x) < plens[i]
            and ordered[j].index(x) < plens[j]
        ]
        assert shared_first, (docs[i], docs[j])  # prefix theorem again
        ia = min(p for p, _ in shared_first)
        jb = min(q for _, q in shared_first)
        # consistent global order: both mins come from the same element
        assert (ia, jb) in shared_first, (docs[i], docs[j])
        assert 3 * (1 + min(na - ia, nb - jb)) >= na + nb, (
            docs[i],
            docs[j],
            (ia, jb),
        )
