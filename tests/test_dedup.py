"""Behavioral tests for the dedup family on constructed near-duplicates.

The oracle-parity suite proves Spark==DuckDB on the fixtures; these tests
prove the algorithms DETECT what they should: planted near-dups are found,
unrelated docs are not.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.dedup.dedup import (
    doc_shingles,
    lsh_candidate_pairs,
    minhash_buckets,
    scaled_dot,
    scaled_norm2,
    simhash_signatures,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "the old house near the river bank under the summer sun"
)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    rows = [
        (0, BASE),
        (1, BASE.replace("summer", "winter")),          # 1-token edit: near-dup
        (2, BASE.replace("quick brown", "slow red")),   # 2-token edit: near-dup
        (3, "completely different text about spark sql aggregation plans "
            "and shuffle partitioning strategies for large clusters with "
            "many executors running adaptive query execution every day"),
        (4, BASE),                                      # exact dup of 0
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_lsh_finds_planted_near_dups(near_dup_docs):
    pairs = lsh_candidate_pairs(minhash_buckets(doc_shingles(near_dup_docs)))
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 4) in got, "exact dup must always collide in every band"
    assert (0, 1) in got, "1-token edit should be an LSH candidate"
    assert not any(3 in p for p in got), "unrelated doc must not pair"


def test_rowwise_band_structs_match_batch_buckets(near_dup_docs):
    """The streaming ingest path's ROW-WISE band keys (F.aggregate fold,
    no shuffle) must equal the batch minhash_buckets path bit-for-bit —
    the contract stream_text_minhash_ingest_dedup's broadcast probe
    relies on (a stream doc and its static twin must land in the same
    buckets). Includes an empty-text row (single '' shingle edge)."""
    from spark_streaming_twitter_spark.dedup.dedup import (
        SHINGLE_N,
        minhash_band_structs_from_sig,
        minhash_signature_struct,
        shingles,
        tokens,
    )

    docs = near_dup_docs.union(
        near_dup_docs.sparkSession.createDataFrame(
            [(5, ""), (6, "one two")], ["doc_id", "text"]
        )
    )
    batch = {
        (r.doc_id, r.band, r.band_key)
        for r in minhash_buckets(doc_shingles(docs)).collect()
    }
    rowwise = {
        (r.doc_id, r.bk.band, r.bk.band_key)
        for r in docs.withColumn(
            "sig",
            minhash_signature_struct(
                shingles(tokens(F.lower(F.col("text"))), SHINGLE_N)
            ),
        )
        .select(
            "doc_id",
            F.explode(minhash_band_structs_from_sig(F.col("sig"))).alias(
                "bk"
            ),
        )
        .collect()
    }
    assert rowwise == batch


def test_exact_dup_matches_all_bands(near_dup_docs):
    pairs = lsh_candidate_pairs(minhash_buckets(doc_shingles(near_dup_docs)))
    row = pairs.where((F.col("doc_a") == 0) & (F.col("doc_b") == 4)).collect()
    assert row and row[0].n_bands == 4


def test_bucket_cap_bounds_adversarial_boilerplate(spark):
    # 40 docs sharing one boilerplate text (an adversarial shingle bucket:
    # every band key collides for all 40) plus one genuine near-dup pair of
    # distinct text. Uncapped, the boilerplate bucket alone yields
    # C(40,2)=780 candidate pairs; capped at 8 it contributes C(8,2)=28,
    # and the genuine pair in its own small bucket survives untouched.
    boiler = [(i, "terms of service apply to all users of this site " * 3)
              for i in range(40)]
    genuine = [(100, BASE), (101, BASE.replace("summer", "winter"))]
    docs = spark.createDataFrame(boiler + genuine, ["doc_id", "text"])
    buckets = minhash_buckets(doc_shingles(docs))

    uncapped = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(buckets).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(buckets, bucket_cap=8).collect()
    }
    assert len(uncapped) == 780 + 1
    boiler_capped = {p for p in capped if p[0] < 100}
    assert boiler_capped == {(a, b) for a in range(8) for b in range(a + 1, 8)}
    assert (100, 101) in capped, "small buckets must be unaffected by the cap"


def test_simhash_distance_orders_by_similarity(near_dup_docs):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(near_dup_docs).collect()}
    ham = lambda a, b: bin(sigs[a] ^ sigs[b]).count("1")
    assert ham(0, 4) == 0, "identical docs -> identical simhash"
    assert ham(0, 1) < ham(0, 3), "near-dup must be closer than unrelated"
    assert ham(0, 1) <= 8
    assert ham(0, 3) > 8


def test_scaled_dot_is_exact_cosine(spark):
    import math

    a = [0.6, 0.8, 0.0]
    b = [0.8, 0.6, 0.0]
    df = spark.createDataFrame(
        [(a, b)], ["va", "vb"]
    ).select(
        scaled_dot(F.col("va"), F.col("vb")).alias("dot"),
        scaled_norm2(F.col("va")).alias("na"),
        scaled_norm2(F.col("vb")).alias("nb"),
    )
    r = df.collect()[0]
    cos = r.dot / math.sqrt(r.na * r.nb)
    assert abs(cos - 0.96) < 1e-9  # (0.48+0.48)/1


def test_decontamination_flags_benchmark_copies(spark):
    """A corpus doc that copies a benchmark doc's text must be flagged
    contaminated; an unrelated doc must not be."""
    from pyspark.sql import functions as F

    from spark_streaming_twitter_spark.dedup.dedup import doc_shingles

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (50, bench_text),  # benchmark doc (id % 50 == 0)
        (51, bench_text),  # verbatim copy -> contaminated
        (52, "one two three four five six seven eight nine"),  # clean
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = doc_shingles(docs)
    bench = sh.where(F.col("doc_id") % 50 == 0).select("sh").distinct()
    corpus = sh.where(F.col("doc_id") % 50 != 0)
    totals = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    hits = (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    flags = {
        r.doc_id: r.flag
        for r in totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce("h", F.lit(0)) * 2 >= F.col("n")).alias("flag"),
        )
        .collect()
    }
    assert flags == {51: True, 52: False}


def test_exact_first_drop_list_equals_unstaged(spark):
    """The exact-first staging in dedup_drop_list must produce the SAME
    drop set as running near-dup verification over the full corpus, on a
    planted mix of exact copies and near-duplicates."""
    from pyspark.sql import Window, functions as F

    from spark_streaming_twitter_spark.dedup.dedup import (
        near_dup_verified_pairs,
    )

    # 12 tokens, one differing tail token: 9 of 10+10 shingles shared ->
    # jaccard 9/11 = 0.818 >= 0.8 (the 10-token version lands at 7/9 = 0.78
    # and would NOT verify)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"
    near = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu xi"
    rows = [
        (3, base),   # exact copy cluster {1, 3, 7}: keep 1, drop 3 and 7
        (1, base),
        (7, base),
        (5, near),   # near-dup of the cluster: dropped (pairs with 1 < 5)
        (9, "one two three four five six seven eight nine ten"),  # clean
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # unstaged: verified pairs over the full corpus, drop doc_b
    unstaged = {
        r.doc_id
        for r in near_dup_verified_pairs(docs, docs)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .collect()
    }

    # staged: exact pass first, near-dup over canonicals only
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    w = Window.partitionBy("h")
    exact_drops = (
        hashed.withColumn("keep", F.min("doc_id").over(w))
        .where(F.col("doc_id") != F.col("keep"))
        .select("doc_id")
    )
    canon = docs.join(exact_drops, "doc_id", "left_anti")
    near_drops = (
        near_dup_verified_pairs(canon, docs)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    staged = {
        r.doc_id for r in exact_drops.unionAll(near_drops).distinct().collect()
    }

    assert staged == unstaged == {3, 5, 7}


def test_exact_first_group_ids_include_exact_clusters(spark, monkeypatch):
    """Staged group_ids must label exact copies with their canonical's
    group and keep pure-exact clusters as groups of their own."""
    from pyspark.sql import functions as F

    import spark_streaming_twitter_spark.dedup.dedup as dd

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"
    near = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu xi"
    rows = [
        (3, base), (1, base), (7, base),     # exact cluster, canon 1
        (5, near),                            # near-dup bridges to group 1
        (20, "only twenty exact copy text"),  # pure exact cluster {20, 24}
        (24, "only twenty exact copy text"),
        (9, "one two three four five six seven eight nine ten"),  # clean
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    monkeypatch.setattr(
        dd, "table", lambda spark_, sf_dir_, name_: docs
    )
    got = {
        r.doc_id: r.group_id
        for r in dd.dedup_group_ids(spark, "unused").collect()
    }
    assert got == {1: 1, 3: 1, 5: 1, 7: 1, 20: 20, 24: 20}


def test_star_cc_matches_min_label_on_random_graphs(spark):
    """Property: the large-star/small-star kernel and the min-label kernel
    produce IDENTICAL (node, component-min) labelings on arbitrary graphs —
    long paths (diameter stress, where min-label is slowest), empty edge
    sets, self-loops, duplicate edges, and seeded random graphs.
    """
    import random

    from spark_streaming_twitter_spark.dedup.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(20260813)
    cases: list[list[tuple[int, int]]] = [
        [(i, i + 1) for i in range(12)],  # path: diameter 12
        [],  # no edges: every node isolated
        [(5, 5), (7, 7)],  # self-loops only == no edges
        [(1, 2), (2, 1), (1, 2)],  # duplicates + both orientations
    ]
    for _ in range(3):
        n = rng.randrange(5, 30)
        cases.append(
            [
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randrange(1, 2 * n))
            ]
        )
    for edges in cases:
        nodes = sorted({x for e in edges for x in e} | {0, 99})
        edf = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
        ndf = spark.createDataFrame([(x,) for x in nodes], "id long")
        want = {
            r["doc_id"]: r["group_id"]
            for r in connected_components(edf, ndf).collect()
        }
        got = {
            r["doc_id"]: r["group_id"]
            for r in connected_components_star(edf, ndf).collect()
        }
        assert got == want, (edges, got, want)


def test_df_cap_suppresses_boilerplate_pair_blowup(spark):
    """The exact pair scorers' hot-shingle guard: one
    boilerplate text shared by 40 docs makes every one of its shingles
    df=40, so the uncapped inverted join emits C(40,2)=780 pair rows per
    shingle. With df_cap=8 every boilerplate shingle is dropped before the
    join and the blow-up vanishes, while a genuine quotation pair (short
    doc verbatim inside a long one, rare shingles) keeps containment 1.0
    with TRUE uncapped sizes as denominators."""
    from spark_streaming_twitter_spark.dedup.dedup import _pair_scores_from
    from spark_streaming_twitter_spark.dedup.pairs import rare_keys

    boiler = [(i, "terms of service apply to all users of this site "
               "and govern every interaction with the platform")
              for i in range(40)]
    quoted = "an unusual sentence about cobalt finches nesting in radio towers"
    genuine = [
        (100, quoted),
        (101, quoted + " plus a long unique tail discussing migratory "
              "patterns observed near coastal lighthouses every autumn"),
    ]
    sh = doc_shingles(
        spark.createDataFrame(boiler + genuine, ["doc_id", "text"])
    )

    uncapped = _pair_scores_from(sh, sh)
    assert uncapped.where(F.col("doc_a") < 100).count() == 780

    capped = _pair_scores_from(sh, rare_keys(sh, "sh", 8))
    rows = capped.collect()
    assert all(r.doc_a >= 100 for r in rows), "boilerplate pairs must vanish"
    (pair,) = [r for r in rows if (r.doc_a, r.doc_b) == (100, 101)]
    # containment of the short doc in the long one is exact 1.0: n_common
    # equals the short doc's TRUE shingle count (denominator is uncapped)
    assert pair.n_common == pair.na
    assert pair.jaccard < 0.8, "jaccard alone would have missed this pair"


def test_df_cap_is_fixture_neutral(spark):
    """Cap=64 exceeds the max fixture shingle df (25 at sf0.1), so the
    capped queries must return EXACTLY the uncapped queries' rows on
    driver fixtures — the contract that lets the uncapped SQL remain the
    oracle."""
    from spark_streaming_twitter_spark.dedup.dedup import (
        dedup_containment_pairs,
        dedup_containment_pairs_capped,
    )

    sf = "/root/testdata/sf0.001"
    base = {tuple(r) for r in dedup_containment_pairs(spark, sf).collect()}
    capd = {
        tuple(r) for r in dedup_containment_pairs_capped(spark, sf).collect()
    }
    assert base == capd and base


def test_chunk_keep_first_removes_planted_boilerplate(spark):
    """Three docs share one verbatim 8-token boilerplate chunk; the doc
    with the smallest id keeps it, the others lose exactly that chunk,
    and a doc that is ALL boilerplate keeps nothing."""
    from spark_streaming_twitter_spark.dedup.dedup import chunk_keep_first

    boiler = "all rights reserved terms of service apply here"  # 8 tokens
    rows = [
        (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, boiler + " one two three four five six seven eight"),
        (3, boiler),  # pure boilerplate: every chunk already seen
    ]
    out = {
        r.doc_id: r
        for r in chunk_keep_first(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[1].n_chunks == 2 and out[1].n_kept == 2
    assert out[2].n_chunks == 2 and out[2].n_kept == 1
    assert out[2].kept_frac == 0.5
    assert out[3].n_chunks == 1 and out[3].n_kept == 0
    assert out[3].kept_frac == 0.0
    # doc 2's surviving text is exactly its unique chunk
    import hashlib

    want = hashlib.md5(b"one two three four five six seven eight").hexdigest()
    assert out[2].kept_md5 == want


def test_span_removal_matches_pure_python_replay(spark):
    """Full pure-Python reimplementation of the Lee-et-al. removal rule —
    positional shingles, df<=64 cap, diagonal runs, keep-first excision,
    reassembly — compared digest-for-digest against the Spark plan on the
    real fixture. Pins the keeper orientation (doc_b side excised), the
    interval arithmetic (span = run + SHINGLE_N - 1 tokens), and the
    overlap-union semantics in one shot."""
    import hashlib
    from collections import defaultdict

    from spark_streaming_twitter_spark.dedup.dedup import (
        SHINGLE_N,
        SPAN_MAX_SHINGLE_OCC,
        SPAN_MIN_TOKENS,
        dedup_span_removal,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.kept_md5)
        for r in dedup_span_removal(spark, sf).collect()
    }

    docs = {
        r.doc_id: [t for t in r.text.lower().split() if t]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    occ: dict[str, int] = defaultdict(int)
    psh: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for did, toks in docs.items():
        for p0 in range(len(toks) - SHINGLE_N + 1):
            sh = " ".join(toks[p0 : p0 + SHINGLE_N])
            occ[sh] += 1
            psh[sh].append((did, p0 + 1))
    diag_hits: dict[tuple[int, int, int], list[int]] = defaultdict(list)
    for sh, places in psh.items():
        if occ[sh] > SPAN_MAX_SHINGLE_OCC:
            continue
        for da, pa in places:
            for db, pb in places:
                if da < db:
                    diag_hits[(da, db, pa - pb)].append(pa)
    removed: dict[int, set[int]] = defaultdict(set)
    for (da, db, diag), pas in diag_hits.items():
        pas = sorted(set(pas))
        run_start = prev = pas[0]
        runs = []
        for pa in pas[1:]:
            if pa == prev + 1:
                prev = pa
            else:
                runs.append((run_start, prev))
                run_start = prev = pa
        runs.append((run_start, prev))
        for s, e in runs:
            span_tokens = e - s + 1 + SHINGLE_N - 1
            if span_tokens >= SPAN_MIN_TOKENS:
                pb_start = s - diag
                for p in range(pb_start, pb_start + span_tokens):
                    removed[db].add(p)
    n_docs_with_removal = 0
    for did, toks in docs.items():
        surv = [t for i, t in enumerate(toks, 1) if i not in removed[did]]
        md5 = hashlib.md5(" ".join(surv).encode()).hexdigest()
        want = (len(toks), len(toks) - len(surv), md5)
        assert got[did] == want, (did, got[did][:2], want[:2])
        if want[1]:
            n_docs_with_removal += 1
    assert n_docs_with_removal > 0, "fixture planted no removable spans"


def test_prefix_filter_pairs_equal_naive_inverted_index(spark):
    """dedup_prefix_filter_pairs must produce EXACTLY the rows of
    dedup_ngram_jaccard_pairs — same pairs, same n_common, bitwise-same
    jaccard — on the real fixture: the two Spark implementations of the
    same exact algorithm cross-check each other (stronger than each
    one's oracle alone, which they share)."""
    from spark_streaming_twitter_spark.dedup.dedup import (
        dedup_ngram_jaccard_pairs,
        dedup_prefix_filter_pairs,
    )

    sf = "/root/testdata/sf0.001"
    naive = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in dedup_ngram_jaccard_pairs(spark, sf).collect()
    }
    pref = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in dedup_prefix_filter_pairs(spark, sf).collect()
    }
    assert naive, "fixture planted no >= 0.5 Jaccard pairs"
    assert pref == naive


# ---------------------------------------------------------------------------
# The shared-key pair kernel (dedup/pairs.py) on small static frames.
# ---------------------------------------------------------------------------


def test_shared_key_pairs_equal_python_brute_force(spark):
    """Each unordered pair sharing a multi-column key appears once, smaller
    id first, never self-paired, counted once per shared key row pair:
    repeated (id, key) rows count again, and an id repeating a key never
    pairs with itself."""
    import random
    from collections import Counter

    from spark_streaming_twitter_spark.dedup.pairs import shared_key_pairs

    rnd = random.Random(7)
    rows = [
        (rnd.randrange(8), rnd.randrange(3), rnd.choice("xy")) for _ in range(40)
    ]
    rows += [(20, 9, "z"), (20, 9, "z"), (21, 9, "z")]  # planted repeats
    want = Counter(
        (r[0], s[0])
        for r in rows
        for s in rows
        if r[1:] == s[1:] and r[0] < s[0]
    )
    df = spark.createDataFrame(rows, "id long, k1 long, k2 string")
    pairs = shared_key_pairs(df, "id", ("k1", "k2"), ("id_a", "id_b", "n"))
    got = {(r.id_a, r.id_b): r.n for r in pairs.collect()}
    assert got == dict(want)
    assert got[(20, 21)] == 2


def test_rare_keys_keeps_a_key_at_exactly_cap(spark):
    """A key with exactly ``cap`` rows survives; one more row drops all of
    them. The cap counts rows per full (multi-column) key."""
    from spark_streaming_twitter_spark.dedup.pairs import rare_keys

    cap = 3
    rows = [(i, 1, "at_cap") for i in range(cap)]
    rows += [(i, 1, "over_cap") for i in range(cap + 1)]
    rows += [(i, 2, "over_cap") for i in range(cap)]  # other k1: at cap
    df = spark.createDataFrame(rows, "id long, k1 long, k2 string")
    got = sorted(tuple(r) for r in rare_keys(df, ("k1", "k2"), cap).collect())
    assert got == sorted(r for r in rows if r[1:] != (1, "over_cap"))
    assert rare_keys(df, "k2", cap).where(F.col("k2") == "over_cap").count() == 0
    assert rare_keys(df, "k2", cap).columns == df.columns


def test_hamming_pairs_equal_all_pairs_scan(spark):
    """With radius < n_chunks every pair within the radius shares a chunk
    slice (pigeonhole), so the chunk-LSH join equals an all-pairs Hamming
    scan, including the ``also`` signature's distance."""
    import random

    from spark_streaming_twitter_spark.dedup.pairs import hamming_pairs

    n_chunks, bits, radius = 4, 6, 3
    rnd = random.Random(11)
    width = n_chunks * bits
    sigs = []
    for g in range(6):
        base = rnd.getrandbits(width)
        for v in range(4):  # planted near copies: 0..4 flipped bits
            sig = base
            for b in rnd.sample(range(width), rnd.randrange(5)):
                sig ^= 1 << b
            sigs.append((g * 10 + v, sig, rnd.getrandbits(width)))
    want = {
        (a[0], b[0]): (bin(a[1] ^ b[1]).count("1"), bin(a[2] ^ b[2]).count("1"))
        for a in sigs
        for b in sigs
        if a[0] < b[0] and bin(a[1] ^ b[1]).count("1") <= radius
    }
    df = spark.createDataFrame(sigs, "id long, sig long, other long")
    out = hamming_pairs(
        df, "id", "sig", n_chunks, bits, radius, ("id_a", "id_b", "ham"),
        also=("other",),
    )
    assert out.columns == ["id_a", "id_b", "ham", "hamming_other"]
    got = {(r.id_a, r.id_b): (r.ham, r.hamming_other) for r in out.collect()}
    assert want and got == want
