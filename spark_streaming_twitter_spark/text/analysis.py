"""Text-analysis operators over the ``documents`` table.

Generalizes the reference's entire scalar-text surface — the hashtag regex
flatMap (TwitterDStreamTrendingHashtag.java:60-78, Pattern ``#\\w+``) and the
unused ``lang`` field it carries but never reads (Tweet.java:21) — into the
text-statistics toolkit an LLM-data pipeline needs: token counting, quality
scoring, language ID, and document fingerprinting.

Everything here is built-in column expressions (split / regexp_extract_all /
transform / slice / explode) — JVM-side, whole-stage-codegen'd, no Python in
any hot path. Per-document work is embarrassingly parallel: no shuffle except
where an explicit groupBy is documented.

Oracle-parity rules for float outputs: every DuckDB expression keeps at least
one DOUBLE operand per arithmetic op (DuckDB literals like ``100.0`` are
DECIMAL and would silently switch the whole expression to exact decimal
math); both engines then evaluate the identical IEEE-754 expression tree, so
values match bitwise with no rounding hacks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.catalog import table, widen
from spark_streaming_twitter_spark.dedup.pairs import rare_keys, shared_key_pairs
from spark_streaming_twitter_spark.functions.hashing import (
    portable_hash,
    portable_hash_sql,
)
from spark_streaming_twitter_spark.registry import QUERIES, query

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol —
# the regex class GPT-2-style byte-pair encoders apply before merges.
_BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# Tiny per-language marker lexicons for the language-ID heuristic (the
# Cavnar-Trenkle n-gram profile method reduced to its stopword core). Real
# pipelines plug in fastText here; the vote's exact output is oracle-pinned.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "y", "es", "una"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def tokens(text_col: Column) -> Column:
    """Whitespace tokens, empties dropped (split on ``\\s+`` runs)."""
    return F.filter(F.split(text_col, r"\s+"), lambda t: t != "")


def bpe_tokens(text_col: Column) -> Column:
    """BPE-style pre-tokens: letter runs, digit runs, single symbols."""
    return F.regexp_extract_all(text_col, F.lit(_BPE_RE), 0)


@query(
    "doc_token_stats",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS ws_toks,
         regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]') AS bpe_toks
  FROM documents
)
SELECT doc_id,
       CAST(len(ws_toks) AS INT) AS n_tokens,
       CAST(len(bpe_toks) AS INT) AS n_bpe_tokens,
       CAST(len(list_distinct(ws_toks)) AS INT) AS n_types,
       CAST(len(ws_toks) AS DOUBLE)
         / GREATEST(len(list_distinct(ws_toks)), 1) AS ttr_inv
FROM toks
""",
    doc="Token counting (SURVEY.md §2.8 text analysis): whitespace tokens + "
    "BPE-ish regex pre-tokens + type count and inverse type-token ratio. "
    "Pure per-row Project — zero shuffle at any scale.",
    bench=True,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    ws = tokens(F.col("text"))
    bpe = bpe_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(ws).alias("n_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.array_distinct(ws)).alias("n_types"),
        (
            F.size(ws).cast("double")
            / F.greatest(F.size(F.array_distinct(ws)), F.lit(1))
        ).alias("ttr_inv"),
    )


@query(
    "doc_quality_scores",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, n_chars, text,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CAST(n_chars AS DOUBLE) / GREATEST(len(toks), 1) AS mean_token_len,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE)
           / GREATEST(n_chars, 1) AS punct_ratio,
         CAST(len(list_filter(toks,
                  t -> list_contains(['the','a','of','and','to','is','in'], t)))
              AS DOUBLE) / GREATEST(len(toks), 1) AS stopword_ratio
  FROM toks
)
SELECT doc_id, n_tokens, mean_token_len, punct_ratio, stopword_ratio,
       0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         + 0.3 * (1.0 - punct_ratio)
         + 0.3 * LEAST(stopword_ratio * 5.0, 1.0) AS quality
FROM scored
""",
    doc="Quality scoring (length/punct/stopword ratios -> [0,1] score), the "
    "C4/Gopher-style heuristic filter stage of a training-data pipeline. "
    "Per-row expressions only — no shuffle.",
    bench=True,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars"), spark)
    return quality_projection(docs)


def quality_projection(docs: DataFrame) -> DataFrame:
    """The C4/Gopher-style heuristic score as a pure per-row projection
    over (doc_id, text, n_chars) — shared verbatim by the batch query and
    the streaming ingest gate (a projection has no state, no watermark,
    no shuffle, so it runs identically on a streaming DataFrame)."""
    toks = tokens(F.col("text"))
    stop = F.array([F.lit(s) for s in ("the", "a", "of", "and", "to", "is", "in")])
    n_tokens = F.size(toks)
    punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[^a-zA-Z0-9\s]"), 0))
    scored = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (F.col("n_chars").cast("double") / F.greatest(n_tokens, F.lit(1))).alias(
            "mean_token_len"
        ),
        (punct.cast("double") / F.greatest(F.col("n_chars"), F.lit(1))).alias(
            "punct_ratio"
        ),
        (
            F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double")
            / F.greatest(n_tokens, F.lit(1))
        ).alias("stopword_ratio"),
    )
    quality = (
        0.4 * F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.col("punct_ratio"))
        + 0.3 * F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
    )
    return scored.withColumn("quality", quality)


@query(
    "stream_quality_gate_ingest",
    oracle=QUERIES["doc_quality_scores"].oracle,
    doc="Quality scoring AT INGEST — the third stage of the at-ingest "
    "curation trilogy (near-dup dedup and benchmark decontamination "
    "already have streaming twins), so the full batch curation pipeline "
    "now runs where documents enter the corpus: the C4/Gopher heuristic "
    "score is a pure per-row projection (quality_projection, shared "
    "verbatim with doc_quality_scores), which is exactly why it streams "
    "for free — no state, no watermark, append mode, per-batch cost "
    "O(batch). Oracle is the batch scorer's VERBATIM: streaming the "
    "corpus must not change a single score bit. At 100 TB this is the "
    "cheapest curation stage and the first gate in the ingest topology "
    "(score before you shingle: a doc dropped here never pays banding).",
)
def stream_quality_gate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from spark_streaming_twitter_spark.streaming.harness import (
        run_to_memory,
    )

    with tempfile.TemporaryDirectory(
        prefix="quality_stream_", ignore_cleanup_errors=True
    ) as tmp:
        data_dir = os.path.join(tmp, "docs")
        docs = table(spark, sf_dir, "documents").select(
            "doc_id", "text", "n_chars"
        )
        docs.repartition(4).write.parquet(data_dir)
        par = spark.sparkContext.defaultParallelism
        stream = (
            spark.readStream.schema("doc_id long, text string, n_chars bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(data_dir)
        )
        scored = quality_projection(stream.repartition(par))
        sink = run_to_memory(scored, output_mode="append")
        return spark.createDataFrame(sink.collect(), sink.schema)


def _lang_marker_rows() -> list[tuple[str, str]]:
    return [(lang, m) for lang, markers in _LANG_MARKERS.items() for m in markers]


@query(
    "doc_lang_id",
    oracle=f"""
WITH markers (m_lang, marker) AS (
  VALUES {", ".join(f"('{lang}', '{m}')" for lang, m in _lang_marker_rows())}
),
toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
  FROM documents
),
votes AS (
  SELECT t.doc_id, m.m_lang, count(*) AS n_hits
  FROM toks t JOIN markers m ON t.tok = m.marker
  GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, m_lang, n_hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, m_lang ASC) AS rn
  FROM votes
)
SELECT d.doc_id, d.lang,
       coalesce(r.m_lang, 'und') AS pred_lang,
       coalesce(r.n_hits, 0) AS n_marker_hits
FROM documents d
LEFT JOIN ranked r ON d.doc_id = r.doc_id AND r.rn = 1
""",
    doc="Language-ID heuristic: marker-token vote per language. The marker "
    "lexicon joins as a broadcast — the token stream never shuffles for the "
    "join; the vote agg shuffles (doc_id, lang) pairs only. 'und' = no "
    "markers matched. Deterministic tie-break: min lang code.",
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "lang", "text"), spark)
    markers = spark.createDataFrame(_lang_marker_rows(), ["m_lang", "marker"])
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    votes = (
        toks.join(F.broadcast(markers), toks.tok == markers.marker)
        .groupBy("doc_id", "m_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("m_lang").asc()
    )
    best = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("m_lang").alias("pred_lang"), "n_hits")
    )
    return (
        docs.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("n_hits", F.lit(0).cast("bigint")).alias("n_marker_hits"),
        )
    )


@query(
    "doc_fingerprints",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')
           AS toks
  FROM documents
),
shingled AS (
  SELECT doc_id,
         md5(array_to_string(toks, ' ')) AS content_md5,
         CASE WHEN len(toks) >= 5
              THEN list_transform(generate_series(1, len(toks) - 4),
                                  i -> array_to_string(toks[i:i+4], ' '))
              ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM toks
),
exploded AS (
  SELECT doc_id, content_md5, unnest(shingles) AS sh FROM shingled
)
SELECT doc_id, content_md5,
       min({portable_hash_sql("sh")}) AS min_shingle_hash,
       max({portable_hash_sql("sh")}) AS max_shingle_hash,
       CAST(count(DISTINCT sh) AS INT) AS n_distinct_shingles
FROM exploded
GROUP BY doc_id, content_md5
""",
    doc="Document fingerprinting: whole-content md5 + rolling 5-token "
    "shingle hashes (min/max = a 2-sketch of the shingle set; the same "
    "shingle->hash pipeline MinHash dedup builds on). Per-row generate + "
    "per-doc agg — shuffle carries (doc_id, hash) pairs only.",
    bench=True,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    with_toks = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    # 5-token shingles via transform over an index sequence; documents
    # shorter than 5 tokens contribute their whole text as one shingle.
    shingles = F.when(
        F.size("toks") >= 5,
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 5),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i + 1, 5)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", F.col("toks"))))
    exploded = with_toks.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.col("toks"))).alias("content_md5"),
        F.explode(shingles).alias("sh"),
    ).withColumn("h", portable_hash(F.col("sh")))  # hash once, agg twice
    return exploded.groupBy("doc_id", "content_md5").agg(
        F.min("h").alias("min_shingle_hash"),
        F.max("h").alias("max_shingle_hash"),
        F.count_distinct(F.col("sh")).cast("int").alias("n_distinct_shingles"),
    )


@query(
    "doc_repetition_scores",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    t -> t <> '')) AS tok
  FROM documents
),
tok_counts AS (
  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
),
tok_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(max(c) AS BIGINT) AS top_tok
  FROM tok_counts GROUP BY 1
),
grams AS (
  SELECT t.doc_id, t.l[i] || ' ' || t.l[i + 1] AS g
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS l
        FROM documents) t,
       unnest(generate_series(1, len(t.l) - 1)) AS u(i)
),
gram_counts AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
),
gram_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         CAST(max(c) AS BIGINT) AS top_gram
  FROM gram_counts GROUP BY 1
)
SELECT t.doc_id, t.n_tokens,
       CAST(t.top_tok AS DOUBLE) / t.n_tokens AS top_token_frac,
       CAST(coalesce(g.top_gram, 0) AS DOUBLE)
         / GREATEST(coalesce(g.n_grams, 0), 1) AS top_bigram_frac
FROM tok_stats t LEFT JOIN gram_stats g ON t.doc_id = g.doc_id
""",
    doc="Repetition signals (the Gopher-rule quality features): fraction "
    "of the doc taken by its most frequent token and by its most "
    "frequent 2-gram — high values mark boilerplate/spam for the "
    "curation filter. Two explode->count->max pipelines, each shuffling "
    "(doc_id, term) pairs once; ratios are single IEEE divisions.",
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    toks_arr = tokens(F.lower(F.col("text")))
    toks = docs.select("doc_id", F.explode(toks_arr).alias("tok"))
    tok_stats = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_tokens"), F.max("c").alias("top_tok"))
    )
    grams_arr = F.when(
        F.size(toks_arr) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks_arr) - 2),
            lambda i: F.concat_ws(
                " ", F.slice(toks_arr, i + 1, 1)[0], F.slice(toks_arr, i + 2, 1)[0]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select("doc_id", F.explode(grams_arr).alias("g"))
    gram_stats = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_grams"), F.max("c").alias("top_gram"))
    )
    return (
        tok_stats.join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("top_tok").cast("double") / F.col("n_tokens")).alias(
                "top_token_frac"
            ),
            (
                F.coalesce("top_gram", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1))
            ).alias("top_bigram_frac"),
        )
    )


# PII patterns: RE2-safe (no backreferences), identical semantics in Java
# regex (Spark) and RE2 (DuckDB). The fixture corpus contains no PII — the
# zero counts ARE the expected oracle output; the redaction mechanics are
# pinned by tests/test_tweets.py-style unit tests with planted PII.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


@query(
    "doc_pii_redaction",
    oracle=rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM documents
""",
    doc="PII scrubbing (the compliance stage of a training-data "
    "pipeline): count + redact emails and phone numbers with RE2-safe "
    "patterns, emit the redacted-text digest. Pure per-row Project — "
    "zero shuffle; the md5 lets the oracle verify the full redacted "
    "byte stream without emitting document text.",
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PHONE_RE), 0)).alias(
            "n_phones"
        ),
        F.md5(redacted).alias("redacted_md5"),
    )


# Heavy-hitters support threshold (fraction of total token count) and the
# per-partition Misra-Gries counter budget. Guarantee: a term with global
# frequency > N/K_MG exceeds N_p/K_MG in at least one partition (pigeonhole),
# so every term above the (much larger) SUPPORT threshold survives pass 1.
HH_SUPPORT = 0.02
K_MG = 256


@query(
    "frequent_terms_heavy_hitters",
    oracle=rf"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS term
  FROM documents
),
tot AS (SELECT count(*) AS n_total FROM toks)
SELECT term, count(*) AS n,
       CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot) AS freq
FROM toks
GROUP BY term
HAVING count(*) > {HH_SUPPORT} * (SELECT CAST(n_total AS DOUBLE) FROM tot)
""",
    doc="Two-pass distributed heavy hitters: pass 1 runs a Misra-Gries "
    f"summary (k={K_MG} counters) per partition inside mapInPandas — "
    "constant memory per task, candidates only, no counts kept; pass 2 "
    "exactly recounts ONLY the candidate terms (broadcast semi-join "
    "before the agg) and filters by the support threshold. The MG "
    "pigeonhole guarantee makes pass 1 lossless for every true heavy "
    "hitter, so the final output is EXACT — identical to the oracle's "
    "full group-by — while pass 1's shuffle carries at most "
    "k x partitions rows instead of the whole token stream. This is the "
    "100 TB shape: the full-token group-by the oracle runs is the thing "
    "this operator avoids.",
)
def frequent_terms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = widen(table(spark, sf_dir, "documents").select("text"), spark)
    toks = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))

    def misra_gries(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for term in pdf["term"]:
                if term in counters:
                    counters[term] += 1
                elif len(counters) < K_MG:
                    counters[term] = 1
                else:
                    # decrement-all step; drop zeroed counters
                    for t in list(counters):
                        counters[t] -= 1
                        if counters[t] == 0:
                            del counters[t]
        yield pd.DataFrame({"term": list(counters.keys())})

    candidates = toks.mapInPandas(misra_gries, "term string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        toks.join(F.broadcast(candidates), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n") > HH_SUPPORT * F.col("n_total").cast("double"))
        .select(
            "term",
            "n",
            (F.col("n").cast("double") / F.col("n_total")).alias("freq"),
        )
    )


# Fixed query-term set for the retrieval demo (all present in the synthetic
# corpus; any literal list works — the terms are the "user query").
_SEARCH_TERMS: tuple[str, ...] = ("spark", "vector", "window")

# Linear-idf scale: score = tf * (N * 1_000_000 DIV df). Linear idf (N/df)
# instead of log(N/df) keeps the arithmetic exact-integer on both engines
# (log is libm — last-ulp drift breaks the value-hash gate); it is
# rank-equivalent to log-idf for single-term scoring and documented as the
# engine's deterministic scoring contract.
_IDF_SCALE = 1_000_000


@query(
    "keyword_search_topk",
    oracle=f"""
WITH postings AS (
  SELECT t.term, d.doc_id, count(*) AS tf
  FROM documents d,
       unnest(list_filter(string_split_regex(lower(d.text), '\\s+'),
                          x -> x <> '')) AS u(term)
  JOIN (VALUES {", ".join(f"('{t}')" for t in _SEARCH_TERMS)}) t(term)
    ON u.term = t.term
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT p.term, p.doc_id, p.tf, df.df,
         p.tf * ((SELECT n_docs FROM n) * {_IDF_SCALE} // df.df)
           AS score_scaled,
         row_number() OVER (PARTITION BY p.term
                            ORDER BY p.tf * ((SELECT n_docs FROM n)
                                             * {_IDF_SCALE} // df.df) DESC,
                                     p.doc_id ASC) AS rank
  FROM postings p JOIN df USING (term)
)
SELECT term, doc_id, tf, df, CAST(score_scaled AS BIGINT) AS score_scaled,
       CAST(rank AS BIGINT) AS rank
FROM scored WHERE rank <= 10
""",
    doc="Inverted-index keyword search: the token ARRAY is filtered to the "
    "query terms per-row BEFORE the explode (a Project-level lambda "
    "filter — the Generate never emits a non-matching token, so at "
    "100 TB the posting build moves only matching tokens). The postings "
    "table is materialized once (localCheckpoint; a parquet write at "
    "cluster scale) so df derives from it without a second corpus scan. "
    "df and N join broadcast; scoring is exact-integer linear-idf tf-idf "
    "(see _IDF_SCALE note); top-10 per term via rank window (compiles to "
    "WindowGroupLimit) over the tiny scored set. Deterministic tie-break "
    "on doc_id.",
    bench=True,
)
def keyword_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = F.array([F.lit(t) for t in _SEARCH_TERMS])
    matching = F.filter(
        tokens(F.lower(F.col("text"))), lambda t: F.array_contains(terms, t)
    )
    postings = (
        docs.select("doc_id", F.explode(matching).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_scaled",
            F.expr(f"tf * ((n_docs * {_IDF_SCALE}) DIV df)"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score_scaled").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 10)
        .select("term", "doc_id", "tf", "df", "score_scaled", "rank")
    )


# "Trained-offline" linear quality model: fixed integer weights over
# integer-scaled features, plan-embedded as literals (the production shape:
# the model rides the plan as constants / a broadcast, never a shuffle).
# Thresholding the logit is equivalent to thresholding the sigmoid
# (monotone), so the whole inference path stays in exact BIGINT arithmetic.
_CLF_BIAS = -600_000
_CLF_W_LEN = 8_000      # x least(n_tokens, 200)
_CLF_W_STOP = 2         # x stopword parts-per-million
_CLF_W_PUNCT = -3       # x punctuation parts-per-million
_CLF_W_DIGIT = -2       # x digit parts-per-million


def classifier_logit() -> Column:
    """The linear model's logit as a column expression over (text, n_chars).

    Exact BIGINT throughout (see doc_quality_classifier); reused by the
    capstone pipeline so gate and standalone query share one definition.
    """
    stop = F.array([F.lit(s) for s in ("the", "a", "of", "and", "to", "is", "in")])
    tk = tokens(F.col("text"))
    tk_lower = tokens(F.lower(F.col("text")))
    n_tokens = F.size(tk)
    n_stop = F.size(F.filter(tk_lower, lambda t: F.array_contains(stop, t)))
    n_punct = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[^a-zA-Z0-9\s]"), 0)
    )
    n_digit = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[0-9]"), 0))

    def ppm(num: Column, den: Column) -> Column:
        # exact integer parts-per-million
        return (num.cast("bigint") * F.lit(1_000_000)) / F.greatest(
            den, F.lit(1)
        ).cast("bigint")

    return (
        F.lit(_CLF_BIAS)
        + F.lit(_CLF_W_LEN) * F.least(n_tokens, F.lit(200)).cast("bigint")
        + F.lit(_CLF_W_STOP)
        * F.floor(ppm(n_stop, n_tokens)).cast("bigint")
        + F.lit(_CLF_W_PUNCT)
        * F.floor(ppm(n_punct, F.col("n_chars"))).cast("bigint")
        + F.lit(_CLF_W_DIGIT)
        * F.floor(ppm(n_digit, F.col("n_chars"))).cast("bigint")
    )


@query(
    "doc_quality_classifier",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, source, n_chars,
         list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS tk,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
           AS tk_lower,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit
  FROM documents
),
feats AS (
  SELECT doc_id, source,
         {_CLF_BIAS}
         + {_CLF_W_LEN} * LEAST(len(tk), 200)
         + {_CLF_W_STOP} * (len(list_filter(tk_lower,
               t -> list_contains(['the','a','of','and','to','is','in'], t)))
             * 1000000 // GREATEST(len(tk), 1))
         + ({_CLF_W_PUNCT}) * (n_punct * 1000000 // GREATEST(n_chars, 1))
         + ({_CLF_W_DIGIT}) * (n_digit * 1000000 // GREATEST(n_chars, 1))
           AS logit
  FROM toks
),
agg AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN logit >= 0 THEN 1 ELSE 0 END) AS n_kept,
         sum(logit) AS sum_logit
  FROM feats GROUP BY 1
),
best AS (
  SELECT source, doc_id AS top_doc_id FROM (
    SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
                              ORDER BY logit DESC, doc_id ASC) AS rn
    FROM feats
  ) WHERE rn = 1
)
SELECT a.source, a.n_docs, CAST(a.n_kept AS BIGINT) AS n_kept,
       CAST(a.n_kept AS BIGINT) * 1000000 // a.n_docs AS kept_ppm,
       CAST(a.sum_logit AS BIGINT) AS sum_logit, b.top_doc_id
FROM agg a JOIN best b ON a.source = b.source
""",
    doc="Model-based quality filtering — the learned-classifier stage "
    "(fastText/logistic-regression class) that follows the heuristic "
    "doc_quality_scores gate in a real training-data pipeline. The model "
    "is a fixed integer-weight linear scorer over integer-scaled features "
    "(capped token count, stopword/punct/digit parts-per-million): "
    "inference is per-row JVM expressions with the weights embedded in "
    "the plan as literals — no shuffle, no Python, no model server. "
    "keep = logit >= 0 (sigmoid is monotone, so the threshold commutes "
    "past it and the whole path stays exact BIGINT). Per-source keep "
    "accounting plus argmax doc in ONE aggregate — max(struct(logit, "
    "-doc_id)) gives highest-logit-then-min-doc_id without a second scan "
    "or window (the oracle's row_number ordering, single-pass). Scale: "
    "scoring is embarrassingly parallel over the scan; the single "
    "shuffle keys on `source` and is map-side combinable / skew-safe at "
    "any corpus size.",
)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text", "n_chars"
        ),
        spark,
    )
    feats = docs.select("doc_id", "source", classifier_logit().alias("logit"))
    # single pass, single shuffle: the argmax doc rides the same aggregate
    # as the counts via max(struct(logit, -doc_id)) — highest logit, then
    # (by the negated id) the LOWEST doc_id on ties, matching the oracle's
    # row_number ordering without a second scan or a window
    agg = feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("logit") >= 0, 1).otherwise(0)).alias("n_kept"),
        F.sum("logit").alias("sum_logit"),
        F.max(
            F.struct(
                F.col("logit").alias("l"), (-F.col("doc_id")).alias("nid")
            )
        ).alias("best"),
    )
    return agg.select(
        "source",
        "n_docs",
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.floor(
            (F.col("n_kept").cast("bigint") * F.lit(1_000_000))
            / F.col("n_docs")
        )
        .cast("bigint")
        .alias("kept_ppm"),
        F.col("sum_logit").cast("bigint").alias("sum_logit"),
        (-F.col("best.nid")).alias("top_doc_id"),
    )


# "Trained-offline" WordPiece-style vocabulary: multi-character pieces with
# single-character fallback (so tokenization is total). Plan-embedded like
# the classifier weights — a production vocab swaps in as data, same plan.
_WORDPIECE_VOCAB = (
    "the", "ing", "ed", "er", "an", "and", "of", "to", "in", "re", "on",
    "at", "en", "es", "or", "st", "ar", "nd", "is", "it", "ou", "le",
    "tion", "ment",
)


def _vocab_sql() -> str:
    return ", ".join(f"'{p}'" for p in _WORDPIECE_VOCAB)


def wordpiece_words(docs: DataFrame) -> DataFrame:
    """(doc_id, tok) word-occurrence stream: lowercase alpha runs."""
    return docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda t: t != "",
            )
        ).alias("tok"),
    )


def wordpiece_piece_counts(words: DataFrame) -> DataFrame:
    """(tok, pieces) for the DISTINCT words of an occurrence stream.

    The greedy longest-match loop runs once per unique word inside an
    Arrow-batched mapInPandas — the Zipf-bounded shape shared by
    doc_wordpiece_tokens and the capstone pipeline.
    """
    from collections.abc import Iterator

    distinct_words = words.select("tok").distinct()
    by_len: dict[int, set] = {}
    for p in _WORDPIECE_VOCAB:
        by_len.setdefault(len(p), set()).add(p)
    lens_desc = sorted(by_len, reverse=True)

    def tokenize(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            counts = []
            for tok in pdf["tok"]:
                pos, pieces = 0, 0
                n = len(tok)
                while pos < n:
                    step = 1  # single-char fallback
                    for ln in lens_desc:
                        if tok[pos : pos + ln] in by_len[ln]:
                            step = ln
                            break
                    pos += step
                    pieces += 1
                counts.append(pieces)
            yield pd.DataFrame({"tok": pdf["tok"], "pieces": counts})

    return distinct_words.mapInPandas(tokenize, "tok string, pieces int")


@query(
    "doc_wordpiece_tokens",
    oracle=rf"""
WITH RECURSIVE
vocab(piece) AS (SELECT unnest([{_vocab_sql()}])),
doc_words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
words AS (SELECT DISTINCT tok FROM doc_words),
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
done AS (SELECT tok, pieces FROM step WHERE pos = length(tok) + 1)
SELECT d.doc_id,
       count(*) AS n_words,
       CAST(sum(p.pieces) AS BIGINT) AS n_pieces,
       CAST(sum(length(d.tok)) AS BIGINT) AS n_chars
FROM doc_words d JOIN done p USING (tok)
GROUP BY 1
""",
    doc="REAL subword tokenization — greedy longest-match WordPiece (the "
    "BERT-family algorithm) with a fixed plan-embedded vocabulary and "
    "single-character fallback, the token-counting stage an LLM data "
    "pipeline actually runs (whitespace counts estimate cost; training "
    "budgets are set in SUBWORD tokens). The Spark shape is the one that "
    "scales: tokenize the DISTINCT words only (the expensive Python loop "
    "runs once per unique word, not once per occurrence — corpus word "
    "frequency follows Zipf, so distinct words are orders of magnitude "
    "fewer than tokens), then join the per-word piece counts back to the "
    "occurrence stream (AQE picks broadcast while the vocabulary of "
    "distinct words fits, shuffle join beyond) and aggregate per doc. "
    "The greedy matcher itself is an Arrow-batched mapInPandas over the "
    "distinct-word table. The oracle replays the exact greedy automaton "
    "as a DuckDB RECURSIVE CTE (one row per (word, position) state, "
    "longest-prefix lateral lookup) — two independent implementations of "
    "the same spec, compared exactly.",
    bench=True,
)
def doc_wordpiece_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    # r16 (VERDICT r15 #6, guide §5): the word-occurrence stream feeds
    # BOTH the distinct-word tokenizer input and the join's left side —
    # pin it so the regex split + explode runs once per doc, not twice
    # (per-call localCheckpoint: no CacheManager entry, no cross-run
    # warmth, freed when the returned plan dies)
    words = wordpiece_words(docs).localCheckpoint()
    piece_counts = wordpiece_piece_counts(words)
    return words.join(piece_counts, "tok").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("pieces").cast("bigint").alias("n_pieces"),
        F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Okapi BM25, k1=1.2 b=0.75) — exact integer form.
#
# The tf-saturation / length-normalization core of BM25 is a ratio of
# integer-linear forms once avgdl's denominator is cleared:
#   tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl)
#     = 22*tf*L / (10*tf*L + 3*L + 9*dl*N)          (avgdl = L/N)
# with L = total corpus token count, N = corpus size — all BIGINTs, so the
# saturation term is computed exactly on both engines as
# (22*tf*L*SAT_SCALE) DIV (10*tf*L + 3*L + 9*dl*N). The idf factor uses the
# same log-free integer-scaled linear idf contract as keyword_search_topk
# (_IDF_SCALE note above): per-term it is rank-neutral, and across terms it
# preserves the rare-term dominance BM25's log-idf encodes, while keeping
# the whole score a deterministic BIGINT (no libm ln in either engine).
# ---------------------------------------------------------------------------
_BM25_SAT_SCALE = 1_000_000


@query(
    "keyword_search_bm25",
    oracle=f"""
WITH toks AS (
  SELECT d.doc_id, u.term
  FROM documents d,
       unnest(list_filter(string_split_regex(lower(d.text), '\\s+'),
                          x -> x <> '')) AS u(term)
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
corpus AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl),
postings AS (
  SELECT t.doc_id, t.term, count(*) AS tf
  FROM toks t
  JOIN (VALUES {", ".join(f"('{t}')" for t in _SEARCH_TERMS)}) q(term)
    ON t.term = q.term
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         sum(((2 * c.n_docs - 2 * df.df + 1) * {_IDF_SCALE} // (2 * df.df + 1))
             * ((22 * p.tf * c.total_len * {_BM25_SAT_SCALE})
                // (10 * p.tf * c.total_len + 3 * c.total_len
                    + 9 * dl.dl * c.n_docs))
             // {_BM25_SAT_SCALE}) AS score_scaled,
         count(*) AS n_terms_hit
  FROM postings p
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus c
  GROUP BY 1
),
ranked AS (
  SELECT doc_id, CAST(score_scaled AS BIGINT) AS score_scaled,
         CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
         row_number() OVER (ORDER BY score_scaled DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, score_scaled, n_terms_hit, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
""",
    doc="Okapi BM25 document ranking (k1=1.2, b=0.75) over the corpus for "
    "the standing query-term set, as EXACT BIGINT arithmetic: clearing "
    "avgdl's denominator turns the saturation/length-normalization core "
    "into a ratio of integer-linear forms (see _BM25_SAT_SCALE note), and "
    "idf reuses the log-free integer-scaled contract from "
    "keyword_search_topk — no libm call in either engine, so the oracle "
    "compare is hash-exact, and ranks are computed over identical values. "
    "Plan shape: filter-before-explode postings (the Generate emits only "
    "query-term tokens), doc lengths from one groupBy over the token "
    "stream, df/N/L broadcast as tiny aggregates, global top-20 via "
    "rank-window (WindowGroupLimit). At 100 TB the only corpus-sized "
    "shuffles are the two groupBys (postings, dl); everything above them "
    "moves O(matching tokens). Extends reference F1/F2's tokenizer "
    "surface (TwitterDStreamTrendingHashtag.java:60-78) to ranked "
    "retrieval.",
    bench=True,
)
def keyword_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    # r16 (guide §2.3/§2.4): doc length is size(tokens), computed narrow —
    # the old explode + groupBy(doc_id) shuffled one row per TOKEN to
    # count them. The where(dl > 0) keeps the oracle's semantics exactly:
    # unnest/explode of an empty token list emits no row, so a zero-token
    # doc was absent from dl (and from n_docs/total_len) before too.
    dl = (
        docs.select(
            "doc_id",
            F.size(tokens(F.lower(F.col("text")))).cast("bigint").alias("dl"),
        )
        .where(F.col("dl") > 0)
        .localCheckpoint()
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    terms = F.array([F.lit(t) for t in _SEARCH_TERMS])
    matching = F.filter(
        tokens(F.lower(F.col("text"))), lambda t: F.array_contains(terms, t)
    )
    postings = (
        docs.select("doc_id", F.explode(matching).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        postings.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "term_score",
            F.expr(
                f"((2 * n_docs - 2 * df + 1) * {_IDF_SCALE} DIV (2 * df + 1))"
                f" * ((22 * tf * total_len * {_BM25_SAT_SCALE})"
                f"    DIV (10 * tf * total_len + 3 * total_len"
                f"         + 9 * dl * n_docs))"
                f" DIV {_BM25_SAT_SCALE}"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("term_score").cast("bigint").alias("score_scaled"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
    )
    w = Window.orderBy(F.col("score_scaled").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 20)
        .select("doc_id", "score_scaled", "n_terms_hit", "rank")
    )


# ---------------------------------------------------------------------------
# Character-bigram language-model quality score (CCNet-class filter).
#
# CCNet/Wikipedia-LM perplexity filtering scores each document under a
# corpus-trained LM and drops the tail. The exact-arithmetic substitution
# here: train a char-bigram model on the corpus itself (counts c2(ab),
# prefix counts c1(a·) — two groupBys), then score each document by the
# arithmetic mean of per-position scaled transition probabilities
#   floor(SCALE * c2(ab) / c1(a·))   summed, DIV n_positions
# instead of the geometric mean a true perplexity takes — monotone in the
# same per-position signal, but BIGINT end-to-end so the DuckDB twin is
# hash-exact (a log-based score would ride each engine's libm ln).
# ---------------------------------------------------------------------------
_LM_SCALE = 1_000_000


@query(
    "doc_charlm_score",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, substr(lower(text), CAST(i AS INT), 2) AS bg
  FROM documents, unnest(generate_series(1, CAST(n_chars AS INT) - 1)) AS t(i)
  WHERE n_chars >= 2
),
doc_bg AS (SELECT doc_id, bg, count(*) AS tf FROM pos GROUP BY 1, 2),
model2 AS (SELECT bg, sum(tf) AS c2 FROM doc_bg GROUP BY 1),
model1 AS (SELECT substr(bg, 1, 1) AS a, sum(c2) AS c1 FROM model2 GROUP BY 1),
scored AS (
  SELECT d.doc_id,
         sum(d.tf) AS n_bigrams,
         sum(d.tf * ({_LM_SCALE} * m2.c2 // m1.c1)) AS raw
  FROM doc_bg d
  JOIN model2 m2 USING (bg)
  JOIN model1 m1 ON substr(d.bg, 1, 1) = m1.a
  GROUP BY 1
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(raw // n_bigrams AS BIGINT) AS lm_score_scaled
FROM scored
""",
    doc="Char-bigram LM corpus-quality score, the exact-arithmetic stand-in "
    "for CCNet-style perplexity filtering (see _LM_SCALE note): model "
    "training is two groupBys over positional bigrams (c2, c1), scoring "
    "joins each document's DISTINCT-bigram tf vector — not its positions "
    "— against the model, so the join moves O(distinct bigrams/doc) "
    "rows. The model itself is alphabet-bounded (~|Σ|² rows) and "
    "broadcast. At 100 TB: one corpus-sized explode feeding a map-side- "
    "combinable groupBy, then broadcast joins — no all-pairs, no second "
    "corpus pass; train on a reference slice and score the rest by "
    "swapping the model input. n_chars from the fixture schema pins the "
    "position count; substr(_, i, 2) at the final char yields a 1-char "
    "tail bigram on both engines identically.",
    bench=True,
)
def doc_charlm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents")
        .where(F.col("n_chars") >= 2)
        .select("doc_id", F.lower(F.col("text")).alias("t"), "n_chars"),
        spark,
    )
    pos = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), (F.col("n_chars") - 1).cast("int"))
        ).alias("i"),
        "t",
    ).select("doc_id", F.col("t").substr(F.col("i"), F.lit(2)).alias("bg"))
    doc_bg = (
        pos.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    model2 = doc_bg.groupBy("bg").agg(F.sum("tf").alias("c2"))
    model1 = model2.groupBy(F.substring("bg", 1, 1).alias("a")).agg(
        F.sum("c2").alias("c1")
    )
    scored = (
        doc_bg.join(F.broadcast(model2), "bg")
        .join(
            F.broadcast(model1),
            F.substring(F.col("bg"), 1, 1) == F.col("a"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.expr(f"tf * (({_LM_SCALE} * c2) DIV c1)")
            ).alias("raw"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.expr("raw DIV n_bigrams").cast("bigint").alias("lm_score_scaled"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of the
# lexical (BM25) and dense (cosine) rankings — the standard production
# fusion because it needs no score calibration, only ranks. With the
# rank-reciprocals integer-scaled (SCALE // (60 + rank)) the fused score
# is exact BIGINT, so the fused page is hash-checkable like everything
# else. Dense side: embeddings map to documents by vec_id == doc_id (the
# fixture contract); docs without a vector simply get no dense
# contribution — the honest partial-coverage semantics of a corpus whose
# embedding job trails its text ingest.
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_SCALE = 1_000_000


@query(
    "hybrid_search_rrf",
    oracle=f"""
WITH toks AS (
  SELECT d.doc_id, u.term
  FROM documents d,
       unnest(list_filter(string_split_regex(lower(d.text), '\\s+'),
                          x -> x <> '')) AS u(term)
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
corpus_stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS total_len FROM dl
),
postings AS (
  SELECT t.doc_id, t.term, count(*) AS tf
  FROM toks t
  JOIN (VALUES {", ".join(f"('{t}')" for t in _SEARCH_TERMS)}) q(term)
    ON t.term = q.term
  GROUP BY 1, 2
),
df AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
bm25 AS (
  SELECT p.doc_id,
         sum(((2 * c.n_docs - 2 * df.df + 1) * {_IDF_SCALE} // (2 * df.df + 1))
             * ((22 * p.tf * c.total_len * {_BM25_SAT_SCALE})
                // (10 * p.tf * c.total_len + 3 * c.total_len
                    + 9 * dl.dl * c.n_docs))
             // {_BM25_SAT_SCALE}) AS score
  FROM postings p
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN corpus_stats c
  GROUP BY 1
),
text_ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS t_rank
  FROM bm25
),
vecs AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(
           list_zip(list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0)
                                AS BIGINT)),
                    list_transform(embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0)
                                AS BIGINT))),
           p -> CAST(p[1] AS BIGINT) * p[2])) AS n2
  FROM embeddings
),
dense AS (
  SELECT q.vec_id AS query_id, v.vec_id AS doc_id,
         CAST(list_sum(list_transform(
           list_zip(list_transform(q.embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0)
                                AS BIGINT)),
                    list_transform(v.embedding,
                      x -> CAST(round(CAST(x AS DOUBLE) * 1048576.0)
                                AS BIGINT))),
           p -> CAST(p[1] AS BIGINT) * p[2])) AS DOUBLE)
           / (sqrt(CAST(q.n2 AS DOUBLE)) * sqrt(CAST(v.n2 AS DOUBLE)))
           AS cosine
  FROM (SELECT * FROM vecs WHERE vec_id % {100} = 0) q
  JOIN vecs v ON v.vec_id <> q.vec_id
),
dense_ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, doc_id ASC) AS d_rank
  FROM dense
),
fused AS (
  SELECT d.query_id, d.doc_id,
         {_RRF_SCALE} // ({_RRF_K} + d.d_rank)
           + coalesce({_RRF_SCALE} // ({_RRF_K} + t.t_rank), 0) AS rrf_scaled
  FROM dense_ranked d
  LEFT JOIN text_ranked t ON t.doc_id = d.doc_id
)
SELECT query_id, doc_id, CAST(rrf_scaled AS BIGINT) AS rrf_scaled,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_scaled DESC, doc_id ASC) AS rank
  FROM fused
) WHERE rank <= 10
""",
    doc="Hybrid retrieval — reciprocal-rank fusion of the lexical BM25 "
    "ranking and the dense cosine ranking (Cormack et al. 2009), the "
    "production RAG serving pattern (no score calibration, only "
    "ranks; integer-scaled reciprocals keep the fused score exact "
    "BIGINT — see the module note). Per query vector: its dense "
    "ranking over the embedded subset fuses with the corpus-global "
    "BM25 ranking for the standing term set; documents without a "
    "vector or without a term hit contribute only their covered leg. "
    "Plan: the BM25 leg is keyword_search_bm25's shape (two bounded "
    "shuffles); the dense leg broadcasts the query set; fusion is a "
    "left join on doc_id of two ranked relations whose sizes are "
    "O(matches) and O(queries x corpus-subset) — both far below the "
    "raw corpus. Everything above the legs is rank arithmetic.",
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_streaming_twitter_spark.dedup.dedup import (
        scaled_dot,
        scaled_norm2,
    )

    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    # r16: narrow size(tokens) doc lengths — same rewrite as
    # keyword_search_bm25 (the BM25 leg is that query's shape)
    dl = (
        docs.select(
            "doc_id",
            F.size(tokens(F.lower(F.col("text")))).cast("bigint").alias("dl"),
        )
        .where(F.col("dl") > 0)
        .localCheckpoint()
    )
    corpus_stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    terms = F.array([F.lit(t) for t in _SEARCH_TERMS])
    matching = F.filter(
        tokens(F.lower(F.col("text"))), lambda t: F.array_contains(terms, t)
    )
    postings = (
        docs.select("doc_id", F.explode(matching).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    bm25 = (
        postings.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus_stats))
        .withColumn(
            "score",
            F.expr(
                f"((2 * n_docs - 2 * df + 1) * {_IDF_SCALE} DIV (2 * df + 1))"
                f" * ((22 * tf * total_len * {_BM25_SAT_SCALE})"
                f"    DIV (10 * tf * total_len + 3 * total_len"
                f"         + 9 * dl * n_docs))"
                f" DIV {_BM25_SAT_SCALE}"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("score").alias("score"))
    )
    w_text = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    text_ranked = bm25.select(
        "doc_id", F.row_number().over(w_text).alias("t_rank")
    )
    emb = widen(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        spark,
    ).withColumn("n2", scaled_norm2(F.col("embedding")))
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("q_n2"),
    )
    cosine = scaled_dot(F.col("q_emb"), F.col("embedding")).cast("double") / (
        F.sqrt(F.col("q_n2").cast("double"))
        * F.sqrt(F.col("n2").cast("double"))
    )
    w_dense = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc()
    )
    dense_ranked = (
        emb.join(F.broadcast(queries), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            cosine.alias("cosine"),
        )
        .withColumn("d_rank", F.row_number().over(w_dense))
        .select("query_id", "doc_id", "d_rank")
    )
    fused = dense_ranked.join(F.broadcast(text_ranked), "doc_id", "left").select(
        "query_id",
        "doc_id",
        (
            F.expr(f"{_RRF_SCALE} DIV ({_RRF_K} + d_rank)")
            + F.coalesce(
                F.expr(f"{_RRF_SCALE} DIV ({_RRF_K} + t_rank)"), F.lit(0)
            )
        ).alias("rrf_scaled"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_scaled").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w_f).cast("bigint"))
        .where(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.col("rrf_scaled").cast("bigint").alias("rrf_scaled"),
            "rank",
        )
    )


# Char-diversity alphabet: the 26 ASCII letters plus space, counted on the
# lowercased text. Fixed and explicit so the Spark expression and the DuckDB
# oracle are generated from the SAME constant.
_DIVERSITY_ALPHABET = "abcdefghijklmnopqrstuvwxyz "

_ALPHA_SQL_LIST = ", ".join(f"'{c}'" for c in _DIVERSITY_ALPHABET)


@query(
    "doc_char_diversity",
    oracle=f"""
WITH counts AS (
  SELECT d.doc_id,
         CAST(length(lower(coalesce(d.text, '')))
              - length(replace(lower(coalesce(d.text, '')), a.ch, ''))
              AS BIGINT) AS c
  FROM documents d
  CROSS JOIN (SELECT unnest([{_ALPHA_SQL_LIST}]) AS ch) a
),
stats AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_alpha,
         CAST(sum(c * c) AS BIGINT) AS sum_sq_counts,
         CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS INT) AS distinct_chars
  FROM counts GROUP BY 1
)
SELECT doc_id, n_alpha, sum_sq_counts, distinct_chars,
       CASE WHEN n_alpha > 0
            THEN CAST(1 AS DOUBLE)
                 - CAST(sum_sq_counts AS DOUBLE)
                   / (CAST(n_alpha AS DOUBLE) * CAST(n_alpha AS DOUBLE))
            ELSE CAST(0 AS DOUBLE) END AS simpson_diversity
FROM stats
""",
    doc="Character-diversity gibberish detector (the curation filter that "
    "catches aaaaaa/keyboard-mash/one-char spam that token-level Gopher "
    "rules miss): per-document Simpson diversity 1 - sum(c_i^2)/n^2 over "
    "a fixed 27-char alphabet (a-z + space, lowercased). LOG-FREE BY "
    "DESIGN — Shannon entropy would compare Java's Math.log against "
    "DuckDB's libm; Simpson is exact BIGINT sums followed by one IEEE "
    "divide + subtract, so the oracle matches bitwise. Zero shuffle, "
    "zero explode: counts come from 27 length(replace(...)) scans per "
    "row via transform over a literal array — whole-stage codegen end "
    "to end, embarrassingly parallel at any scale.",
)
def doc_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    counts = F.transform(
        F.array(*[F.lit(c) for c in _DIVERSITY_ALPHABET]),
        lambda ch: (F.length(low) - F.length(F.replace(low, ch, F.lit("")))).cast(
            "long"
        ),
    )
    zero = F.lit(0).cast("long")
    stats = docs.select(
        "doc_id",
        F.aggregate(counts, zero, lambda a, x: a + x).alias("n_alpha"),
        F.aggregate(counts, zero, lambda a, x: a + x * x).alias("sum_sq_counts"),
        F.size(F.filter(counts, lambda x: x > 0)).cast("int").alias("distinct_chars"),
    )
    return stats.select(
        "doc_id",
        "n_alpha",
        "sum_sq_counts",
        "distinct_chars",
        F.when(
            F.col("n_alpha") > 0,
            F.lit(1.0)
            - F.col("sum_sq_counts").cast("double")
            / (F.col("n_alpha").cast("double") * F.col("n_alpha").cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("simpson_diversity"),
    )


# Winnowing (Schleimer-Wilkerson-Aiken 2003, the MOSS fingerprinter):
# guarantee-bearing fingerprint selection — every match of length >=
# _WIN_T = _WIN_W + _WIN_SH - 1 tokens between two documents shares at
# least one selected fingerprint. Tie rule = RIGHTMOST minimal hash in the
# window (the paper's "robust winnowing"), encoded identically on both
# engines.
_WIN_SH = 5  # tokens per shingle (matches doc_fingerprints)
_WIN_W = 4   # winnowing window: shingle hashes per selection window
_WIN_INIT = 1 << 62  # > any 60-bit portable hash


# Shared CTE: the full winnowing selection pipeline (toks -> shingles ->
# hashes -> per-window rightmost-min "p:fh" encodings). Used by BOTH the
# fingerprint-digest oracle and the pair-detection oracle so the two
# queries can never drift apart in selection semantics.
_WINNOW_CTE = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     t -> t <> '') AS l
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(l) >= {_WIN_SH} THEN
           [array_to_string(l[i:i + {_WIN_SH} - 1], ' ')
            FOR i IN generate_series(1, len(l) - {_WIN_SH} + 1)]
         ELSE [array_to_string(l, ' ')] END AS shs
  FROM toks
),
hs AS (
  SELECT doc_id,
         [CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) FOR s IN shs] AS h
  FROM sh
),
sel AS (
  SELECT doc_id, h,
         [lpad(CAST(i + len(h[i:least(i + {_WIN_W} - 1, len(h))])
                 - list_position(list_reverse(h[i:least(i + {_WIN_W} - 1, len(h))]),
                                 list_min(h[i:least(i + {_WIN_W} - 1, len(h))]))
                 - 1 AS VARCHAR), 10, '0')
          || ':' ||
          lpad(CAST(list_min(h[i:least(i + {_WIN_W} - 1, len(h))]) AS VARCHAR),
               19, '0')
          FOR i IN generate_series(1, greatest(len(h) - {_WIN_W} + 1, 1))] AS fps
  FROM hs
)"""


@query(
    "doc_winnowing_fingerprints",
    oracle=_WINNOW_CTE
    + """
SELECT doc_id,
       CAST(len(h) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(fps)) AS BIGINT) AS n_fingerprints,
       md5(array_to_string(list_sort(list_distinct(fps)), ',')) AS fp_md5
FROM sel
""",
    doc="Winnowing document fingerprints (Schleimer et al. 2003 — the MOSS "
    "plagiarism-detection selector): hash every 5-token shingle, slide a "
    "4-hash window, select the RIGHTMOST minimal hash per window, dedupe "
    "consecutive selections. Guarantees any shared run of >= 8 tokens "
    "between two docs shares a fingerprint while storing ~2/(w+1) of the "
    "hashes. ENTIRELY row-local — shingling, hashing, window argmin, and "
    "the ordered fingerprint digest all happen inside one Project via "
    "higher-order array functions; zero shuffles, zero explode.",
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    return winnow_digests(docs)


def winnow_selections(docs: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, fps) with fps = encoded "p:fh" selections
    (pre-distinct) — the winnowing core over any (doc_id, text) frame."""
    toks = tokens(F.lower(F.col("text")))
    shs = F.when(
        F.size(toks) >= _WIN_SH,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - _WIN_SH),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, _WIN_SH)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    hs = F.transform(shs, lambda s: portable_hash(s))
    docs = docs.select("doc_id", hs.alias("h"))
    h = F.col("h")
    win_len = F.least(F.lit(_WIN_W), F.size(h))
    n_windows = F.greatest(F.size(h) - _WIN_W + 1, F.lit(1))
    # rightmost-min via aggregate with <= : later equal hashes replace
    fps = F.transform(
        F.sequence(F.lit(0), n_windows - 1),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), win_len - 1),
            F.struct(
                F.lit(-1).cast("long").alias("p"),
                F.lit(_WIN_INIT).cast("long").alias("fh"),
            ),
            lambda acc, j: F.when(
                F.element_at(h, (i + j + 1).cast("int")) <= acc["fh"],
                F.struct(
                    (i + j).cast("long").alias("p"),
                    F.element_at(h, (i + j + 1).cast("int")).alias("fh"),
                ),
            ).otherwise(acc),
        ),
    )
    # fixed-width "p:fh" string encoding: lexicographic order == numeric
    # (p, fh) order, and list-distinct on strings is portable to DuckDB
    # (its list_distinct over STRUCT lists is unimplemented)
    encoded = F.transform(
        fps,
        lambda s: F.concat_ws(
            ":",
            F.lpad(s["p"].cast("string"), 10, "0"),
            F.lpad(s["fh"].cast("string"), 19, "0"),
        ),
    )
    return docs.select(
        "doc_id",
        F.size(h).cast("long").alias("n_shingles"),
        encoded.alias("fps"),
    )


def winnow_digests(docs: DataFrame) -> DataFrame:
    sel = winnow_selections(docs)
    distinct = F.array_distinct(F.col("fps"))
    return sel.select(
        "doc_id",
        "n_shingles",
        F.size(distinct).cast("long").alias("n_fingerprints"),
        F.md5(F.concat_ws(",", F.array_sort(distinct))).alias("fp_md5"),
    )


# Winnowing-pair detection: fingerprints shared by more than this many
# docs are dropped before pairing (the same df-cap discipline as the
# dedup family's exact scorers — boilerplate fingerprints would otherwise
# reintroduce the freq^2 join term winnowing is supposed to avoid).
_WIN_PAIR_DF_CAP = 64
_WIN_PAIR_MIN_SHARED = 2


@query(
    "dedup_winnowing_pairs",
    oracle=_WINNOW_CTE
    + f""",
fh AS (
  SELECT doc_id, unnest(list_distinct([substr(f, 12) FOR f IN fps])) AS fh
  FROM sel
),
kept AS (
  SELECT fh FROM fh GROUP BY 1 HAVING count(*) <= {_WIN_PAIR_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_fps
  FROM fh a
  JOIN kept k ON k.fh = a.fh
  JOIN fh b ON b.fh = a.fh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared_fps
FROM pairs WHERE n_shared_fps >= {_WIN_PAIR_MIN_SHARED}
""",
    doc="MOSS-style match detection over winnowing fingerprints: two docs "
    "pair when they share >= 2 selected fingerprint HASHES (position-"
    "independent, so moved/reordered passages still match — the property "
    "winnowing exists for). The df<=64 cap drops boilerplate "
    "fingerprints before the pair join, bounding it at C(64,2) per "
    "fingerprint exactly like the chunk/APSS guards; candidates then "
    "aggregate per pair. Scale shape: explode distinct fingerprints "
    "(~2/(w+1) of shingles), one df agg, one capped hash-keyed pair "
    "join, one pair-keyed count agg.",
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    sel = winnow_selections(docs)
    fh = sel.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(F.col("fps"), lambda f: F.substring(f, 12, 19))
            )
        ).alias("fh"),
    ).localCheckpoint()
    return shared_key_pairs(
        rare_keys(fh, "fh", _WIN_PAIR_DF_CAP),
        "doc_id",
        "fh",
        ("doc_a", "doc_b", "n_shared_fps"),
    ).where(F.col("n_shared_fps") >= _WIN_PAIR_MIN_SHARED)


# Spearman calibration sample: rank correlation needs GLOBAL ranks, and a
# global rank is a single-partition window — statistically, a calibration
# coefficient needs ~10^3 points, not the corpus, so the contract is a
# deterministic stride sample (the QUERY_STRIDE argument, applied to
# metric calibration). The window then runs over a BOUNDED row set at any
# corpus size.
_SPEARMAN_STRIDE = 10


def _spearman_oracle() -> str:
    from spark_streaming_twitter_spark.registry import QUERIES

    q = QUERIES["doc_quality_scores"].oracle
    c = QUERIES["doc_charlm_score"].oracle
    return f"""
WITH q AS ({q}),
c AS ({c}),
j AS (
  SELECT q.doc_id, q.quality, c.lm_score_scaled
  FROM q JOIN c ON c.doc_id = q.doc_id
  WHERE q.doc_id % {_SPEARMAN_STRIDE} = 0
),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY quality ASC, doc_id ASC) AS ra,
         row_number() OVER (ORDER BY lm_score_scaled ASC, doc_id ASC) AS rb
  FROM j
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
       CAST(1 AS DOUBLE)
         - CAST(6 * sum((ra - rb) * (ra - rb)) AS DOUBLE)
           / (CAST(count(*) AS DOUBLE)
              * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)
                 - CAST(1 AS DOUBLE)))
         AS spearman_rho
FROM r
"""


@query(
    "quality_spearman_calibration",
    oracle=_spearman_oracle(),
    doc="Scorer-agreement calibration: Spearman rank correlation between "
    "the heuristic quality score and the char-LM score on a "
    "deterministic stride-10 sample — the number that tells a curation "
    "run whether its two quality signals agree before either gates "
    "documents. Exact arithmetic end to end: integer ranks "
    "(doc_id-tie-broken), BIGINT sum of squared rank differences, and "
    "rho = 1 - 6*sum_d2/(n(n^2-1)) as one IEEE expression. The oracle "
    "embeds both scorers' registered oracles verbatim. The global rank "
    "window is bounded BY CONTRACT (calibration needs ~10^3 points, not "
    "the corpus), so the single-partition window never sees corpus-"
    "scale rows.",
)
def quality_spearman_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = doc_quality_scores(spark, sf_dir).select("doc_id", "quality")
    c = doc_charlm_score(spark, sf_dir).select("doc_id", "lm_score_scaled")
    j = q.join(c, "doc_id").where(F.col("doc_id") % _SPEARMAN_STRIDE == 0)
    wa = Window.orderBy(F.col("quality").asc(), F.col("doc_id").asc())
    wb = Window.orderBy(F.col("lm_score_scaled").asc(), F.col("doc_id").asc())
    ranked = j.select(
        "doc_id",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    d2 = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    n = F.count(F.lit(1)).cast("double")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(d2).alias("sum_d2"),
        (
            F.lit(1.0)
            - (F.lit(6) * F.sum(d2)).cast("double")
            / (n * (n * n - F.lit(1.0)))
        ).alias("spearman_rho"),
    )


def _ccnet_buckets_oracle() -> str:
    from spark_streaming_twitter_spark.registry import QUERIES

    c = QUERIES["doc_charlm_score"].oracle
    return f"""
WITH c AS ({c}),
j AS (
  SELECT c.doc_id, d.lang, d.n_chars, c.lm_score_scaled
  FROM c JOIN documents d USING (doc_id)
),
r AS (
  SELECT lang, n_chars, lm_score_scaled,
         row_number() OVER (PARTITION BY lang
                            ORDER BY lm_score_scaled DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM j
)
SELECT lang,
       CASE ((rn - 1) * 3) // n
         WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
       END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
       CAST(min(lm_score_scaled) AS BIGINT) AS min_score,
       CAST(max(lm_score_scaled) AS BIGINT) AS max_score
FROM r
GROUP BY lang, ((rn - 1) * 3) // n
"""


@query(
    "doc_charlm_ccnet_buckets",
    oracle=_ccnet_buckets_oracle(),
    doc="CCNet's selection step (Wenzek et al. 2020): per-language "
    "head/middle/tail split of the corpus by LM quality — head feeds "
    "training, tail is dropped, middle is the tunable reserve. Buckets "
    "are EXACT per-lang tertiles from the rank idiom (bucket = "
    "(rn-1)*3 DIV n, integer-only, deterministic under ties via doc_id), "
    "on top of the registered char-LM scorer whose oracle is embedded "
    "verbatim (the two can't drift). Output audits each bucket's volume "
    "and score range — what a curation run checks before committing the "
    "keep decision. Scale: the per-lang rank window shuffles once on "
    "lang; a dominant language makes that window the hot partition, so "
    "at 100 TB swap exact tertiles for approx_percentile cutpoints "
    "joined broadcast — same bucket plan, bounded skew (the winsorize "
    "precedent). Scoring stays the charlm plan: corpus-sized explode, "
    "alphabet-bounded broadcast model.",
)
def doc_charlm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = doc_charlm_score(spark, sf_dir).select("doc_id", "lm_score_scaled")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    j = scores.join(docs, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("lm_score_scaled").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("lang")
    ranked = j.select(
        "lang",
        "n_chars",
        "lm_score_scaled",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn("bidx", F.expr("((rn - 1) * 3) DIV n"))
    bucket = (
        F.when(F.col("bidx") == 0, "head")
        .when(F.col("bidx") == 1, "middle")
        .otherwise("tail")
    )
    return (
        ranked.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
            F.min("lm_score_scaled").alias("min_score"),
            F.max("lm_score_scaled").alias("max_score"),
        )
    )


# "Trained-offline" unigram-LM vocabulary: piece -> integer weight (the
# log-prob surrogate; see doc_unigram_viterbi_tokens). Multi-char weights
# are chosen so greedy longest-match is NOT always optimal — the DP earns
# its keep. Single characters a-z carry weight 10 (appended below), so
# segmentation is total.
_UNIGRAM_PIECES = {
    "th": 30, "the": 45, "he": 28, "in": 30, "ing": 50, "an": 28,
    "and": 44, "er": 30, "re": 28, "on": 27, "en": 26, "ti": 25,
    "tion": 70, "at": 26, "st": 27, "or": 26, "es": 27, "ed": 28,
    "to": 26, "it": 25, "is": 25, "ou": 26, "le": 25, "ar": 26,
    "nd": 26, "me": 25, "nt": 26,
}
_UNIGRAM_VOCAB_FULL = dict(_UNIGRAM_PIECES)
for _c in "abcdefghijklmnopqrstuvwxyz":
    _UNIGRAM_VOCAB_FULL[_c] = 10
_NEG = -2_000_000_000


def _unigram_vocab_sql() -> str:
    return ", ".join(
        f"('{p}', {w})" for p, w in sorted(_UNIGRAM_VOCAB_FULL.items())
    )


def unigram_viterbi_scores(words: DataFrame) -> DataFrame:
    """(tok, score) Viterbi-optimal segmentation score for DISTINCT words.

    max-sum DP over piece weights (lengths 1-4), the unigram-LM decode
    with integer weights standing in for scaled log-probs — the DP, the
    state space, and the decode are exactly SentencePiece's Viterbi; only
    the weight source differs (plan-embedded here, trained EM weights in
    production, swapped in as data).
    """
    from collections.abc import Iterator

    distinct_words = words.select("tok").distinct()
    vocab = dict(_UNIGRAM_VOCAB_FULL)

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            scores = []
            for tok in pdf["tok"]:
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
                scores.append(best[n])
            yield pd.DataFrame({"tok": pdf["tok"], "score": scores})

    return distinct_words.mapInPandas(decode, "tok string, score long")


@query(
    "doc_unigram_viterbi_tokens",
    oracle=rf"""
WITH RECURSIVE
vocab(piece, w) AS (SELECT * FROM (VALUES {_unigram_vocab_sql()}) t(p, w)),
doc_words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
words AS (SELECT DISTINCT tok FROM doc_words),
step(tok, i, s0, s1, s2, s3) AS (
  SELECT tok, 0, CAST(0 AS BIGINT), CAST({_NEG} AS BIGINT),
         CAST({_NEG} AS BIGINT), CAST({_NEG} AS BIGINT)
  FROM words
  UNION ALL
  SELECT tok, i + 1,
    greatest(
      s0 + coalesce((SELECT v.w FROM vocab v
                     WHERE v.piece = substr(tok, i + 1, 1)), 10),
      CASE WHEN i >= 1 THEN
        s1 + coalesce((SELECT v.w FROM vocab v
                       WHERE v.piece = substr(tok, i, 2)), {_NEG})
      ELSE CAST({_NEG} AS BIGINT) END,
      CASE WHEN i >= 2 THEN
        s2 + coalesce((SELECT v.w FROM vocab v
                       WHERE v.piece = substr(tok, i - 1, 3)), {_NEG})
      ELSE CAST({_NEG} AS BIGINT) END,
      CASE WHEN i >= 3 THEN
        s3 + coalesce((SELECT v.w FROM vocab v
                       WHERE v.piece = substr(tok, i - 2, 4)), {_NEG})
      ELSE CAST({_NEG} AS BIGINT) END),
    s0, s1, s2
  FROM step WHERE i < length(tok)
),
done AS (SELECT tok, s0 AS score FROM step WHERE i = length(tok))
SELECT d.doc_id,
       count(*) AS n_words,
       CAST(sum(p.score) AS BIGINT) AS viterbi_score,
       CAST(sum(length(d.tok)) AS BIGINT) AS n_chars
FROM doc_words d JOIN done p USING (tok)
GROUP BY 1
""",
    doc="Unigram-LM Viterbi segmentation (the SentencePiece decode; "
    "Kudo 2018) — completes the tokenizer trio next to BPE training "
    "(bpe_learned_merges) and greedy WordPiece (doc_wordpiece_tokens): "
    "per word, the OPTIMAL max-sum segmentation over piece weights "
    "(lengths 1-4, single-char fallback at weight 10), with integer "
    "weights as the scaled log-prob surrogate so the decode is exact "
    "BIGINT on both engines (the weights make greedy longest-match "
    "suboptimal on e.g. 'ti'+'on' vs 'tion' boundaries, so the DP is "
    "doing real work). Spark shape: the Viterbi loop runs once per "
    "DISTINCT word inside Arrow-batched mapInPandas (Zipf: distinct "
    "words << occurrences), per-word scores join back to the occurrence "
    "stream and aggregate per doc — identical scaling shape to "
    "wordpiece. The oracle replays the SAME DP as a DuckDB recursive "
    "CTE that carries a rolling 4-deep best-score window (s0..s3) per "
    "(word, position) state with correlated vocab lookups — two "
    "independent implementations of the dynamic program, compared "
    "hash-exact.",
)
def doc_unigram_viterbi_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    words = wordpiece_words(docs)
    scores = unigram_viterbi_scores(words)
    return words.join(scores, "tok").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("score").cast("bigint").alias("viterbi_score"),
        F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
    )


def _capstone_v6_oracle() -> str:
    """Assemble the v6 oracle from the registered stage oracles — the
    capstone can never drift from the stages (the v5 convention)."""
    from spark_streaming_twitter_spark.registry import QUERIES

    c = QUERIES["doc_charlm_score"].oracle
    wp = QUERIES["doc_wordpiece_tokens"].oracle
    uv = QUERIES["doc_unigram_viterbi_tokens"].oracle
    return f"""
WITH c AS ({c}),
wp AS ({wp}),
uv AS ({uv}),
j AS (
  SELECT d.doc_id, d.lang,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY c.lm_score_scaled DESC,
                                     d.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY d.lang) AS n
  FROM c JOIN documents d USING (doc_id)
),
kept AS (
  SELECT doc_id, lang,
         CASE ((rn - 1) * 3) // n WHEN 0 THEN 'head' ELSE 'middle' END
           AS bucket
  FROM j WHERE ((rn - 1) * 3) // n <= 1
)
SELECT k.lang, k.bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(wp.n_pieces) AS BIGINT) AS wordpiece_pieces,
       CAST(sum(uv.viterbi_score) AS BIGINT) AS viterbi_score_total,
       CAST(sum(wp.n_chars) AS BIGINT) AS n_chars_total
FROM kept k
JOIN wp ON wp.doc_id = k.doc_id
JOIN uv ON uv.doc_id = k.doc_id
GROUP BY 1, 2
"""


@query(
    "corpus_curation_pipeline_v6",
    oracle=_capstone_v6_oracle(),
    doc="Late-round-7 curation capstone: CCNet selection feeding the "
    "tokenizer budget, in ONE Catalyst plan — (1) the char-LM scores "
    "every doc, (2) the per-lang tertile rule keeps head+middle and "
    "drops tail (doc_charlm_ccnet_buckets' exact integer split), "
    "(3) the kept slice is budgeted under BOTH production tokenizers: "
    "greedy WordPiece piece counts and the unigram Viterbi score — "
    "the number a training run uses to size its data mix per "
    "(lang, quality-bucket) cell. Inner joins mean wordless docs drop "
    "out identically on both engines. The oracle is assembled verbatim "
    "from the three registered stage oracles (two recursive-CTE "
    "automata nested as subqueries + the charlm model CTEs) — stage "
    "drift is structurally impossible. Scale: each stage keeps its own "
    "documented shape (distinct-word tokenizer loops, alphabet-bounded "
    "LM model, one lang-keyed rank window over survivors); the capstone "
    "adds only doc_id equi-joins.",
)
def corpus_curation_pipeline_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        spark,
    )
    scores = doc_charlm_score(spark, sf_dir).select("doc_id", "lm_score_scaled")
    w = Window.partitionBy("lang").orderBy(
        F.col("lm_score_scaled").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("lang")
    kept = (
        scores.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .withColumn("bidx", F.expr("((rn - 1) * 3) DIV n"))
        .where(F.col("bidx") <= 1)
        .select(
            "doc_id",
            "lang",
            F.when(F.col("bidx") == 0, "head").otherwise("middle").alias(
                "bucket"
            ),
        )
    )
    words = wordpiece_words(docs.select("doc_id", "text"))
    wp = (
        words.join(wordpiece_piece_counts(words), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("pieces").cast("bigint").alias("n_pieces"),
            F.sum(F.length("tok")).cast("bigint").alias("n_chars"),
        )
    )
    uv = (
        words.join(unigram_viterbi_scores(words), "tok")
        .groupBy("doc_id")
        .agg(F.sum("score").cast("bigint").alias("viterbi_score"))
    )
    return (
        kept.join(wp, "doc_id")
        .join(uv, "doc_id")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pieces").cast("bigint").alias("wordpiece_pieces"),
            F.sum("viterbi_score").cast("bigint").alias("viterbi_score_total"),
            F.sum("n_chars").cast("bigint").alias("n_chars_total"),
        )
    )
