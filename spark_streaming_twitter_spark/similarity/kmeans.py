"""K-means clustering over the embedding corpus — fixed Lloyd iterations,
exact integer arithmetic, oracle-checked bitwise.

The clustering stage of an embedding pipeline (topic bucketing, IVF coarse
quantizer training, dedup blocking). Same determinism strategy as IVF
routing (similarity/search.py) and PageRank (operators/graph.py): quantize
embeddings to BIGINT (round(x * 2^20)), squared-L2 distances and centroid
recomputation stay exact-integer, floor division via the pmod trick, and
the DuckDB oracle unrolls the same K iterations as CTEs — no float drift.

Scale shape (100 TB): assignment is a broadcast cross-join against K
centroid rows (K tiny) followed by a per-vector argmin — the corpus never
shuffles; recomputation is posexplode -> (cluster, dim) partial aggs — one
shuffle keyed on (cluster, dim). Fixed K_CLUSTERS x N_ITERS unrolled into
one Catalyst plan; at cluster scale checkpoint centroids per iteration
(they are K x DIM rows — trivially small).

Seeding is deterministic WITHOUT a global sort: the K seed vectors are the
query-stride ids (vec_id % QUERY_STRIDE == 0, vec_id < K * QUERY_STRIDE) —
a filter, not an order-by-limit over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_streaming_twitter_spark.catalog import table, widen
from spark_streaming_twitter_spark.registry import query
from spark_streaming_twitter_spark.similarity.search import (
    _QUANT_SQL,
    _centroids,
    _quantized,
    _route,
    DIM,
    QUERY_STRIDE,
)

K_CLUSTERS = 8
N_ITERS = 2

_DIST_SPARK = (
    "aggregate(zip_with(qv, cvec, (x, c) -> (x - c) * (x - c)), "
    "0L, (acc, x) -> acc + x)"
)


def _assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per vector: broadcast cross-join + argmin window.

    Tie-break on cluster id asc; the window partitions by vec_id (high
    cardinality), so the argmin shuffles (vec_id, cid) rows only.
    """
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc(), F.col("cid").asc()
    )
    return (
        corpus.crossJoin(F.broadcast(centroids))
        .withColumn("dist2", F.expr(_DIST_SPARK))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "qv", "cid", "dist2")
    )


def _oracle_iters(n: int) -> str:
    """Unrolled assign/recompute CTE chain: a1..an, c2..cn."""
    dist = (
        "list_sum(list_transform(list_zip(v.qv, c.cvec), "
        "p -> (CAST(p[1] AS BIGINT) - p[2]) * (CAST(p[1] AS BIGINT) - p[2])))"
    )
    parts = []
    for i in range(1, n + 1):
        cent = "c1" if i == 1 else f"c{i}"
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, qv, cid, dist2 FROM (
    SELECT v.vec_id, v.qv, c.cid, {dist} AS dist2,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {dist} ASC, c.cid ASC) AS rn
    FROM quantized v CROSS JOIN {cent} c
  ) WHERE rn = 1
)"""
        )
        if i < n:
            parts.append(
                f"""c{i + 1} AS (
  SELECT cid, list(c ORDER BY d) AS cvec FROM (
    SELECT cid, d,
           CAST((sum(qv[d]) - (((sum(qv[d]) % count(*)) + count(*)) % count(*)))
                // count(*) AS BIGINT) AS c
    FROM (SELECT cid, qv, unnest(generate_series(1, {DIM})) AS d FROM a{i})
    GROUP BY cid, d
  ) GROUP BY cid
)"""
            )
    return ",\n".join(parts)


@query(
    "embedding_kmeans_clusters",
    oracle=f"""
WITH quantized AS (
  SELECT vec_id, {_QUANT_SQL.format(vec="embedding")} AS qv FROM embeddings
),
c1 AS (
  SELECT CAST(vec_id // {QUERY_STRIDE} AS BIGINT) AS cid, qv AS cvec
  FROM quantized
  WHERE vec_id % {QUERY_STRIDE} = 0 AND vec_id < {K_CLUSTERS * QUERY_STRIDE}
),
{_oracle_iters(N_ITERS)}
SELECT vec_id, cid AS cluster, CAST(dist2 AS BIGINT) AS dist2_scaled
FROM a{N_ITERS}
""",
    doc=f"Lloyd's k-means, K={K_CLUSTERS}, {N_ITERS} unrolled iterations "
    "over quantized (round(x*2^20) BIGINT) embeddings: deterministic "
    "stride-based seeding (no global sort), broadcast-centroid assignment "
    "(corpus never shuffles), exact floor-avg recomputation keyed on "
    "(cluster, dim). Squared-L2 distances and centroids are exact "
    "integers, so the unrolled-CTE DuckDB oracle matches bitwise. "
    "Tie-break: min cluster id.",
    bench=True,
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(table(spark, sf_dir, "embeddings").select("vec_id", "embedding"), spark)
    corpus = emb.select("vec_id", _quantized(F.col("embedding")).alias("qv"))
    centroids = corpus.where(
        (F.col("vec_id") % QUERY_STRIDE == 0)
        & (F.col("vec_id") < K_CLUSTERS * QUERY_STRIDE)
    ).select(
        F.expr(f"vec_id DIV {QUERY_STRIDE}").alias("cid"),
        F.col("qv").alias("cvec"),
    )
    assigned = _assign(corpus, centroids)
    for _ in range(N_ITERS - 1):
        assigned = _assign(
            assigned.select("vec_id", "qv"), _centroids(assigned, "cid")
        )
    return assigned.select(
        "vec_id",
        F.col("cid").alias("cluster"),
        F.col("dist2").alias("dist2_scaled"),
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011) — the PQ half of IVF-PQ.
# The 64-dim vector splits into M=4 16-dim subspaces; each subspace has a
# K=4-codeword codebook (seeded from the deterministic stride vectors, the
# same no-global-sort rule as the k-means seeds; Lloyd refinement of a
# codebook is embedding_kmeans_clusters' machinery, orthogonal to the
# encode path pinned here). A vector's code is the per-subspace argmin of
# exact-integer squared L2 against the codewords — 4 codes x 2 bits = one
# byte per vector, the 256x memory compression that makes billion-vector
# ANN fit RAM.
# ---------------------------------------------------------------------------
M_SUB = 4
SUB_DIM = 16
K_CODES = 4


def _pq_oracle() -> str:
    return f"""
WITH qv AS (
  SELECT vec_id, {_QUANT_SQL.format(vec="embedding")} AS q FROM embeddings
),
cb AS (
  SELECT CAST(s.k AS INT) AS k, q.q AS cq
  FROM qv q JOIN (VALUES {", ".join(f"({k}, {k * QUERY_STRIDE})" for k in range(K_CODES))}) s(k, vid)
    ON q.vec_id = s.vid
),
dists AS (
  SELECT v.vec_id, CAST(m.m AS INT) AS m, c.k,
         sum((list_extract(v.q, CAST(m.m * {SUB_DIM} + i AS INT))
              - list_extract(c.cq, CAST(m.m * {SUB_DIM} + i AS INT)))
             * (list_extract(v.q, CAST(m.m * {SUB_DIM} + i AS INT))
                - list_extract(c.cq, CAST(m.m * {SUB_DIM} + i AS INT))))
           AS d2
  FROM qv v,
       (VALUES {", ".join(f"({m})" for m in range(M_SUB))}) m(m),
       cb c,
       unnest(generate_series(1, {SUB_DIM})) t(i)
  GROUP BY 1, 2, 3
),
best AS (
  SELECT vec_id, m, k, d2,
         row_number() OVER (PARTITION BY vec_id, m
                            ORDER BY d2 ASC, k ASC) AS rn
  FROM dists
)
SELECT vec_id,
       CAST(max(CASE WHEN m = 0 THEN k END) AS INT) AS c0,
       CAST(max(CASE WHEN m = 1 THEN k END) AS INT) AS c1,
       CAST(max(CASE WHEN m = 2 THEN k END) AS INT) AS c2,
       CAST(max(CASE WHEN m = 3 THEN k END) AS INT) AS c3,
       CAST(sum(d2) AS BIGINT) AS recon_err2
FROM best WHERE rn = 1
GROUP BY vec_id
"""


@query(
    "embedding_pq_codes",
    oracle=_pq_oracle(),
    doc="Product-quantization ENCODE (the PQ in IVF-PQ, Jégou et al. "
    "2011): 4 subspaces x 4 codewords -> one 8-bit code per 64-dim "
    "vector plus its exact reconstruction error. Everything is the "
    "repo's integer-exact vector calculus: quantized BIGINT elements, "
    "squared-L2 per subspace via zip_with/aggregate, argmin with k-asc "
    "tie-break, so the DuckDB replay matches bitwise. Plan shape: the "
    "corpus posexplodes into (vector, subspace) rows — 4x the rows, "
    "1/4-length arrays, net constant bytes — joins the 16-row broadcast "
    "codebook, and the argmin window partitions by (vec_id, m): no "
    "corpus shuffle other than that high-cardinality window, same as "
    "k-means assignment. At 100 TB the codebook is still 16 rows and "
    "the encode is one pass; asymmetric-distance SEARCH over the codes "
    "is a lookup-table join against these outputs.",
    bench=True,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        spark,
    )
    qv = emb.withColumn("q", _quantized(F.col("embedding")))
    sub_slices = F.array(
        *[F.slice("q", m * SUB_DIM + 1, SUB_DIM) for m in range(M_SUB)]
    )
    subs = qv.select(
        "vec_id", F.posexplode(sub_slices).alias("m", "sub")
    )
    seeds = qv.where(
        (F.col("vec_id") % QUERY_STRIDE == 0)
        & (F.col("vec_id") < K_CODES * QUERY_STRIDE)
    ).select(
        (F.col("vec_id") / QUERY_STRIDE).cast("int").alias("k"),
        F.col("q").alias("cq"),
    )
    codebook = seeds.select(
        "k", F.posexplode(
            F.array(
                *[F.slice("cq", m * SUB_DIM + 1, SUB_DIM) for m in range(M_SUB)]
            )
        ).alias("m", "cw"),
    )
    d2 = F.expr(
        "aggregate(zip_with(sub, cw, (x, c) -> (x - c) * (x - c)), "
        "0L, (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("k").asc()
    )
    best = (
        subs.join(F.broadcast(codebook), "m")
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return best.groupBy("vec_id").agg(
        F.max(F.when(F.col("m") == 0, F.col("k"))).cast("int").alias("c0"),
        F.max(F.when(F.col("m") == 1, F.col("k"))).cast("int").alias("c1"),
        F.max(F.when(F.col("m") == 2, F.col("k"))).cast("int").alias("c2"),
        F.max(F.when(F.col("m") == 3, F.col("k"))).cast("int").alias("c3"),
        F.sum("d2").cast("bigint").alias("recon_err2"),
    )


def _pq_adc_chain() -> str:
    """WITH-chain qv/cb/dists/codes/lut/adc shared by the ADC top-k and
    recall oracles."""
    vals_k = ", ".join(f"({k}, {k * QUERY_STRIDE})" for k in range(K_CODES))
    vals_m = ", ".join(f"({m})" for m in range(M_SUB))
    sub_d2 = (
        f"sum((list_extract({{v}}, CAST(m.m * {SUB_DIM} + i AS INT))"
        f" - list_extract(c.cq, CAST(m.m * {SUB_DIM} + i AS INT)))"
        f" * (list_extract({{v}}, CAST(m.m * {SUB_DIM} + i AS INT))"
        f" - list_extract(c.cq, CAST(m.m * {SUB_DIM} + i AS INT))))"
    )
    return f"""
WITH qv AS (
  SELECT vec_id, {_QUANT_SQL.format(vec="embedding")} AS q FROM embeddings
),
cb AS (
  SELECT CAST(s.k AS INT) AS k, q.q AS cq
  FROM qv q JOIN (VALUES {vals_k}) s(k, vid) ON q.vec_id = s.vid
),
dists AS (
  SELECT v.vec_id, CAST(m.m AS INT) AS m, c.k, {sub_d2.format(v="v.q")} AS d2
  FROM qv v, (VALUES {vals_m}) m(m), cb c,
       unnest(generate_series(1, {SUB_DIM})) t(i)
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, k FROM (
    SELECT vec_id, m, k,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY d2 ASC, k ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
lut AS (
  SELECT qs.vec_id AS q_vec_id, CAST(m.m AS INT) AS m, c.k,
         {sub_d2.format(v="qs.q")} AS d2
  FROM (SELECT vec_id, q FROM qv WHERE vec_id % {QUERY_STRIDE} = 0) qs,
       (VALUES {vals_m}) m(m), cb c,
       unnest(generate_series(1, {SUB_DIM})) t(i)
  GROUP BY 1, 2, 3
),
adc AS (
  SELECT l.q_vec_id, co.vec_id, sum(l.d2) AS adc_dist2
  FROM codes co JOIN lut l ON l.m = co.m AND l.k = co.k
  GROUP BY 1, 2
),
adc_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_vec_id
                               ORDER BY adc_dist2 ASC, vec_id ASC) AS rank
  FROM adc
)"""


def _pq_adc_oracle() -> str:
    return f"""{_pq_adc_chain()}
SELECT q_vec_id, vec_id, CAST(adc_dist2 AS BIGINT) AS adc_dist2,
       CAST(rank AS BIGINT) AS rank
FROM adc_ranked WHERE rank <= 10
"""


@query(
    "similarity_pq_adc_topk",
    oracle=_pq_adc_oracle(),
    doc="Asymmetric-distance search over PQ codes — the SEARCH half of "
    "IVF-PQ: each query precomputes a 16-entry lookup table (its exact "
    "squared L2 to every codeword, per subspace), and a vector's "
    "approximate distance is then FOUR table lookups summed — no "
    "vector arithmetic per candidate at all, which is why PQ search "
    "scans billions of codes at memory bandwidth. Here the lookup is "
    "an equi-join on (m, k) between the corpus code table and the "
    "broadcast LUT (queries x 16 rows), aggregated per (query, "
    "vector); top-10 per query via rank window with vec_id tie-break. "
    "All arithmetic integer-exact, so approximation and oracle agree "
    "bitwise. At scale: codes are 1 byte/vector (vs 512 for raw "
    "vectors), the LUT rides the plan broadcast, and the one shuffle "
    "keys the (query, vector) partial sums; compose with the IVF cell "
    "router (similarity_ivf_topk) to only score in-cell codes.",
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        spark,
    )
    qv = emb.withColumn("q", _quantized(F.col("embedding")))
    sub_arr = F.array(
        *[F.slice("q", m * SUB_DIM + 1, SUB_DIM) for m in range(M_SUB)]
    )
    subs = qv.select("vec_id", F.posexplode(sub_arr).alias("m", "sub"))
    seeds = qv.where(
        (F.col("vec_id") % QUERY_STRIDE == 0)
        & (F.col("vec_id") < K_CODES * QUERY_STRIDE)
    ).select(
        (F.col("vec_id") / QUERY_STRIDE).cast("int").alias("k"),
        F.col("q").alias("cq"),
    )
    codebook = seeds.select(
        "k",
        F.posexplode(
            F.array(
                *[
                    F.slice("cq", m * SUB_DIM + 1, SUB_DIM)
                    for m in range(M_SUB)
                ]
            )
        ).alias("m", "cw"),
    )
    d2 = F.expr(
        "aggregate(zip_with(sub, cw, (x, c) -> (x - c) * (x - c)), "
        "0L, (acc, x) -> acc + x)"
    )
    w_code = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("k").asc()
    )
    codes = (
        subs.join(F.broadcast(codebook), "m")
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w_code))
        .where(F.col("rn") == 1)
        .select("vec_id", "m", "k")
    )
    lut = (
        subs.where(F.col("vec_id") % QUERY_STRIDE == 0)
        .withColumnRenamed("vec_id", "q_vec_id")
        .join(F.broadcast(codebook), "m")
        .withColumn("d2", d2)
        .select("q_vec_id", "m", "k", "d2")
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "k"])
        .groupBy("q_vec_id", "vec_id")
        .agg(F.sum("d2").cast("bigint").alias("adc_dist2"))
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("adc_dist2").asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 10)
    )


def _ivfpq_oracle() -> str:
    from spark_streaming_twitter_spark.similarity.search import (
        _IVF_PREFIX_CTES,
        _ORACLE_PRELUDE,
    )

    vals_k = ", ".join(f"({k}, {k * QUERY_STRIDE})" for k in range(K_CODES))
    vals_m = ", ".join(f"({m})" for m in range(M_SUB))
    sub_d2 = (
        f"sum((list_extract({{v}}, CAST(m.m * {SUB_DIM} + i AS INT))"
        f" - list_extract(c.cq, CAST(m.m * {SUB_DIM} + i AS INT)))"
        f" * (list_extract({{v}}, CAST(m.m * {SUB_DIM} + i AS INT))"
        f" - list_extract(c.cq, CAST(m.m * {SUB_DIM} + i AS INT))))"
    )
    return f"""{_ORACLE_PRELUDE},
{_IVF_PREFIX_CTES},
cells AS (SELECT query_id, label FROM routed WHERE rn <= 1),
cb AS (
  SELECT CAST(s.k AS INT) AS k, q.qv AS cq
  FROM quantized q JOIN (VALUES {vals_k}) s(k, vid) ON q.vec_id = s.vid
),
pqdists AS (
  SELECT v.vec_id, CAST(m.m AS INT) AS m, c.k,
         {sub_d2.format(v="v.qv")} AS d2
  FROM quantized v, (VALUES {vals_m}) m(m), cb c,
       unnest(generate_series(1, {SUB_DIM})) t(i)
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, k FROM (
    SELECT vec_id, m, k,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY d2 ASC, k ASC) AS rn
    FROM pqdists
  ) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS query_id, m, k, d2 FROM pqdists
  WHERE vec_id % {QUERY_STRIDE} = 0
),
adc AS (
  SELECT l.query_id, co.vec_id AS neighbor_id, sum(l.d2) AS adc_dist2
  FROM codes co
  JOIN quantized qn ON qn.vec_id = co.vec_id
  JOIN cells ce ON ce.label = qn.label
  JOIN lut l ON l.query_id = ce.query_id
            AND l.m = co.m AND l.k = co.k
  WHERE co.vec_id <> l.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(adc_dist2 AS BIGINT) AS adc_dist2,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist2 ASC, neighbor_id ASC)
              AS rank
  FROM adc
) WHERE rank <= 10
"""


@query(
    "similarity_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    doc="IVF-PQ — the full composed index this family builds toward: each "
    "query routes to its nearest IVF cell (the exact-integer centroid "
    "argmax of similarity_ivf_topk), then asymmetric-distance scores "
    "ONLY that cell's PQ codes via its lookup table. Candidates probed: "
    "1/n_cells of the corpus; bytes touched per candidate: ONE (the "
    "code), not 512 (the vector) — the two multiplicative reductions "
    "that let a billion-vector index serve from RAM. Every stage is the "
    "repo's integer-exact calculus (quantized centroids, codebook "
    "argmin, LUT sums), so the triple composition still matches DuckDB "
    "bitwise — the oracle chains the IVF routing CTEs with the PQ "
    "encode/LUT/ADC chain. Plan: centroids, codebook, LUT, and the "
    "routed cell list all broadcast; the one shuffle aggregates "
    "(query, neighbor) partial sums; note the lut d2 is reused from "
    "the SAME pqdists relation that encodes the corpus — queries are "
    "corpus members, so their subspace distances are already computed.",
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding"
        ),
        spark,
    )
    corpus = emb.withColumn("qv", _quantized(F.col("embedding")))
    # --- IVF routing (exact-integer centroids per label cell) ---
    queries = corpus.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), "qv"
    )
    cells = _route(queries, _centroids(corpus), "query_id", 1).select(
        "query_id", "label"
    )
    # --- PQ encode + LUT (shared subspace-distance relation) ---
    sub_arr = F.array(
        *[F.slice("qv", m * SUB_DIM + 1, SUB_DIM) for m in range(M_SUB)]
    )
    subs = corpus.select(
        "vec_id", "label", F.posexplode(sub_arr).alias("m", "sub")
    )
    seeds = corpus.where(
        (F.col("vec_id") % QUERY_STRIDE == 0)
        & (F.col("vec_id") < K_CODES * QUERY_STRIDE)
    ).select(
        (F.col("vec_id") / QUERY_STRIDE).cast("int").alias("k"),
        F.col("qv").alias("cq"),
    )
    codebook = seeds.select(
        "k",
        F.posexplode(
            F.array(
                *[
                    F.slice("cq", m * SUB_DIM + 1, SUB_DIM)
                    for m in range(M_SUB)
                ]
            )
        ).alias("m", "cw"),
    )
    d2 = F.expr(
        "aggregate(zip_with(sub, cw, (x, c) -> (x - c) * (x - c)), "
        "0L, (acc, x) -> acc + x)"
    )
    pqdists = (
        subs.join(F.broadcast(codebook), "m")
        .withColumn("d2", d2)
        .select("vec_id", "label", "m", "k", "d2")
        .localCheckpoint()
    )
    w_code = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("k").asc()
    )
    codes = (
        pqdists.withColumn("rn", F.row_number().over(w_code))
        .where(F.col("rn") == 1)
        .select("vec_id", "label", "m", "k")
    )
    lut = pqdists.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), "m", "k", "d2"
    )
    cell_lut = lut.join(F.broadcast(cells), "query_id")
    adc = (
        codes.alias("co")
        .join(
            F.broadcast(cell_lut.alias("lu")),
            (F.col("co.label") == F.col("lu.label"))
            & (F.col("co.m") == F.col("lu.m"))
            & (F.col("co.k") == F.col("lu.k"))
            & (F.col("co.vec_id") != F.col("lu.query_id")),
        )
        .groupBy(
            F.col("lu.query_id").alias("query_id"),
            F.col("co.vec_id").alias("neighbor_id"),
        )
        .agg(F.sum(F.col("lu.d2")).cast("bigint").alias("adc_dist2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 10)
    )


def _pq_recall_oracle() -> str:
    return f"""{_pq_adc_chain()},
exact_d AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         sum((list_extract(q.q, CAST(i AS INT))
              - list_extract(v.q, CAST(i AS INT)))
             * (list_extract(q.q, CAST(i AS INT))
                - list_extract(v.q, CAST(i AS INT)))) AS d2
  FROM (SELECT * FROM qv WHERE vec_id % {QUERY_STRIDE} = 0) q,
       qv v,
       unnest(generate_series(1, {M_SUB * SUB_DIM})) t(i)
  WHERE v.vec_id <> q.vec_id
  GROUP BY 1, 2
),
exact_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d2 ASC, neighbor_id ASC) AS rank
  FROM exact_d
)
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(count(a.vec_id) AS BIGINT) AS n_hits,
       CAST(count(a.vec_id) AS DOUBLE) / count(*) AS recall
FROM (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= 5) e
LEFT JOIN (SELECT q_vec_id, vec_id FROM adc_ranked WHERE rank <= 10) a
  ON a.q_vec_id = e.query_id AND a.vec_id = e.neighbor_id
GROUP BY e.query_id
""" 


@query(
    "similarity_pq_recall",
    oracle=_pq_recall_oracle(),
    doc="PQ quality measurement, same contract as similarity_ann_recall / "
    "similarity_ivf_recall_nprobe: per-query recall of the ADC top-10 "
    "against the EXACT quantized-L2 top-5 — metric-matched (both sides "
    "rank squared L2 on the same quantized vectors), so the number "
    "isolates pure quantization loss: 4 subspaces x 4 codewords is a "
    "deliberately coarse codebook and the measured recall is the "
    "tuning signal for K_CODES/M_SUB, exactly how production PQ is "
    "sized. Both rankings integer-exact -> the recall fraction is "
    "bitwise-reproducible.",
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = widen(
        table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        spark,
    )
    qv = emb.withColumn("q", _quantized(F.col("embedding")))
    queries = qv.where(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    d2 = F.expr(
        "aggregate(zip_with(qq, q, (x, c) -> (x - c) * (x - c)), "
        "0L, (acc, x) -> acc + x)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    exact = (
        qv.select(F.col("vec_id").alias("neighbor_id"), "q")
        .join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("d2", d2)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    adc = similarity_pq_adc_topk(spark, sf_dir).select(
        F.col("q_vec_id").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.lit(1).alias("hit"),
    )
    return (
        exact.join(adc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("hit").cast("bigint").alias("n_hits"),
            (F.count("hit").cast("double") / F.count(F.lit(1))).alias(
                "recall"
            ),
        )
    )
