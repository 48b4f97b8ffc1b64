"""Similarity-search queries over ``embeddings`` (ANN extension).

Brute-force cosine top-k is the exactness baseline (oracle-checked,
scores rounded to 4 dp to absorb engine-internal summation-order
ulps); the LSH-bucketed variant is the 100 TB scale path (rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.vectors import cosine, l2_distance, norm
from ..operators.topk import grouped_topk
from ..partitioning import spread
from .registry import query

_N_QUERIES = 3
_TOP_K = 5


@query(
    "cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
         scored AS (
        SELECT q.qid, e.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS score
        FROM q JOIN embeddings e ON e.vec_id <> q.qid
    )
    SELECT qid, neighbor_id, score
    FROM (
        SELECT qid, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
    tags=("similarity", "extension"),
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors against
    the corpus, score JVM-side (zip_with/aggregate — no Python), then
    per-query top-k via the two-phase partial merge
    (:func:`~..operators.topk.grouped_topk`) — a per-qid ranking
    window would carry each anchor's ENTIRE corpus fan-out through
    one task (the ADVICE r9 straggler); the two-phase form caps every
    partial at k rows per (qid, input-partition). One broadcast join
    + one balanced exchange.
    """
    emb = load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # scoring is CPU-bound interpreted-HOF work: spread to cores (a
    # one-row-group scan would otherwise score on a single thread)
    scored = (
        spread(emb, "vec_id")
        .join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("qv"), F.col("embedding")), 4).alias("score"),
        )
    )
    return grouped_topk(
        scored, ["qid"], [("score", False), ("neighbor_id", True)], _TOP_K
    ).select("qid", "neighbor_id", "score")


@query(
    "l2_nearest",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
         scored AS (
        SELECT q.qid, e.vec_id AS neighbor_id,
               round(list_distance(q.qv, CAST(e.embedding AS DOUBLE[])), 4) AS dist
        FROM q JOIN embeddings e ON e.vec_id <> q.qid
    )
    SELECT qid, neighbor_id, dist
    FROM (
        SELECT qid, neighbor_id, dist,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
    tags=("similarity", "extension"),
)
def l2_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean nearest neighbors, same broadcast + two-phase
    grouped-top-k shape as ``cosine_topk``."""
    emb = load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = spread(emb, "vec_id").join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(l2_distance(F.col("qv"), F.col("embedding")), 4).alias("dist"),
    )
    return grouped_topk(
        scored, ["qid"], [("dist", True), ("neighbor_id", True)], _TOP_K
    ).select("qid", "neighbor_id", "dist")


@query(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                      x -> x * x)))
                         AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "agg", "extension"),
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean L2 norm. Per-row norms go through DECIMAL(18,6)
    before the cross-row sum so the group aggregate is exact and
    partitioning-independent."""
    emb = load(spark, "embeddings", sf_dir)
    cnt = F.count(F.lit(1))
    return emb.groupBy("label").agg(
        cnt.alias("n"),
        (F.sum(norm("embedding").cast("decimal(18,6)")).cast("double") / cnt).alias(
            "avg_norm"
        ),
    )


#: sign-LSH bucket width (first B dims' sign bits) — 2^6 = 64 buckets
_SIGN_B = 6


@query(
    "signlsh_topk",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_sum(list_transform(range(1, {_SIGN_B + 1}),
                   p -> CASE WHEN embedding[p] >= 0
                             THEN (2 ** (p - 1)) ELSE 0 END))::BIGINT
                   AS bucket
        FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b
          WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.qid, b.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.qv, b.v), 4) AS score
        FROM q JOIN b ON b.bucket = q.bucket AND b.vec_id <> q.qid)
    SELECT qid, neighbor_id, score
    FROM (
        SELECT qid, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, neighbor_id) AS rn
        FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
    tags=("similarity", "lsh", "extension"),
)
def signlsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-k with an EXACT oracle: vectors bucket
    by the sign pattern of their first ``_SIGN_B`` dimensions (a fixed
    axis-aligned hyperplane family — deterministic and
    SQL-expressible, unlike xxhash-derived random planes), and each
    query scores only its own bucket.

    Scale shape: the candidate join is BUCKET-LOCAL — corpus rows
    join broadcast queries on the bucket key, so the scored stream is
    ~n/2^B per query instead of n, and buckets shard across executors
    at any corpus size. Final rank via the two-phase
    :func:`~..operators.topk.grouped_topk` merge (no per-qid global
    window). Same output shape as ``cosine_topk`` so recall against
    the brute-force baseline is directly measurable.
    """
    emb = load(spark, "embeddings", sf_dir)
    bucket = F.lit(0).cast("long")
    for p in range(_SIGN_B):
        bucket = bucket + F.when(
            F.element_at("embedding", p + 1) >= 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
    b = spread(emb, "vec_id").select(
        "vec_id", "embedding", bucket.alias("bucket")
    )
    q = b.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    scored = b.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket"))
        & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qv"), F.col("embedding")), 4).alias("score"),
    )
    return grouped_topk(
        scored, ["qid"], [("score", False), ("neighbor_id", True)], _TOP_K
    ).select("qid", "neighbor_id", "score")


@query("pq_adc_topk", oracle=None, tags=("similarity", "pq", "extension"))
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ADC top-k (Jégou et al., TPAMI 2011 — the
    compressed-index ANN path): train m=4 / k=16 codebooks on the
    corpus, encode every vector to 4 code bytes (64 floats → 4 bytes,
    the compression that keeps a 100 TB index in cluster memory),
    and answer the standard 3 queries by Asymmetric Distance
    Computation — per-query m×k lookup tables, never a float-vector
    distance against the corpus. Deterministic (seeded Lloyd's, no
    RNG) so golden-pinnable; accuracy vs brute-force L2 is asserted
    in tests/test_pq.py. Returns (qid, neighbor_id, approx_sq_dist).
    """
    from ..operators.pq import adc_topk, pq_encode, pq_fit

    emb = load(spark, "embeddings", sf_dir)
    codebooks = pq_fit(emb, m=4, k=16, n_iter=5)
    codes = pq_encode(emb, codebooks)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    ]
    return adc_topk(codes, codebooks, queries, top_k=_TOP_K).select(
        "qid", "neighbor_id", "approx_sq_dist"
    )


@query(
    "ivfpq_topk_ann", oracle=None, tags=("similarity", "ivf", "pq", "extension")
)
def ivfpq_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index (Jégou et al. TPAMI 2011 §IV): coarse
    IVF cells prune the corpus (~n_probe/k_cells scored per query)
    and PQ residual codes compress what is scored (floats never
    touched at query time) — the two multiplicative reductions behind
    every production billion-vector index. Deterministic end to end;
    golden-pinned (iterative Lloyd's has no SQL oracle); recall and
    residual-advantage properties in tests/test_pq.py."""
    from ..operators.pq import ivfpq_topk

    emb = load(spark, "embeddings", sf_dir)
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    ]
    return ivfpq_topk(
        emb, queries, k_cells=16, n_probe=4, m=4, k=16, top_k=_TOP_K
    ).select("qid", "neighbor_id", "approx_sq_dist")


@query("ivf_topk_ann", oracle=None, tags=("similarity", "ivf", "extension"))
def ivf_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe the 4 nearest of 16 Voronoi cells per
    query (rows-only check — approximate by design; exactness of the
    full-probe degenerate case and partial-probe recall are asserted
    in tests/test_ann.py). The 100 TB form writes the corpus
    partitioned by cell so probing = partition pruning."""
    from ..operators.ann import ivf_topk

    emb = load(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return ivf_topk(emb, q, k_cells=16, n_probe=4, top_k=_TOP_K)


@query(
    "pca_projection",
    oracle=None,  # eigendecomposition is not SQL-expressible; golden-pinned
    tags=("vector", "pca", "extension"),
)
def pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-component PCA of the embedding corpus (operators/pca.py):
    covariance from one distributed partial-sum pass, driver-side
    eigh on the tiny d×d matrix, then a shuffle-free projection map.
    Scores rounded to 4 dp; component signs canonicalized — the full
    result is committed as a golden (tests/test_goldens.py).
    """
    from ..operators.pca import pca_fit, pca_project

    emb = load(spark, "embeddings", sf_dir).select(
        "vec_id", "label", "embedding"
    )
    mean, comps, _ratio = pca_fit(emb, k=2)
    return pca_project(emb, mean, comps, extra_cols=("label",))


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, label AS qlabel,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
         scored AS (
        SELECT q.qid, e.vec_id AS neg_id, e.label AS neg_label,
               round(list_cosine_similarity(q.qv,
                     CAST(e.embedding AS DOUBLE[])), 4) AS score
        FROM q JOIN embeddings e ON e.label <> q.qlabel
    )
    SELECT qid, neg_id, neg_label, score
    FROM (
        SELECT qid, neg_id, neg_label, score,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, neg_id) AS rn
        FROM scored
    ) WHERE rn <= {_TOP_K}
    """,
    tags=("similarity", "contrastive", "extension"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPR-style hard-negative mining (Karpukhin et al., EMNLP'20
    "Dense Passage Retrieval" — public method): for each anchor
    vector, the top-k most cosine-similar corpus vectors whose LABEL
    differs from the anchor's — the "looks relevant but isn't"
    negatives that make contrastive training data hard. Same
    broadcast-anchors + JVM-side score + per-anchor rank shape as
    ``cosine_topk``; the label inequality joins into the broadcast
    predicate so wrong-label candidates are dropped BEFORE scoring
    fan-out ever shuffles. At 100 TB the anchor set is the small side
    by construction (a training batch, not the corpus), so the
    broadcast is bounded by batch size; the corpus side stays a
    narrow scan. Per-anchor top-k via the two-phase partial merge
    (:func:`~..operators.topk.grouped_topk`, ADVICE r9: a per-qid
    ranking window would funnel each anchor's whole wrong-label
    fan-out through one task). Scores rounded to 4 dp
    (summation-order ulps, same route as cosine_topk).
    """
    emb = load(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        spread(emb, "vec_id")
        .join(F.broadcast(q), F.col("label") != F.col("qlabel"))
        .select(
            "qid",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round(cosine(F.col("qv"), F.col("embedding")), 4).alias("score"),
        )
    )
    return grouped_topk(
        scored, ["qid"], [("score", False), ("neg_id", True)], _TOP_K
    ).select("qid", "neg_id", "neg_label", "score")
