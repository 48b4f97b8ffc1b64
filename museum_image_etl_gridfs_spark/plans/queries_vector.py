"""Similarity search over ``embeddings``: brute-force cosine top-k,
oracle-checked, with scores rounded to 4 dp to absorb engine-internal
summation-order ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.vectors import cosine
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

