"""IVF ANN: structure invariants + recall against brute force."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.catalog import load
from museum_image_etl_gridfs_spark.functions.vectors import cosine
from museum_image_etl_gridfs_spark.operators.ann import assign_cells, ivf_topk

K_CELLS = 8
TOP_K = 5
N_QUERIES = 5


def _emb(spark, sf_dir):
    return load(spark, "embeddings", sf_dir).select("vec_id", "embedding")


def _queries(spark, sf_dir):
    return (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )


def test_cells_partition_the_corpus(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    centroids, assigned = assign_cells(emb, k_cells=K_CELLS)
    assert centroids.count() == K_CELLS
    assert assigned.count() == emb.count()  # every vector in exactly 1 cell
    assert assigned.select("cell_id").distinct().count() <= K_CELLS


def test_full_probe_equals_brute_force(spark, sf_dir):
    """n_probe = k_cells degenerates to exact brute-force top-k."""
    emb = _emb(spark, sf_dir)
    q = _queries(spark, sf_dir)
    approx = ivf_topk(
        emb, q, k_cells=K_CELLS, n_probe=K_CELLS, top_k=TOP_K
    )
    a, b = emb.alias("a"), q.alias("b")
    scored = a.join(F.broadcast(b), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qv"), F.col("embedding")), 4).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    brute = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "neighbor_id", "score")
    )
    assert approx.subtract(brute).count() == 0
    assert brute.subtract(approx).count() == 0


def test_partial_probe_recall(spark, sf_dir):
    """Probing half the cells must still recover a decent fraction of
    the true top-k (i.i.d. vectors spread neighbors across cells, so
    the bound is loose but meaningful: recall > 0 and result size is
    at most top_k per query)."""
    emb = _emb(spark, sf_dir)
    q = _queries(spark, sf_dir)
    approx = ivf_topk(emb, q, k_cells=K_CELLS, n_probe=K_CELLS // 2, top_k=TOP_K)
    full = ivf_topk(emb, q, k_cells=K_CELLS, n_probe=K_CELLS, top_k=TOP_K)
    hits = approx.join(full, ["qid", "neighbor_id"], "left_semi").count()
    total = full.count()
    assert total == N_QUERIES * TOP_K
    assert hits / total >= 0.3
    per_q = approx.groupBy("qid").count().agg(F.max("count")).collect()[0][0]
    assert per_q <= TOP_K


def test_ivf_plan_has_no_per_qid_rank_window(spark, sf_dir):
    """VERDICT r10 #2: the final rank must be the two-phase
    grouped_topk merge, not a per-qid row_number window over the
    probed candidate set (each query would funnel ~n_probe/K of the
    corpus through one task at scale), and the candidate stream must
    not pay a redundant dropDuplicates shuffle."""
    emb = _emb(spark, sf_dir)
    q = _queries(spark, sf_dir)
    out = ivf_topk(emb, q, k_cells=K_CELLS, n_probe=2, top_k=TOP_K)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # windows remain in cell assignment (per-vector id — high
    # cardinality) and probe selection (K rows per query); neither
    # ranks the scored candidate stream. The scored stream feeds the
    # partial-topk aggregate, so no window may take `score` as input.
    assert "score" not in [
        ln for ln in plan.splitlines() if "Window" in ln
    ].__str__()
    assert "dropDuplicates" not in plan.lower()
