"""OLAP shapes over the TPC-H-ish fixtures: upsert markers, per-group
rank boards and top-k arrays, and the brand co-occurrence edge source
shared with ``queries_stats``. No UDFs; exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.lifecycle import tracked_local_checkpoint
from .registry import query


@query(
    "upsert_transform_markers",
    oracle="""
    SELECT t.o_orderkey,
           CASE WHEN u.o_orderkey IS NOT NULL
                THEN 'blob_' || CAST(t.o_orderkey AS VARCHAR)
                ELSE t.marker END AS marker,
           t.o_custkey
    FROM (
        SELECT o_orderkey, o_custkey, CAST(NULL AS VARCHAR) AS marker
        FROM orders
    ) t
    LEFT JOIN (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0) u
      ON t.o_orderkey = u.o_orderkey
    """,
    tags=("upsert", "merge", "reference-parity"),
)
def upsert_transform_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 distributed form: the reference's per-row
    ``update_one({$set: transformed_gridfs_file_id})`` write-back
    (src/transform_load.py:113-119) as ONE keyed MERGE — a third of
    the keys get their marker set, the rest keep NULL; one shuffle
    instead of N round-trips."""
    from ..operators.upsert import merge_upsert

    orders = load(spark, "orders", sf_dir)
    target = orders.select(
        "o_orderkey", "o_custkey", F.lit(None).cast("string").alias("marker")
    )
    updates = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.concat(F.lit("blob_"), F.col("o_orderkey").cast("string")).alias("marker"),
    )
    merged = merge_upsert(target, updates, ["o_orderkey"])
    return merged.select("o_orderkey", "marker", "o_custkey")


@query(
    "supplier_rank_board",
    oracle="""
    SELECT s_nationkey, s_suppkey, s_acctbal,
           CAST(RANK()         OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK()   OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4)       OVER w AS BIGINT) AS quartile,
           round(PERCENT_RANK() OVER w, 6)       AS pct_rank,
           FIRST_VALUE(s_suppkey) OVER w         AS best_supp
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    """,
    tags=("window", "ranking"),
)
def supplier_rank_board(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window breadth in one pass: rank / dense_rank / ntile
    / percent_rank / first_value over one window spec.

    Scale shape (VERDICT r9 #1 follow-through): the 25-nation window
    would put 4% of all suppliers through one sort task at any scale;
    :func:`~..operators.quantiles.grouped_rank_stats` computes the
    exact per-nation row number + ntile from count-balanced range
    buckets instead. The ORDER BY is a strict total order (suppkey
    tiebreak), so rank == dense_rank == row_number and percent_rank
    is the exact ``(rn−1)/(n−1)``; first_value is the rn = 1 row,
    an O(nations) relation broadcast back."""
    from ..operators.quantiles import grouped_rank_stats

    s = load(spark, "supplier", sf_dir).withColumn(
        "__negbal", -F.col("s_acctbal")
    )
    ranked = grouped_rank_stats(
        s,
        ["s_nationkey"],
        ["__negbal", "s_suppkey"],
        row_number_col="__rn",
        n_col="__n",
        ntile_k=4,
        ntile_col="__q",
    )
    best = F.broadcast(
        ranked.filter(F.col("__rn") == 1).select(
            "s_nationkey", F.col("s_suppkey").alias("best_supp")
        )
    )
    rn, n = F.col("__rn"), F.col("__n")
    return ranked.join(best, "s_nationkey").select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        rn.cast("long").alias("rnk"),
        rn.cast("long").alias("drnk"),
        F.col("__q").cast("long").alias("quartile"),
        F.round(
            F.when(n == 1, F.lit(0.0)).otherwise(
                (rn - 1).cast("double") / (n - 1).cast("double")
            ),
            6,
        ).alias("pct_rank"),
        "best_supp",
    )


@query(
    "top_balances_per_nation",
    oracle="""
    SELECT n_nationkey,
           array_to_string(list(bal ORDER BY bal DESC, ck)[:3], ',') AS top_bals
    FROM (
        SELECT c_nationkey AS n_nationkey,
               CAST(c_acctbal AS DOUBLE) AS bal, c_custkey AS ck,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) WHERE rn <= 3
    GROUP BY n_nationkey
    """,
    tags=("nested", "array", "agg"),
)
def top_balances_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-array output (A2's $push generalized): per-nation
    ordered array of the top-3 balances — grouped top-k (two-phase
    partial merge, :func:`~..operators.topk.grouped_topk` — no
    per-nation sort task) then an order-pinned collect (sort_array of
    (bal, key) structs, projected back to the bal). Serialized to a
    CSV string for the compare: the driver's value-hash normalization
    can't hash raw arrays."""
    from ..operators.topk import grouped_topk

    c = load(spark, "customer", sf_dir)
    top3 = grouped_topk(
        c, ["c_nationkey"], [("c_acctbal", False), ("c_custkey", True)], 3
    )
    ordered = F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("c_acctbal")).alias("neg"), F.col("c_custkey").alias("ck"),
                    F.col("c_acctbal").cast("double").alias("bal"),
                )
            )
        ),
        lambda s: s["bal"],
    )
    return top3.groupBy(F.col("c_nationkey").alias("n_nationkey")).agg(
        F.array_join(
            F.transform(ordered, lambda b: b.cast("string")), ","
        ).alias("top_bals")
    )


def order_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (l_orderkey, p_brand) projection — the shared edge
    source for the brand co-occurrence graph queries
    (``brand_triangle_stats``, ``recursive_brand_reach``). The part
    join is left to the planner: at fixture scale AQE broadcasts it
    anyway, while a hard-coded
    hint would force an oversized broadcast once the part dimension
    grows with SF. The distinct collapses the fact with map-side
    combine."""
    li = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load(spark, "part", sf_dir).select("p_partkey", "p_brand")
    return (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )


def brand_edges(
    spark: SparkSession, sf_dir: str, *, directed: bool
) -> DataFrame:
    """Checkpoint-materialized brand co-purchase edge list over
    :func:`order_brand_pairs` — ``directed=True`` emits both
    orientations (b1 ≠ b2, for traversals), ``directed=False`` the
    canonical b1 < b2 half (for undirected censuses). Checkpointed
    because every consumer reads it repeatedly (recursion steps,
    degree/triangle/count branches)."""
    bp = order_brand_pairs(spark, sf_dir)
    a = bp.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("b1"))
    b = bp.select(F.col("l_orderkey").alias("k"), F.col("p_brand").alias("b2"))
    cond = (
        F.col("b1") != F.col("b2") if directed else F.col("b1") < F.col("b2")
    )
    return tracked_local_checkpoint(
        a.join(b, "k").filter(cond).select("b1", "b2").distinct()
    )
