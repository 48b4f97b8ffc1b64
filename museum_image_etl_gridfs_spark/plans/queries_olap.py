"""OLAP shapes over the TPC-H-ish fixtures: upsert markers, per-nation
top-k arrays, and the brand co-occurrence edge source shared with
``queries_stats``. No UDFs; exact DuckDB oracles.
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
