"""Temporal/range join queries (SURVEY.md §2.3 completions) plus
skew-salted aggregation and approximate-distinct — the engine-parity
operators the reference lacks entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.dedup import dedup_keep_first
from ..operators.joins import asof_join, range_join
from ..operators.skew import salted_aggregate
from .registry import query


@query(
    "asof_prev_order_price",
    oracle="""
    WITH rd AS (
        SELECT o_custkey, o_orderdate, o_totalprice
        FROM (
            SELECT o_custkey, o_orderdate, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                      ORDER BY o_orderkey) AS rn
            FROM orders
        ) WHERE rn = 1
    )
    SELECT a.o_orderkey, a.o_custkey, a.o_orderdate,
           b.o_totalprice AS prev_totalprice
    FROM orders a
    LEFT JOIN LATERAL (
        SELECT o_totalprice FROM rd b
        WHERE b.o_custkey = a.o_custkey AND b.o_orderdate < a.o_orderdate
        ORDER BY b.o_orderdate DESC LIMIT 1
    ) b ON TRUE
    """,
    tags=("asof-join", "extension"),
)
def asof_prev_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (strict <): each order matched to the customer's
    most recent STRICTLY-earlier order day's price.

    The right side is deduplicated to one row per (customer, day)
    first, so the as-of match is deterministic on both engines. The
    union+window implementation shuffles once on the key — no range
    explosion (operators/joins.py scale notes).
    """
    orders = load(spark, "orders", sf_dir)
    right = dedup_keep_first(
        orders.select("o_custkey", "o_orderdate", "o_totalprice", "o_orderkey"),
        ["o_custkey", "o_orderdate"],
        ["o_orderkey"],
    ).select("o_custkey", "o_orderdate", "o_totalprice")
    left = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    return asof_join(
        left,
        right.withColumnRenamed("o_totalprice", "prev_totalprice"),
        on=["o_custkey"],
        left_time="o_orderdate",
        right_time="o_orderdate",
        right_values=["prev_totalprice"],
        strict=True,
    )


@query(
    "quantity_tier_revenue",
    oracle="""
    SELECT CASE WHEN l_quantity >= 0  AND l_quantity < 10 THEN 'low'
                WHEN l_quantity >= 10 AND l_quantity < 25 THEN 'mid'
                WHEN l_quantity >= 25 AND l_quantity < 60 THEN 'high'
           END AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY tier
    """,
    tags=("range-join", "extension"),
)
def quantity_tier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: lineitem quantities against a broadcast interval
    table (lo <= v < hi) — planned as a BroadcastNestedLoopJoin, so
    the fact side never shuffles; then an aggregate per tier."""
    li = load(spark, "lineitem", sf_dir)
    bounds = li.sparkSession.createDataFrame(
        [("low", 0, 10), ("mid", 10, 25), ("high", 25, 60)],
        "tier string, lo int, hi int",
    )
    joined = range_join(li, bounds, "l_quantity", "lo", "hi")
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "salted_order_counts",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("skew", "agg", "extension"),
)
def salted_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-stage aggregation — bit-identical to the plain
    group-by (the oracle IS the plain group-by), but a hot priority
    value spreads over 16 reducers in stage one. The measure goes
    through DECIMAL so partial-sum order cannot change the result."""
    o = load(spark, "orders", sf_dir).withColumn(
        "__tp", F.col("o_totalprice").cast("decimal(18,2)")
    )
    out = salted_aggregate(
        o,
        ["o_orderpriority"],
        count_alias="n",
        sum_cols={"__tp": "sum_total"},
        n_salts=16,
    )
    return out.select(
        "o_orderpriority", "n", F.col("sum_total").cast("double").alias("sum_total")
    )
