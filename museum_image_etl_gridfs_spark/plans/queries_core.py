"""Core relational queries (SURVEY.md §2.2-§2.8 coverage).

Each query maps one or more operator-inventory rows onto the driver's
TPC-H-ish fixtures, with an exact DuckDB oracle. Money/measure
aggregates run through DECIMAL so the sum is exact and
partitioning-independent, then cast to DOUBLE (see registry
docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.dedup import dedup_keep_first
from ..operators.split import assign_split, split_label_sql
from .registry import query


def dec(c: Column | str, scale: int = 2) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# A1/A2/F6 — the reference's one real query: duplicate-group detection
# ($group + $match(count>1), src/transform_load.py:47-53), generalized.
# ---------------------------------------------------------------------------
@query(
    "flagship_dup_groups",
    oracle="""
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT)                               AS dup_count,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           CAST(MIN(l_linenumber) AS INTEGER)                     AS min_line
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(*) > 1
    """,
    tags=("agg", "having", "reference-parity"),
)
def flagship_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-key groups with per-group aggregates (A1+A2+F6).

    One hash-aggregate shuffle on the group key; partial aggregation
    map-side. The reference materializes every duplicate group on the
    client (``list(coll.aggregate(...))``) — this stays distributed.
    """
    li = load(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sum(dec("l_quantity")).cast("double").alias("total_qty"),
            F.min("l_linenumber").alias("min_line"),
        )
        .filter(F.col("dup_count") > 1)
        .select("l_orderkey", "dup_count", "total_qty", "min_line")
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: the canonical scan→filter→agg pipeline (P1, F*, A*)
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE)                                             AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(COUNT(*) AS BIGINT)                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report (TPC-H Q1 shape).

    Catalyst pushes the shipdate filter into the Parquet scan and
    prunes to the 6 referenced columns; one shuffle for the final
    aggregate over a 6-group key space (partials collapse map-side).
    """
    li = load(spark, "lineitem", sf_dir).filter(F.col("l_shipdate") <= "1998-09-02")
    cnt = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        (F.sum(dec("l_quantity")).cast("double") / cnt).alias("avg_qty"),
        (F.sum(dec("l_extendedprice")).cast("double") / cnt).alias("avg_price"),
        cnt.alias("count_order"),
    )


# ---------------------------------------------------------------------------
# A3 — keep-first dedup, deterministic ordering
# ---------------------------------------------------------------------------
@query(
    "dedup_keep_first_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
    tags=("window", "dedup", "reference-parity"),
)
def dedup_keep_first_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first-per-group dedup (A3): each customer's earliest order.

    The reference keeps ``docs[0]`` in nondeterministic arrival order
    (src/transform_load.py:59-60); we pin (o_orderdate, o_orderkey).
    Single window shuffle on the group key.
    """
    orders = load(spark, "orders", sf_dir)
    return dedup_keep_first(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"]
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


# ---------------------------------------------------------------------------
# L1/top-k — ORDER BY + LIMIT with pinned total order
# ---------------------------------------------------------------------------
@query(
    "top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "limit"),
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by measure (L1 generalized to ordered top-k).

    Catalyst plans this as TakeOrderedAndProject — per-partition
    top-10 then a driver merge of 10-row heaps; no global sort.
    """
    return (
        load(spark, "orders", sf_dir)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# J1-style FK joins + agg
# ---------------------------------------------------------------------------
@query(
    "revenue_by_nation",
    oracle="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                AS DOUBLE)           AS revenue,
           CAST(COUNT(*) AS BIGINT)  AS n_items
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY r_name, n_name
    """,
    tags=("join", "agg", "multiway"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way star join → revenue per nation.

    Join order: fact-to-fact (orders⋈lineitem) shuffles on orderkey;
    all dimension joins broadcast (region/nation/customer are tiny
    fractions of lineitem at every SF). The orderdate filter pushes
    into the orders scan before the join.
    """
    r = load(spark, "region", sf_dir)
    n = load(spark, "nation", sf_dir)
    c = load(spark, "customer", sf_dir)
    o = load(spark, "orders", sf_dir).filter(F.col("o_orderdate") >= "1996-01-01")
    li = load(spark, "lineitem", sf_dir)
    dims = F.broadcast(
        c.join(n, c["c_nationkey"] == n["n_nationkey"]).join(
            r, n["n_regionkey"] == r["r_regionkey"]
        )
    )
    revenue = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(dims, o["o_custkey"] == dims["c_custkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# DISTINCT (§2.3)
# ---------------------------------------------------------------------------
@query(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
    tags=("distinct",),
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — planned as a hash aggregate with map-side partials."""
    return load(spark, "customer", sf_dir).select("c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# Window functions (§2.5 completions)
# ---------------------------------------------------------------------------
@query(
    "top_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part
    ) WHERE rn <= 3
    """,
    tags=("window", "topk-per-group"),
)
def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (deterministic tiebreak) via the two-phase
    partial-merge :func:`~..operators.topk.grouped_topk` — per-brand
    window ranking would sort each brand's full slice (~4% of the
    table for 25 brands) in ONE task at any scale; the two-phase form
    caps every task at k rows per (brand, input-partition)."""
    from ..operators.topk import grouped_topk

    return grouped_topk(
        load(spark, "part", sf_dir),
        ["p_brand"],
        [("p_retailprice", False), ("p_partkey", True)],
        3,
        rn_col="rn",
    ).select("p_brand", "p_partkey", "p_retailprice", "rn")


@query(
    "running_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
    tags=("window", "frame"),
)
def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend — running frame sum (exact decimal)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, "orders", sf_dir).select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


# ---------------------------------------------------------------------------
# U4 — deterministic train/val/test split
# ---------------------------------------------------------------------------
@query(
    "split_distribution",
    oracle=f"""
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT {split_label_sql("o_orderkey")} AS split FROM orders)
    GROUP BY split
    """,
    tags=("split", "reference-parity"),
)
def split_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64/16/20 hash-bucket split distribution (U4) — a pure
    projection (no shuffle) followed by a 3-group aggregate."""
    return (
        assign_split(load(spark, "orders", sf_dir), "o_orderkey")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "split_assignment",
    oracle=f"""
    SELECT o_orderkey, {split_label_sql("o_orderkey")} AS split
    FROM orders WHERE o_orderkey % 29 = 0
    """,
    tags=("split", "reference-parity"),
)
def split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level split labels (sampled) — verifies per-key assignment,
    not just the aggregate ratio."""
    o = load(spark, "orders", sf_dir).filter(F.col("o_orderkey") % 29 == 0)
    return assign_split(o, "o_orderkey").select("o_orderkey", "split")


# ---------------------------------------------------------------------------
# P1/C1 — projection, rename, literals, filename building
# ---------------------------------------------------------------------------
@query(
    "project_rename_filename",
    oracle="""
    SELECT p_partkey AS object_id,
           CAST(p_partkey AS VARCHAR) || '.jpg' AS filename,
           upper(p_brand) AS brand,
           'catalog' AS source
    FROM part WHERE p_size >= 40
    """,
    tags=("projection", "reference-parity"),
)
def project_rename_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 projection+rename+literal and C1 filename interpolation
    (``f"{obj_id}.jpg"``, src/ingestion.py:65) as JVM-side concat."""
    return (
        load(spark, "part", sf_dir)
        .filter(F.col("p_size") >= 40)
        .select(
            F.col("p_partkey").alias("object_id"),
            F.concat(F.col("p_partkey").cast("string"), F.lit(".jpg")).alias(
                "filename"
            ),
            F.upper("p_brand").alias("brand"),
            F.lit("catalog").alias("source"),
        )
    )
