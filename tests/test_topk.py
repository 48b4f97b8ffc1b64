"""grouped_topk (operators/topk.py) must reproduce the ANSI
``row_number() OVER (PARTITION BY g ORDER BY …) <= k`` result — on
skewed groups, groups smaller than k, DESC keys, and multi-key
orders — without a per-group sort task (VERDICT r9 #1 follow-through
/ ADVICE r9 ranking-window straggler)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.operators.topk import grouped_topk


def _reference(df, gkeys, order_cols, k):
    w = Window.partitionBy(*gkeys).orderBy(*order_cols)
    return df.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def _assert_matches(df, gkeys, order_by, k):
    order_cols = [
        F.col(c) if asc else F.col(c).desc() for c, asc in order_by
    ]
    want = _reference(df, gkeys, order_cols, k).select(*df.columns, "rn")
    got = grouped_topk(df, gkeys, order_by, k, rn_col="rn").select(
        *df.columns, F.col("rn").cast("int")
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


@pytest.mark.parametrize("k", [1, 3, 10])
def test_matches_window_topk(spark, k):
    rows = [(f"g{i % 7}", float((i * 31) % 97), i) for i in range(600)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    _assert_matches(df.repartition(8), ["g"], [("v", False), ("id", True)], k)


def test_skewed_group_and_small_groups(spark):
    """One group holds 90% of rows; some groups have fewer than k."""
    rows = [
        ("big" if i % 10 else f"tiny{i}", float(i % 13), i)
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    _assert_matches(df.repartition(8), ["g"], [("v", True), ("id", True)], 5)


def test_desc_timestamp_and_multi_key(spark):
    rows = [(f"g{i % 3}", i % 20, float(i % 5), i) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, d int, v double, id long")
    _assert_matches(
        df.repartition(4),
        ["g"],
        [("d", False), ("v", True), ("id", True)],
        4,
    )


def test_desc_string_key_rejected(spark):
    df = spark.createDataFrame([("a", "x", 1)], "g string, s string, id long")
    with pytest.raises(ValueError, match="DESC key 's'"):
        grouped_topk(df, ["g"], [("s", False), ("id", True)], 2)


def test_no_rn_col_drops_rank(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 2)], "g string, v double, id long"
    )
    out = grouped_topk(df, ["g"], [("v", True), ("id", True)], 1)
    assert out.columns == df.columns
    assert [tuple(r) for r in out.collect()] == [("a", 1.0, 1)]


def test_no_single_task_stage_in_plan(spark):
    rows = [(f"g{i % 3}", float(i), i) for i in range(200)]
    df = spark.createDataFrame(
        rows, "g string, v double, id long"
    ).repartition(4)
    out = grouped_topk(df, ["g"], [("v", False), ("id", True)], 3)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan
    assert "Window" not in plan  # two-phase agg, not a ranking window


def test_empty_input(spark):
    df = spark.createDataFrame([], "g string, v double, id long")
    out = grouped_topk(df, ["g"], [("v", True), ("id", True)], 3, rn_col="rn")
    assert out.count() == 0
    assert out.columns == ["g", "v", "id", "rn"]


def test_desc_double_nan_sorts_first_like_window(spark):
    """ADVICE r10: desc() treats NaN as the LARGEST double, so NaN
    rows must rank FIRST under a DESC double key — naive negation
    leaves NaN sorting last. The NaN-flag encoding restores window
    equivalence."""
    rows = [
        ("a", float("nan"), 1),
        ("a", 5.0, 2),
        ("a", float("nan"), 3),
        ("a", 7.0, 4),
        ("b", 1.0, 5),
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    _assert_matches(df.repartition(3), ["g"], [("v", False), ("id", True)], 3)


def test_desc_long_min_value_no_overflow(spark):
    """ADVICE r10: negating Long.MIN_VALUE wraps (or throws under
    ANSI) — the DECIMAL negation path must rank it LAST under DESC."""
    lmin = -(2**63)
    lmax = 2**63 - 1
    rows = [("a", lmin, 1), ("a", 0, 2), ("a", lmax, 3), ("a", -5, 4)]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    out = grouped_topk(
        df, ["g"], [("v", False), ("id", True)], 4, rn_col="rn"
    )
    got = {r["id"]: r["rn"] for r in out.collect()}
    assert got == {3: 1, 2: 2, 4: 3, 1: 4}


def test_map_column_rejected_with_clear_error(spark):
    """ADVICE r10: the full row rides inside the sort struct, so a
    MapType column fails at ANALYSIS time with an opaque unorderable-
    type error — raise a clear contract error instead."""
    df = spark.createDataFrame(
        [("a", 1.0, 1, {"k": "v"})],
        "g string, v double, id long, m map<string,string>",
    )
    with pytest.raises(ValueError, match="MapType"):
        grouped_topk(df, ["g"], [("v", True), ("id", True)], 2)
