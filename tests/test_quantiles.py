"""ntile_exact (operators/quantiles.py) must reproduce Spark's own
ntile() over the same total order — on uniform, skewed, tied, and
remainder-heavy inputs — without ever planning a global window."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.operators.quantiles import (
    global_row_number,
    ntile_exact,
    running_totals,
)


def _reference(df, keys, k):
    w = Window.orderBy(*keys)  # fine at test scale
    return df.withColumn("bucket", F.ntile(k).over(w))


def _assert_matches(df, keys, k):
    got = ntile_exact(df, keys, k).select(*keys, "bucket")
    want = _reference(df, keys, k).select(*keys, "bucket")
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0


@pytest.mark.parametrize("k", [3, 7, 10])
def test_uniform_values_match_spark_ntile(spark, k):
    rows = [(float(i % 97), i) for i in range(500)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    _assert_matches(df, ["v", "id"], k)


def test_heavy_value_skew_matches(spark):
    # 80% of rows share one hot value -> one wide width_bucket range
    rows = [(1.0 if i % 5 else float(i), i) for i in range(400)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    _assert_matches(df, ["v", "id"], 10)


def test_remainder_distribution_first_buckets_bigger(spark):
    rows = [(float(i), i) for i in range(23)]  # 23 = 2*10 + 3
    df = spark.createDataFrame(rows, "v double, id long")
    sizes = (
        ntile_exact(df, ["v", "id"], 10)
        .groupBy("bucket").count().orderBy("bucket").collect()
    )
    assert [r["count"] for r in sizes] == [3, 3, 3, 2, 2, 2, 2, 2, 2, 2]


def test_constant_column_degenerates_gracefully(spark):
    rows = [(5.0, i) for i in range(30)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(4)
    _assert_matches(df, ["v", "id"], 10)


def test_no_single_task_window_in_plan(spark):
    rows = [(float(i), i) for i in range(100)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(4)
    out = ntile_exact(df, ["v", "id"], 10)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # a global (unpartitioned) window would plan Exchange SinglePartition
    assert "SinglePartition" not in plan


def test_null_lead_key_rejected(spark):
    rows = [(None, 1), (2.0, 2), (3.0, 3)]
    df = spark.createDataFrame(rows, "v double, id long")
    with pytest.raises(ValueError, match="NULL values in lead key"):
        ntile_exact(df, ["v", "id"], 2)


def test_property_random_data_matches_spark_ntile(spark):
    """Hypothesis-style randomized check (fixed seeds, no Spark-in-
    hypothesis overhead): any value distribution + any k must match
    Spark's ntile exactly."""
    import random

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(1, 300)
        k = rng.randint(2, 12)
        dup_pool = [rng.uniform(-1e6, 1e6) for _ in range(max(n // 10, 1))]
        rows = [
            (rng.choice(dup_pool) if rng.random() < 0.5
             else rng.uniform(-1e6, 1e6), i)
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "v double, id long").repartition(5)
        _assert_matches(df, ["v", "id"], k)


def test_nan_lead_key_rejected(spark):
    """width_bucket(NaN) -> NULL pid would silently DROP rows through
    the offsets inner join; refuse NaN like NULL instead."""
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 3.0)], "id long, x double"
    )
    with pytest.raises(ValueError, match="NaN"):
        ntile_exact(df, ["x", "id"], 2, out_col="b").collect()


# ---- global_row_number / running_totals (shared machinery) ----


def test_global_row_number_matches_spark_window(spark):
    rows = [(float(i % 53), i) for i in range(400)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    got = global_row_number(df, ["v", "id"], out_col="rn")
    want = df.withColumn("rn", F.row_number().over(Window.orderBy("v", "id")))
    assert got.select("v", "id", "rn").subtract(want.select("v", "id", "rn")).count() == 0
    assert want.select("v", "id", "rn").subtract(got.select("v", "id", "rn")).count() == 0


def test_global_row_number_no_single_partition_exchange(spark):
    rows = [(float(i), i) for i in range(100)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(4)
    out = global_row_number(df, ["v", "id"])
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan


def test_running_totals_matches_global_window(spark):
    import random

    rng = random.Random(7)
    rows = [(float(rng.randint(0, 40)), i, rng.randint(1, 9), rng.randint(0, 5))
            for i in range(300)]
    df = spark.createDataFrame(rows, "v double, id long, a long, b long")
    df = df.repartition(6)
    got = running_totals(df, ["v", "id"], ["a", "b"])
    w = (
        Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cum_a", F.sum("a").over(w)).withColumn(
        "cum_b", F.sum("b").over(w)
    )
    cols = ["v", "id", "cum_a", "cum_b"]
    assert got.select(*cols).subtract(want.select(*cols)).count() == 0
    assert want.select(*cols).subtract(got.select(*cols)).count() == 0


def test_running_totals_decimal_values_exact(spark):
    rows = [(float(i % 11), i, f"{i}.25") for i in range(50)]
    df = spark.createDataFrame(rows, "v double, id long, m string")
    df = df.select("v", "id", F.col("m").cast("decimal(10,2)").alias("m"))
    got = running_totals(df, ["v", "id"], ["m"])
    w = (
        Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = df.withColumn("cum_m", F.sum("m").over(w))
    a = {(r["id"]): r["cum_m"] for r in got.collect()}
    b = {(r["id"]): r["cum_m"] for r in want.collect()}
    assert a == b


def test_running_totals_empty_input(spark):
    df = spark.createDataFrame([], "v double, id long, a long")
    out = running_totals(df, ["v", "id"], ["a"])
    assert out.count() == 0
    assert "cum_a" in out.columns


def test_running_totals_rejects_partial_nulls(spark):
    """ADVICE r3: a value column with SOME NULLs used to pass the
    bucket-sum NULL check but yield NULL running totals for rows
    before a bucket's first non-NULL — refuse loudly instead."""
    df = spark.createDataFrame(
        [(i, None if i == 7 else i * 10) for i in range(20)],
        "id long, a long",
    )
    with pytest.raises(ValueError, match="NULL values in 'a'"):
        running_totals(df, ["id"], ["a"]).collect()


# ---- bucket balance under heavy-tailed lead keys (ADVICE r4) ----


def _max_bucket_frac(df, keys):
    from museum_image_etl_gridfs_spark.operators.quantiles import (
        _with_range_pid,
    )

    t = _with_range_pid(df, keys)
    sizes = [r["count"] for r in t.groupBy("__pid").count().collect()]
    return max(sizes) / sum(sizes)


def test_zipf_vocab_rank_is_balanced_and_exact(spark):
    """A Zipf vocabulary: ~90% of tokens have document frequency 1.
    A string second key has no monotone encoding, so the hot df=1
    value stays in one bucket — the produced rank must still be the
    exact total order."""
    rows = [(1, f"tok_{i:06d}") for i in range(1800)] + [
        (2 + i % 40, f"hot_{i:04d}") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "df long, tok string").repartition(8)
    got = global_row_number(df, ["df", "tok"], out_col="rn")
    want = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("df", "tok"))
    )
    cols = ["df", "tok", "rn"]
    assert got.select(*cols).subtract(want.select(*cols)).count() == 0
    assert want.select(*cols).subtract(got.select(*cols)).count() == 0


def test_dominant_numeric_value_is_balanced_and_exact(spark):
    """90% of rows share one lead value with a numeric tiebreaker —
    the sub-split keys on the second column's double encoding."""
    rows = [(5.0 if i % 10 else float(i), i) for i in range(3000)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    assert _max_bucket_frac(df, ["v", "id"]) < 0.25
    _assert_matches(df, ["v", "id"], 10)


def test_lognormal_tail_is_balanced(spark):
    """Continuous skew (no single hot value): count-balanced quantile
    split points must bound every bucket even when 99% of the VALUE
    RANGE holds 1% of the rows."""
    import math
    import random

    rng = random.Random(3)
    rows = [(math.exp(rng.gauss(0.0, 2.0)), i) for i in range(4000)]
    df = spark.createDataFrame(rows, "v double, id long").repartition(8)
    assert _max_bucket_frac(df, ["v", "id"]) < 0.15


def test_hot_value_without_second_key_stays_exact(spark):
    """No tiebreaker -> the hot value cannot be sub-split; it must
    degrade to one (documented) wide bucket, never to wrong totals."""
    rows = [(7.0 if i % 4 else float(i % 13),) for i in range(200)]
    df = spark.createDataFrame(rows, "v double").repartition(4)
    got = running_totals(
        df.withColumn("one", F.lit(1)), ["v"], ["one"]
    )
    # ranks within the tied value are arbitrary but the cumulative
    # count at each distinct value boundary is order-determined
    import collections

    per_v = collections.Counter(r["v"] for r in df.collect())
    boundary = {}
    acc = 0
    for v in sorted(per_v):
        acc += per_v[v]
        boundary[v] = acc
    got_max = (
        got.groupBy("v").agg(F.max("cum_one").alias("m")).collect()
    )
    assert {r["v"]: r["m"] for r in got_max} == boundary
