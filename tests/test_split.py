"""U4 — train/validation/test split invariants (FIXTURES.md F-6).

The contract (SURVEY.md §2.10): disjoint, exhaustive, ≈64/16/20,
deterministic under a seed, stable under repartitioning and data
growth. sklearn's exact permutation is explicitly NOT the contract.
"""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.functions.keys import (
    KNUTH,
    portable_bucket,
    portable_bucket_sql,
)
from museum_image_etl_gridfs_spark.operators.split import (
    TRAIN_CUT,
    VAL_CUT,
    assign_split,
    split_label_sql,
)


def _keys(spark, n=5000):
    return spark.range(n).select(F.col("id").alias("k"))


def test_exhaustive_and_disjoint(spark):
    df = assign_split(_keys(spark), "k")
    labels = {r["split"] for r in df.select("split").distinct().collect()}
    assert labels <= {"train", "validation", "test"}
    # one label per row (split is a pure projection => trivially disjoint)
    assert df.filter(F.col("split").isNull()).count() == 0


def test_ratios_approximately_64_16_20(spark):
    n = 20000
    counts = {
        r["split"]: r["n"]
        for r in assign_split(_keys(spark, n), "k")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert abs(counts["train"] / n - 0.64) < 0.02
    assert abs(counts["validation"] / n - 0.16) < 0.02
    assert abs(counts["test"] / n - 0.20) < 0.02


def test_stable_under_repartition(spark):
    a = assign_split(_keys(spark), "k")
    b = assign_split(_keys(spark).repartition(13), "k")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


def test_stable_under_data_growth(spark):
    """A row keeps its split when new rows arrive — the property
    sklearn's permutation split lacks, and the one that matters for
    incremental 100 TB pipelines."""
    small = assign_split(_keys(spark, 1000), "k")
    big = assign_split(_keys(spark, 5000), "k").filter(F.col("k") < 1000)
    assert small.subtract(big).count() == 0


def test_seed_changes_assignment(spark):
    a = assign_split(_keys(spark), "k", seed=42)
    b = assign_split(_keys(spark), "k", seed=43)
    assert a.subtract(b).count() > 0


def test_sql_rendering_matches_spark(spark):
    """split_label_sql is the oracle's contract — run it through
    Spark SQL and compare to the Column form row-by-row."""
    df = _keys(spark, 2000)
    df.createOrReplaceTempView("__split_keys")
    via_sql = spark.sql(
        f"SELECT k, {split_label_sql('k')} AS split FROM __split_keys"
    )
    via_col = assign_split(df, "k")
    assert via_sql.subtract(via_col).count() == 0
    assert via_col.subtract(via_sql).count() == 0


def test_null_key_gets_null_split_on_both_engines(spark):
    """A row with no key belongs to no split: both renderings give it a
    NULL label instead of falling through to 'test'."""
    df = spark.createDataFrame([(None,), (7,)], "k bigint")
    got = {r["k"]: r["split"] for r in assign_split(df, "k").collect()}
    assert got[None] is None and got[7] is not None
    df.createOrReplaceTempView("__split_null_keys")
    via_sql = spark.sql(
        f"SELECT {split_label_sql('k')} AS split FROM __split_null_keys"
        " WHERE k IS NULL"
    ).collect()
    assert via_sql[0]["split"] is None
    duck = duckdb.sql(
        f"SELECT {split_label_sql('k')} FROM (VALUES (NULL::BIGINT), (7)) t(k)"
        " ORDER BY k NULLS FIRST"
    ).fetchall()
    assert duck == [(None,), (got[7],)]


def _ref_bucket(k: int, n: int) -> int:
    """The bucket formula on unbounded Python ints."""
    return (k * KNUTH) % 2**32 % n


def _ref_split(k: int, seed: int = 42) -> str:
    b = _ref_bucket(k + seed, 100)
    return "train" if b < TRAIN_CUT else "validation" if b < VAL_CUT else "test"


def test_extreme_keys_bucket_without_overflow_on_both_engines(spark):
    """Keys whose raw ``key * KNUTH`` leaves int64 bucket like every
    other key on Spark (ANSI) and DuckDB, and the keys that always
    worked keep their old buckets."""
    rng = random.Random(7)
    extreme = [4_000_000_000, -4_000_000_000, 3_474_675_966, 2**62,
               2**63 - 1, -(2**63 - 1)]
    # |k| * KNUTH < 2^63: the range the unreduced formula handled
    ordinary = [0, 1, -1, 42] + [rng.randrange(-3_474_675_965, 3_474_675_966)
                                 for _ in range(200)]
    keys = extreme + ordinary
    n = 97
    want = {k: _ref_bucket(k, n) for k in keys}

    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    col = {r["k"]: r["b"] for r in
           df.select("k", portable_bucket("k", n).alias("b")).collect()}
    df.createOrReplaceTempView("__bucket_keys")
    via_sql = {r["k"]: r["b"] for r in spark.sql(
        f"SELECT k, {portable_bucket_sql('k', n)} AS b FROM __bucket_keys"
    ).collect()}
    values = ", ".join(f"(({k})::BIGINT)" for k in keys)
    duck = dict(duckdb.sql(
        f"SELECT k, {portable_bucket_sql('k', n)} FROM (VALUES {values}) t(k)"
    ).fetchall())
    assert col == want and via_sql == want and duck == want

    # the split adds its seed without overflowing the key's own type
    top = 2**31 - 1
    ints = spark.createDataFrame([(top,), (-top - 1,)], "k int")
    got = {r["k"]: r["split"] for r in assign_split(ints, "k").collect()}
    assert got == {top: _ref_split(top), -top - 1: _ref_split(-top - 1)}
    for typ, ks in (("INTEGER", [top, -top - 1]), ("BIGINT", [2**63 - 1])):
        values = ", ".join(f"(({k})::{typ})" for k in ks)
        duck_split = dict(duckdb.sql(
            f"SELECT k, {split_label_sql('k')} FROM (VALUES {values}) t(k)"
        ).fetchall())
        assert duck_split == {k: _ref_split(k) for k in ks}
