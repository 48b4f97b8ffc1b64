"""Train/validation/test split assignment (U4).

Reference: two seeded ``sklearn.train_test_split`` calls with
``test_size=0.20`` each (``src/transform_load.py:132-133``) — a
64/16/20 split (README's "80/10/10" is wrong, see SURVEY.md §0).

sklearn's exact permutation is neither reproducible in a distributed
engine nor part of the contract; the contract (FIXTURES.md F-6) is:
disjoint, exhaustive, ≈64/16/20, deterministic under a seed, stable
under repartitioning/reordering. We satisfy it with a portable
multiplicative-hash bucket per row key — no shuffle at all (a pure
projection), stable as data grows (a row keeps its split forever,
which sklearn's permutation does not guarantee when rows are added —
strictly better for 100 TB incremental pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.keys import portable_bucket, portable_bucket_sql

#: cumulative percentage cut points: [0,64) train, [64,80) validation, [80,100) test
TRAIN_CUT = 64
VAL_CUT = 80


def split_label(key: Column | str, seed: int = 42) -> Column:
    """'train' | 'validation' | 'test' from an integer row key; NULL
    for a NULL key (a row with no key belongs to no split)."""
    c = F.col(key) if isinstance(key, str) else key
    bucket = portable_bucket(c + F.lit(seed), 100)
    return (
        F.when(bucket < TRAIN_CUT, F.lit("train"))
        .when(bucket < VAL_CUT, F.lit("validation"))
        .when(bucket.isNotNull(), F.lit("test"))
    )


def split_label_sql(key_sql: str, seed: int = 42) -> str:
    """DuckDB rendering of :func:`split_label` (for oracle checks)."""
    bucket = portable_bucket_sql(f"({key_sql}) + {seed}", 100)
    return (
        f"CASE WHEN {bucket} < {TRAIN_CUT} THEN 'train' "
        f"WHEN {bucket} < {VAL_CUT} THEN 'validation' "
        f"WHEN {bucket} IS NOT NULL THEN 'test' END"
    )


def assign_split(df: DataFrame, key: str, seed: int = 42) -> DataFrame:
    """Add a ``split`` column keyed on ``key``."""
    return df.withColumn("split", split_label(key, seed))
