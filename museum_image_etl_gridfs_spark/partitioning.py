"""Scale-conditional repartitioning for CPU-bound stages.

CPU-bound stages (sketching, hashing, vector scoring, codec UDFs) need
parallelism that tracks *cores*, not input bytes: a small input — one
parquet row group — arrives as a single partition and would otherwise
run the whole Python stage on one core, and AQE cannot help because it
coalesces by byte size.

The naive fix, an unconditional ``repartition(defaultParallelism,
key)``, is wrong at the other end of the scale: on a 100 TB input the
scan's own splits already provide ample parallelism, and the forced
exchange both shuffles the full corpus and *collapses* hundreds of
thousands of scan splits down to ``defaultParallelism`` multi-GB
tasks.

:func:`spread` resolves the tension: it repartitions only when the
input's current partition count is below the target, so fixtures get
their cores while large scans keep their splits untouched (the
Exchange disappears from the plan entirely — pinned by
``tests/test_plan_audit.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(
    df: DataFrame, *key_cols: str, target: int | None = None
) -> DataFrame:
    """Spread ``df`` across cores for a CPU-bound stage, if under-split.

    Returns ``df`` unchanged when it already has >= ``target``
    partitions (default ``sparkContext.defaultParallelism``), else
    ``df.repartition(target, *key_cols)``. Key columns make the
    exchange deterministic by content rather than round-robin, which
    keeps downstream mapInPandas output stable across runs.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)

