"""Training-shard layout: the LAST step of a data pipeline — turn a
curated corpus into N fixed shards in a deterministic pseudo-random
order, so every training run (and every engine) sees byte-identical
shard contents without any RNG state or global sort.

Why not ``orderBy(rand())``: non-reproducible across runs/partitioning
and a full global sort at 100 TB. Instead both the shard id and the
intra-shard position derive from a portable md5 prefix (same
construction as ``functions/quality.py::hash_bucket``, widened with a
salt), so:

- shard assignment is a narrow per-row expression (no shuffle);
- the "global shuffle" is hash-ordering: sorting each shard by the
  hash value yields an order uncorrelated with source order;
- changing ``salt`` reshuffles everything deterministically (epoch
  re-ordering for free);
- any engine can recompute the layout to audit it (DuckDB oracle in
  the registry's ``training_shards``).

At 100 TB: one Exchange on ``shard`` (clustering writes so each
output directory is written by one task wave) + an in-partition sort
— no global sort, no skew (md5 is uniform), shard count chosen so
each shard ≈ a few GB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shard_key(key: Column | str, *, salt: str = "v1") -> Column:
    """64-bit-safe deterministic position: first 8 hex digits of
    ``md5(key || ':' || salt)`` as a BIGINT in [0, 2^32)."""
    k = F.col(key) if isinstance(key, str) else key
    hex8 = F.substring(F.md5(F.concat(k.cast("string"), F.lit(":" + salt))), 1, 8)
    return F.conv(hex8, 16, 10).cast("long")


def assign_shards(
    df: DataFrame, key: str, n_shards: int, *, salt: str = "v1"
) -> DataFrame:
    """Add ``shard_pos`` (deterministic pseudo-random BIGINT) and
    ``shard`` = ``shard_pos % n_shards``. Pure projection — no
    shuffle, stable under repartitioning."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    pos = shard_key(key, salt=salt)
    return df.withColumn("shard_pos", pos).withColumn(
        "shard", (F.col("shard_pos") % n_shards).cast("int")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    key: str,
    n_shards: int,
    *,
    salt: str = "v1",
) -> None:
    """Materialize the shard layout: one directory per shard
    (``shard=K/``), rows within each shard in ``shard_pos`` order.

    ``repartition(n_shards, shard)`` clusters each shard's rows into
    one task before the partitioned write — without it every task
    would open a file in every shard directory (a small-files
    explosion).
    """
    out = assign_shards(df, key, n_shards, salt=salt)
    (
        out.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "shard_pos", key)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
