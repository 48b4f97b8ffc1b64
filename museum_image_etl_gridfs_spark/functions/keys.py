"""Portable deterministic hashing.

``portable_bucket`` is a multiplicative hash (Knuth's 2654435761)
expressible identically in Spark and ANSI SQL — used for the
train/val/test split (U4) and anywhere a seeded, scale-stable,
oracle-checkable pseudo-random assignment is needed. Unlike
``F.hash`` (Murmur3, Spark-specific) it cross-checks against DuckDB,
and unlike sklearn's permutation split (``src/transform_load.py:
132-133``) it is stable under repartitioning and data growth.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KNUTH = 2654435761  # golden-ratio multiplier

_M32 = 2**32


def portable_bucket(key: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from an integer key.

    ``(key * 2654435761) mod 2^32 mod n`` for any int64 key. The key is
    reduced mod 2^32 first and multiplied in two 16-bit halves, so no
    intermediate leaves int64 (a raw ``key * KNUTH`` overflows once
    |key| ≥ 2^63 / KNUTH, about 3.47e9).
    """
    c = F.col(key) if isinstance(key, str) else key
    k = F.pmod(c.cast("long"), F.lit(_M32))
    lo = k.bitwiseAND(0xFFFF) * KNUTH
    hi = F.shiftright(k, 16) * KNUTH % 65536 * 65536
    return ((lo + hi) % _M32 % n_buckets).cast("int")


def portable_bucket_sql(key_sql: str, n_buckets: int = 100) -> str:
    """The DuckDB-side rendering of :func:`portable_bucket`."""
    k = f"((({key_sql}) % {_M32} + {_M32}) % {_M32})"
    lo = f"(({k} & 65535) * {KNUTH})"
    hi = f"(((({k} >> 16) * {KNUTH}) % 65536) * 65536)"
    return f"CAST((({lo} + {hi}) % {_M32}) % {n_buckets} AS INTEGER)"
