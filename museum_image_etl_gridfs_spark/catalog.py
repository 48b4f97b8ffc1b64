"""Table catalog over the driver-provided Parquet fixtures.

The reference's "catalog" is five implicit MongoDB collections
(SURVEY.md §1.1); here every table is an explicit Parquet scan so
Catalyst gets pushdown/pruning for free. ``load`` is lazy — a scan
node, not a materialization (the reference's ``list(find({}))`` full
materialization at ``src/transform_load.py:25`` is the anti-pattern
we explicitly do not reproduce).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor.
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-tz TIMESTAMP regardless of
    how the fixture was written.

    The driver's fixtures have shipped two physical layouts so far:
    TIMESTAMP(NANOS) — which the vectorized reader only accepts as raw
    int64 via ``nanosAsLong`` — and TIMESTAMP(MICROS) with
    ``isAdjustedToUTC=false``, which surfaces as TIMESTAMP_NTZ. Both
    batch (:func:`load`) and streaming (``streaming.events_stream``)
    paths share this one function so they cannot diverge again.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        # raw nanos: `ts div 1000` is exact long division; `ts / 1000`
        # would round through a double (1 µs off near .9995 boundaries)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # session tz is pinned to UTC (session.py), so NTZ→TIMESTAMP
        # is a pure type change with identical instants
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Lazy Parquet scan of one fixture table.

    ``events.ts`` physical type varies by fixture generation; see
    :func:`normalize_events_ts`.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    sf_dir = sf_dir or sf_dir_from_env()
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_events_ts(spark.read.parquet(path))
    return spark.read.parquet(path)
