"""Query registry.

Every operator from SURVEY.md §2 (plus the training-data-pipeline
extensions) registers a named query here: a DataFrame builder
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, an exact
DuckDB oracle. ``tools/check_correctness.py`` hashes both sides
(order-insensitive), so builders alias every computed column to match
the oracle exactly.

Cross-engine determinism rules used throughout the query modules:
- money aggregates go through DECIMAL (exact associative sum) and are
  cast to DOUBLE at the end — identical bits on both engines,
  independent of partitioning/order;
- every aggregate/computed column is aliased identically on both
  sides;
- DuckDB ``SUM(int)`` returns HUGEINT and is always cast to BIGINT;
- no ORDER BY dependence — the oracle compare is order-insensitive,
  LIMIT queries pin a total order first.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "Query"] = {}

#: query modules loaded by :func:`all_queries`
_QUERY_MODULES = (
    "museum_image_etl_gridfs_spark.plans.queries_core",
    "museum_image_etl_gridfs_spark.plans.queries_pipeline",
    "museum_image_etl_gridfs_spark.plans.queries_text",
    "museum_image_etl_gridfs_spark.plans.queries_dedup",
    "museum_image_etl_gridfs_spark.plans.queries_vector",
    "museum_image_etl_gridfs_spark.plans.queries_events",
    "museum_image_etl_gridfs_spark.plans.queries_images",
    "museum_image_etl_gridfs_spark.plans.queries_joins",
    "museum_image_etl_gridfs_spark.plans.queries_olap",
    "museum_image_etl_gridfs_spark.plans.queries_tpch_extra",
    "museum_image_etl_gridfs_spark.plans.queries_tpch_close",
    "museum_image_etl_gridfs_spark.plans.queries_traindata",
    "museum_image_etl_gridfs_spark.plans.queries_quality",
    "museum_image_etl_gridfs_spark.plans.queries_profile",
    "museum_image_etl_gridfs_spark.plans.queries_funnel",
    "museum_image_etl_gridfs_spark.plans.queries_analytics",
    "museum_image_etl_gridfs_spark.plans.queries_stats",
)


@dataclass(frozen=True)
class Query:
    name: str
    build: Builder
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


def query(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable[[Builder], Builder]:
    """Decorator registering a named query with its oracle SQL."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name, fn, oracle, tuple(tags), fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Import all query modules and return the full registry in
    registration order: module order in :data:`_QUERY_MODULES`, then
    decorator order within a module."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    rank = {mod: i for i, mod in enumerate(_QUERY_MODULES)}
    # a module imported directly before the first call registers early;
    # the stable sort restores module order and keeps decorator order
    ordered = sorted(_REGISTRY.values(), key=lambda q: rank[q.build.__module__])
    return {q.name: q for q in ordered}
