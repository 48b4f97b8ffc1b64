"""localCheckpoint lifecycle: a session composing many global-order /
component queries must be able to return executor storage to
baseline via the caller-scoped release hook (operators/lifecycle.py).
Closes the one unbounded resource in the engine (NOTES.md
"localCheckpoint lifecycle")."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.operators.components import (
    connected_components,
)
from museum_image_etl_gridfs_spark.operators.lifecycle import (
    checkpoint_scope,
    release_checkpoints,
    release_df,
    tracked_count,
    tracked_local_checkpoint,
)
from museum_image_etl_gridfs_spark.operators.quantiles import (
    global_row_number,
    ntile_exact,
    running_totals,
)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(autouse=True)
def _drain(spark):
    # earlier tests in the shared session may have left tracked
    # checkpoints behind; every test here does `== base` arithmetic
    # around bulk release_checkpoints, so start from a drained state.
    release_checkpoints(spark)
    yield


def test_tracked_checkpoint_round_trip(spark):
    base = _persistent_rdds(spark)
    df = tracked_local_checkpoint(
        spark.range(100).selectExpr("id", "id % 3 as k")
    )
    assert df.count() == 100
    assert _persistent_rdds(spark) == base + 1
    assert tracked_count(spark) >= 1
    assert release_checkpoints(spark) >= 1
    assert _persistent_rdds(spark) == base
    assert tracked_count(spark) == 0


def test_release_df_is_targeted(spark):
    base = _persistent_rdds(spark)
    a = tracked_local_checkpoint(spark.range(10), eager=True)
    b = tracked_local_checkpoint(spark.range(20), eager=True)
    assert _persistent_rdds(spark) == base + 2
    assert release_df(a)
    assert _persistent_rdds(spark) == base + 1
    assert b.count() == 20  # untouched checkpoint still live
    # a plain (untracked) DataFrame is a no-op, not an error
    assert not release_df(spark.range(5))
    assert release_checkpoints(spark) == 1
    assert _persistent_rdds(spark) == base


def test_checkpoint_scope_releases_only_inner(spark):
    base = _persistent_rdds(spark)
    outer = tracked_local_checkpoint(spark.range(50), eager=True)
    with checkpoint_scope(spark):
        inner = tracked_local_checkpoint(spark.range(60), eager=True)
        assert inner.count() == 60
        assert _persistent_rdds(spark) == base + 2
    assert _persistent_rdds(spark) == base + 1  # inner gone, outer alive
    assert outer.count() == 50
    release_checkpoints(spark)
    assert _persistent_rdds(spark) == base


def test_twenty_query_session_storage_returns_to_baseline(spark):
    """The VERDICT r5 acceptance test: >=20 quantile/component queries
    composed in one session, storage back to baseline after release."""
    base = _persistent_rdds(spark)
    df = spark.range(2000).selectExpr(
        "cast(id % 97 as double) as v", "id % 13 as g", "id"
    )
    # 30 stars
    edges = spark.range(300).selectExpr("id % 30 as id_a", "id as id_b")

    for i in range(7):
        with checkpoint_scope(spark):
            out = global_row_number(df, ["v", "id"], out_col="rn")
            assert out.agg(F.max("rn")).first()[0] == 2000
        with checkpoint_scope(spark):
            out = ntile_exact(df, ["v", "id"], 4, out_col="q")
            assert out.filter(F.col("q") == 4).count() > 0
        with checkpoint_scope(spark):
            out = running_totals(df, ["v", "id"], ["id"])
            assert out.count() == 2000
        if i < 2:  # components creates no checkpoints to release
            comps = connected_components(edges)
            assert comps.select("component").distinct().count() == 30

    assert tracked_count(spark) == 0
    assert _persistent_rdds(spark) == base


def test_components_caps_inflight_checkpoints(spark):
    """connected_components creates no checkpoints: nothing is tracked
    or persisted after building and running it."""
    base = _persistent_rdds(spark)
    edges = spark.range(12).selectExpr("id as id_a", "id + 1 as id_b")
    comps = connected_components(edges)
    assert comps.count() == 13
    assert tracked_count(spark) == 0
    assert _persistent_rdds(spark) == base


def test_released_checkpoint_cannot_be_recomputed(spark):
    """Contract check: a released local checkpoint is gone — callers
    must materialize before release. (Documents the failure mode.)"""
    df = tracked_local_checkpoint(spark.range(100), eager=True)
    assert df.count() == 100
    release_checkpoints(spark)
    with pytest.raises(Exception):
        df.count()
