"""localCheckpoint lifecycle: a session composing many near-dup /
component queries must be able to return executor storage to
baseline via the caller-scoped release hook (operators/lifecycle.py).
Closes the one unbounded resource in the engine (NOTES.md
"localCheckpoint lifecycle")."""

from __future__ import annotations

import pytest

from museum_image_etl_gridfs_spark.operators.components import (
    connected_components,
)
from museum_image_etl_gridfs_spark.operators.dedup import minhash_near_duplicates
from museum_image_etl_gridfs_spark.operators.lifecycle import (
    release_checkpoints,
    tracked_local_checkpoint,
)
from museum_image_etl_gridfs_spark.operators.spans import duplicated_spans


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
    assert release_checkpoints(spark) == 1
    assert _persistent_rdds(spark) == base
    assert release_checkpoints(spark) == 0


def test_twenty_query_session_storage_returns_to_baseline(spark):
    """The VERDICT r5 acceptance test: >=20 checkpointing near-dup /
    component queries composed in one session, storage back to
    baseline after release."""
    base = _persistent_rdds(spark)
    same = "the quick brown fox jumps over the lazy dog"
    # 6 identical documents (one star of 5 pairs, one full-length span
    # each) and 6 whose tokens occur nowhere else.
    docs = spark.range(12).selectExpr(
        "id as doc_id",
        f"if(id < 6, '{same}', "
        "concat_ws(' ', 'a' || id, 'b' || id, 'c' || id, 'd' || id)) as text",
    )
    # 30 stars
    edges = spark.range(300).selectExpr("id % 30 as id_a", "id as id_b")

    for i in range(10):
        pairs = minhash_near_duplicates(
            docs, "doc_id", "text", k=3, num_hashes=16, bands=4
        )
        assert pairs.count() == 5
        assert release_checkpoints(spark) == 1
        spans = duplicated_spans(docs, k=3)
        assert spans.count() == 6
        assert release_checkpoints(spark) == 1
        if i < 2:  # components creates no checkpoints to release
            comps = connected_components(edges)
            assert comps.select("component").distinct().count() == 30

    assert release_checkpoints(spark) == 0
    assert _persistent_rdds(spark) == base


def test_components_caps_inflight_checkpoints(spark):
    """connected_components creates no checkpoints: nothing is tracked
    or persisted after building and running it."""
    base = _persistent_rdds(spark)
    edges = spark.range(12).selectExpr("id as id_a", "id + 1 as id_b")
    comps = connected_components(edges)
    assert comps.count() == 13
    assert release_checkpoints(spark) == 0
    assert _persistent_rdds(spark) == base


def test_released_checkpoint_cannot_be_recomputed(spark):
    """Contract check: a released local checkpoint is gone — callers
    must materialize before release. (Documents the failure mode.)"""
    df = tracked_local_checkpoint(spark.range(100), eager=True)
    assert df.count() == 100
    release_checkpoints(spark)
    with pytest.raises(Exception):
        df.count()
