"""Caller-scoped release of ``localCheckpoint`` storage.

Several operators truncate lineage with ``localCheckpoint`` (the
global-order machinery in :mod:`.quantiles`, the iterative fixpoint
of the pagerank query, the shared edge list in
the OLAP graph queries). Checkpoint blocks live in executor
MEMORY_AND_DISK until the RDD is unpersisted or the session dies —
Spark has no automatic scope for them, so a long-lived session that
composes many such queries accumulates storage without bound
(NOTES.md "localCheckpoint lifecycle"). This module closes that hole:

- :func:`tracked_local_checkpoint` — drop-in for
  ``df.localCheckpoint(eager=...)`` that records the checkpointed
  RDD in a session-keyed registry;
- :func:`release_checkpoints` — unpersist every tracked checkpoint
  (optionally only one session's), returning the count released;
- :func:`release_df` — unpersist one tracked checkpoint early
  (iterative operators release round ``i`` once round ``i+1`` is
  materialized, capping in-flight storage at O(1) rounds);
- :func:`checkpoint_scope` — context manager releasing exactly the
  checkpoints created inside the ``with`` block.

Contract: a *local* checkpoint cannot be recomputed once released —
its lineage was truncated at materialization. Callers must fully
materialize (collect / write) every result derived from a tracked
checkpoint BEFORE releasing it; re-executing such a DataFrame
afterwards fails with a missing-block error. That is the price of an
explicit lifecycle and the reason release is caller-scoped rather
than automatic.

The checkpointed RDD is reached through the Dataset's analyzed plan:
``Dataset.localCheckpoint`` returns a Dataset whose logical plan is
exactly ``LogicalRDD(checkpointed rdd)`` (Spark
``Dataset.checkpoint``), so ``analyzed().rdd()`` is the handle
``unpersist`` needs. The registry holds that JVM handle plus the
session's JVM hash so sessions don't release each other's blocks.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

#: (token, session key, rdd id, JVM RDD handle) for every live tracked
#: checkpoint, in creation order. Module-level: the registry must
#: outlive any one operator call, and a process hosts few sessions.
#: ``token`` is a monotonically increasing creation stamp —
#: :func:`checkpoint_scope` compares tokens, not ``id()``s, because
#: CPython reuses freed object ids within a scope.
_TRACKED: list[tuple[int, int, int, object]] = []
_NEXT_TOKEN = 0


def _session_key(df_or_spark) -> int:
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return spark._jsparkSession.hashCode()


def _checkpoint_rdd(df: DataFrame):
    """JVM handle of the RDD backing a just-checkpointed DataFrame."""
    plan = df._jdf.queryExecution().analyzed()
    name = plan.getClass().getName()
    if not name.endswith("LogicalRDD"):  # Spark contract drifted
        raise RuntimeError(
            f"expected LogicalRDD under a checkpointed Dataset, got {name}"
        )
    return plan.rdd()


def tracked_local_checkpoint(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager=eager)`` + registry entry so the
    blocks can be released by :func:`release_checkpoints` /
    :func:`checkpoint_scope` once the caller is done with the result.

    The registry deliberately holds a STRONG py4j handle: the entry
    must stay releasable even after the caller drops its Python
    DataFrame (the JVM blocks outlive the wrapper). The trade is that
    ContextCleaner's GC-driven unpersist cannot reclaim a tracked
    checkpoint — so every long-lived production loop over queries
    (perfbench/run.py, tools/check_correctness.py) calls
    :func:`release_checkpoints` between queries; a weakref registry
    was considered and rejected because an entry untracked at wrapper
    death is exactly the entry ``release_checkpoints`` was about to
    free (tests/test_lifecycle.py pins the storage-returns-to-baseline
    contract).
    """
    global _NEXT_TOKEN
    out = df.localCheckpoint(eager=eager)
    jrdd = _checkpoint_rdd(out)
    token = _NEXT_TOKEN = _NEXT_TOKEN + 1
    _TRACKED.append((token, _session_key(out), jrdd.id(), jrdd))
    return out


def release_df(df: DataFrame) -> bool:
    """Release ONE tracked checkpoint early (iterative loops retire
    round ``i`` as soon as round ``i+1`` is materialized). True if the
    DataFrame was a live tracked checkpoint; False (no-op) otherwise.
    """
    try:
        rid = _checkpoint_rdd(df).id()
    except Exception:
        return False
    for i, (_, _, tracked_id, jrdd) in enumerate(_TRACKED):
        if tracked_id == rid:
            jrdd.unpersist(False)
            del _TRACKED[i]
            return True
    return False


def release_checkpoints(spark=None) -> int:
    """Unpersist every tracked checkpoint (of ``spark``'s session if
    given, of all sessions otherwise). Returns the number released.
    Call after materializing query results; see module contract.
    """
    key = None if spark is None else _session_key(spark)
    kept: list[tuple[int, int, int, object]] = []
    released = 0
    for entry in _TRACKED:
        if key is not None and entry[1] != key:
            kept.append(entry)
            continue
        try:
            entry[3].unpersist(False)
        except Exception:
            pass  # session already stopped — blocks died with it
        released += 1
    _TRACKED[:] = kept
    return released


def tracked_count(spark=None) -> int:
    """Live tracked checkpoints (for tests / storage audits)."""
    if spark is None:
        return len(_TRACKED)
    key = _session_key(spark)
    return sum(1 for e in _TRACKED if e[1] == key)


@contextmanager
def checkpoint_scope(spark=None) -> Iterator[None]:
    """Release, on exit, exactly the checkpoints created inside the
    block (for ``spark``'s session if given). Results derived from
    them must be materialized before the block ends.

    Scope membership is decided by creation token, not object
    identity: an id()-based snapshot breaks when CPython reuses a
    freed entry's id for one created inside the block.
    """
    high_water = _NEXT_TOKEN
    try:
        yield
    finally:
        key = None if spark is None else _session_key(spark)
        kept, to_release = [], []
        for e in _TRACKED:
            if e[0] > high_water and (key is None or e[1] == key):
                to_release.append(e)
            else:
                kept.append(e)
        for e in to_release:
            try:
                e[3].unpersist(False)
            except Exception:
                pass
        _TRACKED[:] = kept
