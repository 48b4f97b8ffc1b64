"""Caller-scoped release of ``localCheckpoint`` storage.

Several operators truncate lineage with ``localCheckpoint`` (the
MinHash signatures in :mod:`.dedup`, the span inventory in
:mod:`.spans`, the exact-duplicate groups of the near-dup components
query, the shared edge list in the OLAP graph queries). Checkpoint
blocks live in executor MEMORY_AND_DISK until the RDD is unpersisted
or the session dies — Spark has no automatic scope for them, so a
long-lived session that composes many such queries accumulates
storage without bound (NOTES.md "localCheckpoint lifecycle"). This
module closes that hole:

- :func:`tracked_local_checkpoint` — drop-in for
  ``df.localCheckpoint(eager=...)`` that records the checkpointed
  RDD in a session-keyed registry;
- :func:`release_checkpoints` — unpersist every tracked checkpoint
  (optionally only one session's), returning the count released.

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

from pyspark.sql import DataFrame

#: (session key, JVM RDD handle) for every live tracked checkpoint, in
#: creation order. Module-level: the registry must outlive any one
#: operator call, and a process hosts few sessions.
_TRACKED: list[tuple[int, object]] = []


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
    blocks can be released by :func:`release_checkpoints` once the
    caller is done with the result.

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
    out = df.localCheckpoint(eager=eager)
    _TRACKED.append((_session_key(out), _checkpoint_rdd(out)))
    return out


def release_checkpoints(spark=None) -> int:
    """Unpersist every tracked checkpoint (of ``spark``'s session if
    given, of all sessions otherwise). Returns the number released.
    Call after materializing query results; see module contract.
    """
    key = None if spark is None else _session_key(spark)
    kept: list[tuple[int, object]] = []
    released = 0
    for entry in _TRACKED:
        if key is not None and entry[0] != key:
            kept.append(entry)
            continue
        try:
            entry[1].unpersist(False)
        except Exception:
            pass  # session already stopped — blocks died with it
        released += 1
    _TRACKED[:] = kept
    return released

