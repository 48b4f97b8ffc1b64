"""Snapshot diff: classify rows as added / removed / changed between
two versions of a keyed table.

The reference's pipeline re-lists the source and skips already-loaded
ids each run (the incremental skip, SURVEY.md §2.2 F3);
a snapshot diff is the general form of that question — "what changed
between these two table versions?" — answered distributively.

Scale shape: ONE full-outer join on the key — the irreducible cost of
a diff. Both sides should be pruned to key + tracked columns before
calling; with both snapshots bucketed by the key the Exchange
disappears entirely. For wide rows, pass a single md5 row-hash as the
one tracked column instead of comparing column-by-column.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff_frames(
    old: DataFrame,
    new: DataFrame,
    key: str,
    tracked: Sequence[str],
) -> DataFrame:
    """Diff two table versions on ``key``, comparing ``tracked``
    columns; unchanged rows are dropped. ``key`` must be unique
    within each snapshot (CDC semantics) — duplicate keys fan out
    through the full-outer join and produce one diff row per pair.

    Returns ``key, change_type ('added'|'removed'|'changed'),
    old_<c>, new_<c>`` for each tracked column ``c``.

    A NULL key is treated as an ordinary (single) key value on both
    sides — null-safe join + presence flags, so a NULL-keyed old row
    classifies as removed/changed, never as a spurious 'added'. An
    empty ``tracked`` degrades to a key-only added/removed diff.

    Spark full-outer gotcha (pinned in tests/test_diff.py): after
    ``a.join(b, "key", "full_outer")`` the key is coalesced and
    ``b["key"].isNull()`` silently stops detecting the missing side —
    so the keys are renamed apart and coalesced explicitly here.
    """
    # presence flags, not key-nullness: a NULL key VALUE in a snapshot
    # is indistinguishable from a join miss by key-nullness alone (a
    # NULL-keyed old row would misclassify as 'added'); the null-safe
    # join lets NULL compare equal as an ordinary key value.
    a = old.select(
        F.col(key).alias("__a_key"),
        F.lit(1).alias("__a_present"),
        *[F.col(c).alias(f"old_{c}") for c in tracked],
    )
    b = new.select(
        F.col(key).alias("__b_key"),
        F.lit(1).alias("__b_present"),
        *[F.col(c).alias(f"new_{c}") for c in tracked],
    )
    d = a.join(b, a["__a_key"].eqNullSafe(b["__b_key"]), "full_outer")
    # empty tracked = key-only diff: only added/removed are
    # detectable, nothing ever classifies as 'changed'
    differs = F.lit(False)
    for c in tracked:
        differs = differs | ~(F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")))
    change = (
        F.when(F.col("__a_present").isNull(), "added")
        .when(F.col("__b_present").isNull(), "removed")
        .when(differs, "changed")
    )
    out_cols = [f"old_{c}" for c in tracked] + [f"new_{c}" for c in tracked]
    return (
        d.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce("__a_key", "__b_key").alias(key),
            "change_type",
            *out_cols,
        )
    )
